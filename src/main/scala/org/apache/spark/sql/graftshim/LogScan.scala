package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet scans planned from a table log instead of the filesystem:
  * the caller names the files and their sizes and the schema, so
  * building the DataFrame starts no listing job and no footer
  * schema-inference job — the relation `spark.read.parquet` would
  * build, minus the discovery. `StructType.asNullable`/`merge` and the
  * relation constructors are `private[sql]`, hence the shim (same
  * visibility-re-export discipline as [[ColumnShim]]). */
object LogScan {

  /** A parquet scan of exactly the given files, read with `schema`:
    * `dirs` pairs each directory with the (name, byte size) of its
    * data files. Paths are qualified the way Spark's own file index
    * qualifies them, so `_metadata.file_path` and `inputFiles` read
    * the same strings as a listed scan of the same directories. */
  def parquet(spark: SparkSession, schema: StructType,
              dirs: Seq[(String, Seq[(String, Long)])]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    // each file path is qualified on its own, as a listing qualifies the
    // statuses it returns (resolving a name against the qualified
    // directory would drop an empty authority: file:/x, not file:///x)
    val listed = dirs.map { case (d, files) =>
      val dir = new Path(d)
      val fs = dir.getFileSystem(conf)
      val root = fs.makeQualified(dir)
      root -> files.map { case (name, len) =>
        new FileStatus(len, false, 1, 0L, 0L,
          fs.makeQualified(new Path(s"${root.toUri.getPath}/$name")))
      }
    }
    val relation = HadoopFsRelation(
      new LogFileIndex(listed.map(_._1), listed.flatMap(_._2)),
      partitionSchema = new StructType(), dataSchema = schema.asNullable,
      bucketSpec = None, fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
    ColumnShim.ofRows(spark, LogicalRelation(relation))
  }

  /** The schema a scan of `file` infers (Spark's row schema stored in
    * the parquet footer, made nullable as every file scan makes it),
    * read on the driver; None when the footer carries no Spark schema. */
  def footerSchema(spark: SparkSession, file: String): Option[StructType] =
    footer(spark, file)(r => Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(s => scala.util.Try(DataType.fromJson(s)).toOption)
      .collect { case st: StructType => st.asNullable })

  /** The rows `file` holds, summed over its footer's row groups on the
    * driver. */
  def footerRows(spark: SparkSession, file: String): Long =
    footer(spark, file)(_.getRecordCount)

  private def footer[T](spark: SparkSession, file: String)(
      f: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file),
        spark.sparkContext.hadoopConfiguration))
    try f(reader) finally reader.close()
  }

  /** The schema union a `mergeSchema` scan computes: `schemas` folded
    * left to right with the session's case sensitivity. Throws on
    * incompatible types, as the merge does. */
  def merge(spark: SparkSession, schemas: Seq[StructType]): StructType = {
    val caseSensitive = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.caseSensitiveAnalysis
    schemas.reduceLeft(_.merge(_, caseSensitive))
  }
}

/** One partition-less directory of known files — the log's file list
  * standing in for a listing. Two indexes over the same files are
  * equal, as Spark's listing index is equal by its root paths, so
  * cache lookups and exchange reuse match two scans of one table. */
private class LogFileIndex(roots: Seq[Path], files: Seq[FileStatus])
    extends FileIndex {
  private def key = (roots, files.map(f => (f.getPath, f.getLen)))
  override def equals(o: Any): Boolean = o match {
    case other: LogFileIndex => key == other.key
    case _                   => false
  }
  override def hashCode: Int = roots.hashCode
  def rootPaths: Seq[Path] = roots
  def listFiles(partitionFilters: Seq[Expression],
                dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    // empty files hold no rows; Spark's own index skips them too
    Seq(PartitionDirectory(InternalRow.empty,
      files.filter(_.getLen > 0).map(FileStatusWithMetadata(_))))
  def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
  def refresh(): Unit = ()
  def sizeInBytes: Long = files.map(_.getLen).sum
  def partitionSchema: StructType = new StructType()
}
