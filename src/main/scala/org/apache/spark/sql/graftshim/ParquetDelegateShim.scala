package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Base class giving a connector OUTSIDE the sql package the
  * catalyst-expression filter pushdown channel — the one Spark's own
  * file sources speak (`SupportsPushDownCatalystFilters` is
  * `private[sql]`): `V2ScanRelationPushDown` hands the ScanBuilder the
  * optimizer's RESOLVED data filters, richer than the public v1
  * `Filter` translation and exactly what a parquet delegate needs to
  * re-push verbatim. Same shim discipline as [[ColumnShim]]: no Spark
  * internals modified, only visibility re-exported. */
abstract class CatalystPushdownScanBuilder extends ScanBuilder
    with SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns

/** The `WriteBuilder` base a connector outside the sql package needs
  * to accept streaming UPDATE mode: the engine requires the marker
  * `SupportsStreamingUpdateAsAppend` (`private[sql]`) and then treats
  * Update exactly like Append at the builder — the sink's own options
  * decide the per-batch semantics. Same visibility-re-export
  * discipline as [[CatalystPushdownScanBuilder]]. */
abstract class StreamingCapableWriteBuilder
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend

/** Spark's own parquet OUTPUT machinery re-exported for a DSv2
  * streaming write: `ParquetFileFormat.prepareWrite` builds the exact
  * `OutputWriterFactory` every Spark file sink uses (schema converter,
  * compression, legacy-format flags from the session conf), and the
  * per-task side reconstructs the Hadoop `TaskAttemptContext` the
  * factory expects — so a connector's `DataWriter`s write bytes
  * bit-identical to `df.write.parquet`, nothing re-implemented. */
object ParquetWriteDelegate {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.mapreduce.{Job, JobID, TaskID, TaskAttemptID, TaskType}
  import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
  import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
  import org.apache.spark.util.SerializableConfiguration

  /** Serializable per-plan writer environment: ships the factory and
    * the PREPARED job configuration (prepareWrite mutates it — write
    * support class, schema, codec) to the tasks. */
  case class WriterEnv(factory: OutputWriterFactory,
                       conf: SerializableConfiguration,
                       schema: StructType) {
    private def ctx(partitionId: Int, epochId: Long): TaskAttemptContextImpl =
      new TaskAttemptContextImpl(new Configuration(conf.value),
        new TaskAttemptID(
          new TaskID(new JobID("graft-txlog-stream",
            (epochId & 0x7fffffffL).toInt), TaskType.MAP, partitionId), 0))
    /** Executor-side: an OutputWriter streaming rows to `path`. */
    def open(path: String, partitionId: Int, epochId: Long): OutputWriter =
      factory.newInstance(path, schema, ctx(partitionId, epochId))
    /** `.snappy.parquet`-style suffix the factory wants on its files. */
    def extension: String = factory.getFileExtension(ctx(0, 0L))
  }

  /** The job conf carries [[graft.sources.LocalFs.writeOptions]], as a
    * `df.write` through `LocalFs.writer` does. */
  def prepare(spark: SparkSession, schema: StructType): WriterEnv = {
    val job = Job.getInstance(graft.sources.LocalFs.writeConf(spark))
    val factory = new ParquetFileFormat().prepareWrite(spark, job,
      Map.empty, schema)
    WriterEnv(factory, new SerializableConfiguration(job.getConfiguration),
      schema)
  }
}

object ParquetDelegate {
  /** Spark's own vectorized v2 parquet Scan over explicit `paths` with
    * a known `schema`: `exprs` are re-pushed through the standard
    * FileScanBuilder path (v1 translation → parquet row-group/page
    * skipping, surfaced as PushedFilters in explain) and `required`
    * prunes the read schema — so a log-format connector that has
    * already segment-pruned executes EXACTLY as a native parquet read
    * of the surviving segments (whole-stage codegen, vectorization,
    * and all). */
  def scan(spark: SparkSession, paths: Seq[String], schema: StructType,
           exprs: Seq[Expression], required: Option[StructType]): Scan = {
    val opts = new CaseInsensitiveStringMap(
      java.util.Collections.emptyMap[String, String]())
    val b = ParquetTable("txlog-delegate", spark, opts, paths, Some(schema),
      classOf[ParquetFileFormat]).newScanBuilder(opts)
    b.pushFilters(exprs)
    required.foreach(b.pruneColumns)
    b.build()
  }
}
