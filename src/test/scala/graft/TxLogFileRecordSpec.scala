package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import graft.sources.TxLog

/** The scan record each write path puts in the log (`schema=` and
  * `file=` lines): for every segment it must be exactly what a listed,
  * footer-inferred read of the segment sees — field names, types,
  * nullability and metadata, and the directory's data files with their
  * sizes — and a checkpoint must fold it without loss. */
class TxLogFileRecordSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(prefix: String = "graft-txrec"): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every live segment is recorded, and its record matches the
    * segment as Spark's own listing and inference see it. */
  private def checkRecorded(dir: String, what: String): Unit = {
    val live = TxLog.liveSegments(dir)
    val rec = TxLog.recordedFilesOf(dir)
    assert(live.nonEmpty && rec.keySet == live.toSet,
      s"$what: unrecorded live segments ${live.filterNot(rec.contains)}")
    rec.foreach { case (seg, (schema, files)) =>
      val path = s"$dir/$seg"
      val inferred = spark.read.parquet(path).schema
      // StructField equality covers name, type, nullability and metadata
      assert(schema == inferred, s"$what: $seg recorded $schema, inferred $inferred")
      val onDisk = new java.io.File(path).listFiles().toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.length).sortBy(_._1)
      assert(files == onDisk, s"$what: $seg recorded $files, on disk $onDisk")
    }
    // the log-planned scan names the same file strings a listing does
    // (deletion vectors record them as row coordinates)
    assert(TxLog.read(spark, dir).inputFiles.toSet ==
      spark.read.parquet(live.map(s => s"$dir/$s"): _*).inputFiles.toSet, what)
  }

  test("every write path records the schema and files a listed read infers") {
    val dir = freshDir()
    val labeled = new MetadataBuilder().putString("comment", "cents, signed").build()
    val base = spark.range(0, 40).select(col("id"), (col("id") % 4).as("k"),
      (col("id") * 10).as("cents", labeled), lit("x").as("s"))
    TxLog.append(base.repartition(2), dir)
    checkRecorded(dir, "append")
    TxLog.optimize(spark, dir, Seq("id"), 3, statsCols = Seq("id"))
    checkRecorded(dir, "optimize")
    TxLog.optimizeBy(spark, dir, col("k"), 2, statsCols = Seq("k"))
    checkRecorded(dir, "optimizeBy")
    TxLog.enableChangeDataFeed(dir)
    TxLog.merge(spark, dir, base.filter("id < 3").withColumn("s", lit("m")), "id")
    checkRecorded(dir, "merge")
    TxLog.update(spark, dir, "id = 5", Map("s" -> "'u'"))
    checkRecorded(dir, "update")
    TxLog.deleteRange(spark, dir, "id", "10", "12")
    checkRecorded(dir, "deleteRange")
    // schema evolution: a new column from an append
    TxLog.append(base.filter("id >= 38").withColumn("extra", lit(1.5)), dir)
    checkRecorded(dir, "evolving append")
    // two more commits put a checkpoint (version 9) between the restore
    // and its target: the fold keeps live segments' records only, so
    // the restore must carry the resurrected segments' records itself
    TxLog.append(base.filter("id = 39"), dir)
    TxLog.append(base.filter("id = 39"), dir)
    assert(TxLog.headVersion(dir) == 9)
    val before = TxLog.read(spark, dir, mergeSchema = true).collect().toSet
    TxLog.restore(dir, 1)
    checkRecorded(dir, "restore")
    assert(TxLog.read(spark, dir).count() == 40)
    assert(TxLog.read(spark, dir, asOf = TxLog.headVersion(dir) - 1,
      mergeSchema = true).collect().toSet == before)
  }

  test("a partitioned append and a streaming-sink batch record their segments") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("p"))
    TxLog.append(spark.range(0, 30).select(col("id"), (col("id") % 3).as("p")), dir)
    assert(TxLog.liveSegments(dir).size == 3)
    checkRecorded(dir, "partitioned append")

    val src = freshDir("graft-recfeed")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").write.parquet(src + "/in")
    val out = freshDir("graft-recsink")
    val q = spark.readStream.schema(spark.read.parquet(src + "/in").schema)
      .parquet(src + "/in").writeStream.format("txlog").option("path", out)
      .option("checkpointLocation", freshDir("graft-recckpt"))
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(TxLog.read(spark, out).count() == 3)
    checkRecorded(out, "streaming sink")
  }

  test("a checkpointed table and its un-checkpointed replay record the same") {
    val dir = freshDir()
    (0 until 12).foreach { i =>
      val df = spark.range(i * 5L, i * 5L + 5).select(col("id"), lit(i).as("batch"))
      TxLog.append(if (i % 4 == 3) df.withColumn("tag", lit("t")) else df, dir)
    }
    TxLog.deleteRange(spark, dir, "id", "3", "7")
    assert(new java.io.File(s"$dir/_txlog/00000009.checkpoint").isFile)
    val replay = freshDir("graft-txrec-replay")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir),
      new java.io.File(replay))
    new java.io.File(s"$replay/_txlog").listFiles()
      .filter(f => f.getName.endsWith(".checkpoint") || f.getName == "_last_checkpoint")
      .foreach(_.delete())
    for (v <- Seq(9, 11, TxLog.headVersion(dir))) {
      val cp = TxLog.recordedFilesOf(dir, v)
      assert(cp.size == TxLog.liveSegments(dir, v).size)
      assert(cp == TxLog.recordedFilesOf(replay, v), s"version $v")
    }
    checkRecorded(dir, "checkpointed")
  }
}
