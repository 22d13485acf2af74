package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.TxLog

/** The DSv2 `StreamingWrite` surfaces of the one txlog sink
  * (`writeStream.format("txlog")`; [[TxLogStreamSinkSpec]] holds its
  * mode contract): the task-staged segment layout, continuing a query
  * whose batches were committed through the foreachBatch API,
  * governance (constraints +
  * default fill) on the staged path, the documented Update/Append
  * divergence (the engine's update-as-append marker makes the two
  * indistinguishable at the builder, so mergeKey alone selects the
  * upsert). */
class TxLogStreamSinkV2Spec extends SparkTestBase {
  import spark.implicits._
  import TxLogStreamSinkSpec.stagedSegs

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def feedDir(parts: Int = 4): String = {
    val dir = freshDir("graft-sinkfeed")
    (0 until parts).foreach(i =>
      spark.range(i * 10L, (i + 1) * 10L)
        .select(col("id"), (col("id") % 4).as("k"), (col("id") * 10L).as("v"))
        .coalesce(1).write.mode("append").parquet(dir))
    dir
  }

  private def feed(dir: String) =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/*.parquet")

  test("the sink DEFAULT is v2 (r15 flip): no option → task-staged segments") {
    val out = freshDir("graft-sinkout")
    val q = feed(feedDir()).writeStream.format("txlog").option("path", out)
      .option("checkpointLocation", freshDir("graft-sinkckpt"))
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(TxLog.read(spark, out).count() == 40)
    assert(stagedSegs(out).size == 4,
      s"default writeStream must task-stage, got ${TxLog.liveSegments(out)}")
  }

  test("foreachBatch appendStream, then the sink: no batch is re-appended") {
    val src = feedDir()
    val out = freshDir("graft-sinkout")
    val ckpt = freshDir("graft-sinkckpt")
    // batches 0-3 commit through the foreachBatch API under the
    // engine's stable query id
    val q1 = feed(src).writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        TxLog.appendStream(batch, out, id, txnAppId = Option(
          batch.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId")))
        ()
      }.start()
    try q1.processAllAvailable() finally q1.stop()
    assert(TxLog.headVersion(out) == 3 && stagedSegs(out).isEmpty)
    // crash between the table commit and the checkpoint commit: batch
    // 3 is in the table but not in the commit log, so the engine
    // replays it on restart
    val commit3 = new java.io.File(ckpt, "commits/3")
    assert(commit3.delete())
    new java.io.File(ckpt, "commits/.3.crc").delete()
    // two more feed files land while the query is down
    (4 until 6).foreach(i =>
      spark.range(i * 10L, (i + 1) * 10L)
        .select(col("id"), (col("id") % 4).as("k"), (col("id") * 10L).as("v"))
        .coalesce(1).write.mode("append").parquet(src))
    val q2 = feed(src).writeStream.format("txlog")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(commit3.exists(), "the restart must have replayed batch 3")
    assert(TxLog.headVersion(out) == 5, "only batches 4-5 may commit")
    assert(stagedSegs(out).size == 2, "the two new batches are task-staged")
    val rows = TxLog.read(spark, out)
    assert(rows.count() == 60 && rows.select("id").distinct().count() == 60,
      "the replayed batch must be skipped, not re-appended")
    // the replay's staged files were reclaimed on the skip
    val stray = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg-"))
      .map(_.getName).filterNot(TxLog.liveSegments(out).contains)
    assert(stray.isEmpty, s"skipped replay must reclaim staging: ${stray.toSeq}")
  }

  test("v2 staged path enforces constraints and fills defaults") {
    val src = feedDir(2)
    val out = freshDir("graft-sinkout")
    // seed + governance BEFORE the stream: a CHECK constraint the feed
    // satisfies, and a DEFAULT column the feed lacks entirely
    TxLog.append(spark.range(0L, 1L)
      .select(col("id"), (col("id") % 4).as("k"), (col("id") * 10L).as("v")),
      out)
    TxLog.addConstraint(spark, out, "v_nonneg", "v >= 0")
    TxLog.setColumnDefault(out, "src", "'stream'")
    val q = feed(src).writeStream.format("txlog")
      .option("path", out)
      .option("checkpointLocation", freshDir("graft-sinkckpt"))
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = TxLog.read(spark, out, mergeSchema = true)
    assert(got.count() == 21)
    // the defaults-fill rewrite ran: streamed rows carry the default
    assert(got.filter(col("src") === "stream").count() == 20,
      "DEFAULT column must be materialized on the staged path")
    // a violating batch fails loud and commits nothing
    val bad = freshDir("graft-badfeed") + "/feed"
    spark.range(0L, 5L).select(col("id"), (col("id") % 4).as("k"),
      (lit(-7L)).as("v")).coalesce(1).write.parquet(bad)
    val head = TxLog.headVersion(out)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = spark.readStream.schema(spark.read.parquet(bad).schema)
        .parquet(bad + "/*.parquet").writeStream.format("txlog")
        .option("path", out)
        .option("checkpointLocation", freshDir("graft-sinkckpt"))
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q2.awaitTermination(60000) finally q2.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("constraint")),
      s"wrong failure: $e")
    assert(TxLog.headVersion(out) == head, "violating batch must not commit")
  }

  test("v2 mode guards: Complete+mergeKey loud; Append+mergeKey upserts (documented)") {
    val src = feedDir(2)
    val out = freshDir("graft-sinkout")
    val e = intercept[Exception] {
      val q = feed(src).groupBy("k").agg(sum("v").as("v"))
        .writeStream.format("txlog")
        .option("path", out)
        .option("mergeKey", "k")
        .option("checkpointLocation", freshDir("graft-sinkckpt"))
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage != null && e.getMessage.contains("mergeKey"),
      s"wrong error: $e")
    // Append + mergeKey: the engine's update-as-append marker makes
    // Update and Append the SAME builder call, so mergeKey selects the
    // upsert in both — the v1 "Append rejects mergeKey" check is not
    // expressible on this API (scaladoc-documented); pin the behavior
    val out2 = freshDir("graft-sinkout")
    TxLog.append(spark.range(0L, 20L)
      .select(col("id"), (col("id") % 4).as("k"), lit(-1L).as("v")), out2)
    val q2 = feed(src).writeStream.format("txlog")
      .option("path", out2)
      .option("mergeKey", "id")
      .option("checkpointLocation", freshDir("graft-sinkckpt"))
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = TxLog.read(spark, out2).select("id", "v")
      .as[(Long, Long)].collect().toMap
    assert(rows.size == 20 && (0L until 20L).forall(i => rows(i) == i * 10L),
      "mergeKey upserts on the v2 path regardless of declared mode")
  }
}
