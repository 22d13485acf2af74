package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.TxLog

/** The native streaming sink over a TxLog table
  * (`writeStream.format("txlog")`) — the write half of the CDC pair:
  * Append mode appends one idempotent segment per micro-batch, Update
  * mode (with `mergeKey`) applies each batch as a merge-on-read
  * upsert, Complete mode replaces the table per trigger. All three
  * ride the batch-id-deduped commit, so the engine's at-least-once
  * replay composes to exactly-once. */
object TxLogStreamSinkSpec {
  /** The sink's task-staged segments are named `seg-<uuid>-<epochId>`
    * (writers derive the name from the epoch), while every
    * DataFrame-staged segment (batch writes, the foreachBatch API) is
    * `seg-<uuid>` — a trailing `-<digits>` group after a full 36-char
    * uuid is the sink's layout. */
  def stagedSegs(dir: String): Seq[String] =
    TxLog.liveSegments(dir).filter(_.matches(
      "seg-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}-\\d+"))
}

class TxLogStreamSinkSpec extends SparkTestBase {
  import TxLogStreamSinkSpec.stagedSegs
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A 4-part parquet feed dir driven with maxFilesPerTrigger=1 so a
    * query sees 4 micro-batches of 10 rows each. */
  private def feedDir(): String = {
    val dir = freshDir("graft-sinkfeed")
    (0 until 4).foreach(i => // one part file per write → 4 micro-batches
      spark.range(i * 10L, (i + 1) * 10L)
        .select(col("id"), (col("id") % 4).as("k"), (col("id") * 10L).as("v"))
        .coalesce(1).write.mode("append").parquet(dir))
    dir
  }

  private def feed(dir: String) =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/*.parquet")

  test("append mode: one idempotent commit per micro-batch, replay skipped") {
    val src = feedDir()
    val out = freshDir("graft-sinkout")
    val q = feed(src).writeStream.format("txlog")
      .option("path", out).option("statsCols", "id")
      .option("checkpointLocation", freshDir("graft-sinkckpt"))
      .outputMode("append").start()
    val qid = q.id.toString
    try q.processAllAvailable() finally q.stop()
    assert(TxLog.headVersion(out) == 3, "4 micro-batches → 4 commits")
    assert((0 to 3).forall(v => TxLog.commitOp(out, v).startsWith("stream-")))
    assert(TxLog.read(spark, out).count() == 40)
    assert(stagedSegs(out).size == 4,
      s"task-staged segments expected, got ${TxLog.liveSegments(out)}")
    // the at-least-once failure mode: a replayed batch of the SAME
    // query (same app id) must be skipped
    assert(TxLog.appendStream(
      TxLog.readCommit(spark, out, 0), out, batchId = 0L,
      txnAppId = Some(qid)).isEmpty)
    assert(TxLog.headVersion(out) == 3)
    // statsCols recorded at ingest: range reads prune streamed segments
    val (_, pruned) = TxLog.pruneRange(out, "id", Some("0"), Some("3"))
    assert(pruned.nonEmpty,
      "streamed segments must carry prunable stats via statsCols")
  }

  test("append mode survives a checkpoint restart without re-appending") {
    val src = feedDir()
    val out = freshDir("graft-sinkout")
    val ckpt = freshDir("graft-sinkckpt")
    def start() = feed(src).writeStream.format("txlog")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val head = TxLog.headVersion(out)
    assert(head == 3)
    // restart: nothing new to deliver → no new commits, no duplicates
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(TxLog.headVersion(out) == head, "restart must not re-append")
    assert(TxLog.read(spark, out).count() == 40)
    assert(TxLog.read(spark, out).select("id").distinct().count() == 40)
  }

  test("update mode + mergeKey: per-batch MoR upsert, last writer wins per key") {
    val src = feedDir()
    val out = freshDir("graft-sinkout")
    // seed the table with stale values for half the keys
    TxLog.append(spark.range(0L, 20L)
      .select(col("id"), (col("id") % 4).as("k"), lit(-1L).as("v")), out)
    val q = feed(src).writeStream.format("txlog")
      .option("path", out).option("mergeKey", "id")
      .option("checkpointLocation", freshDir("graft-sinkckpt"))
      .outputMode("update").start()
    val qid = q.id.toString
    try q.processAllAvailable() finally q.stop()
    val rows = TxLog.read(spark, out).select("id", "v")
      .as[(Long, Long)].collect().toMap
    assert(rows.size == 40, "upsert must dedup on the merge key")
    assert((0L until 40L).forall(i => rows(i) == i * 10L),
      "every seeded stale value must be replaced by the stream's")
    // MoR shape: the seed segment was never rewritten, only tombstoned
    assert(TxLog.liveSegments(out, 0).forall(
      TxLog.liveSegments(out).contains(_)),
      "update mode must merge-on-read, not rewrite the seed segment")
    // replayed upsert batch (same query id) skipped
    val head = TxLog.headVersion(out)
    assert(TxLog.mergeStreamMoR(spark, out,
      TxLog.readCommit(spark, out, 1), "id", batchId = 0L,
      txnAppId = Some(qid)).isEmpty)
    assert(TxLog.headVersion(out) == head)
  }

  test("two queries into one table: batch ids dedup PER QUERY, nothing dropped") {
    // the txnAppId contract (Delta's txnAppId/txnVersion): a second
    // query numbering its batches from 0 must NOT dedup against the
    // first query's batch 0 — pre-fix, its first batches were
    // silently swallowed as "replays"
    val srcA = feedDir()
    val srcB = freshDir("graft-sinkfeedB")
    spark.range(100L, 110L)
      .select(col("id"), (col("id") % 4).as("k"), (col("id") * 10L).as("v"))
      .coalesce(1).write.mode("append").parquet(srcB)
    val out = freshDir("graft-sinkout")
    def run(src: String): Unit = {
      val q = feed(src).writeStream.format("txlog")
        .option("path", out)
        .option("checkpointLocation", freshDir("graft-sinkckpt"))
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run(srcA) // query A: batches 0..3 → 40 rows
    run(srcB) // query B: its OWN batch 0 → 10 more rows, not a "replay"
    val rows = TxLog.read(spark, out)
    assert(rows.count() == 50 && rows.select("id").distinct().count() == 50,
      "the second query's batch 0 must commit, not dedup against query A's")
  }

  test("complete mode: the table is replaced per trigger; final state is the full aggregate") {
    val src = feedDir()
    val out = freshDir("graft-sinkout")
    val q = feed(src)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("v_sum"))
      .writeStream.format("txlog")
      .option("path", out)
      .option("checkpointLocation", freshDir("graft-sinkckpt"))
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    // each trigger overwrote: the head holds ONLY the latest aggregate
    val rows = TxLog.read(spark, out).select("k", "n", "v_sum")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val expect = spark.read.parquet(src)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("v_sum"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.toSeq == expect.toSeq)
    // earlier triggers' partial aggregates stay time-travelable
    val head = TxLog.headVersion(out)
    assert(head >= 1, "multiple triggers must have committed")
    assert(TxLog.read(spark, out, asOf = 0).agg(sum("n")).head().getLong(0) <
      40L, "v0 must be the first trigger's partial aggregate")
  }

  test("guards: mode/option combos fail loud; partitionBy never reaches the sink") {
    val src = feedDir()
    val e = intercept[Exception] {
      val q = feed(src).groupBy("k").agg(sum("v").as("v"))
        .writeStream.format("txlog").option("path", freshDir("graft-sinkout"))
        .option("mergeSchema", "true")
        .option("checkpointLocation", freshDir("graft-sinkckpt"))
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("mergeSchema is meaningless")),
      s"wrong error: $e")
    // DataStreamWriter hands a DSv2 table its options only, so
    // partitionBy cannot be seen, let alone refused, by the sink: the
    // table's own spec governs the layout (none here — unsplit)
    val out = freshDir("graft-sinkout")
    val q = feed(src).writeStream.format("txlog").option("path", out)
      .partitionBy("k")
      .option("checkpointLocation", freshDir("graft-sinkckpt"))
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(TxLog.read(spark, out).count() == 40)
    assert(TxLog.partitionColumnsOf(out).isEmpty &&
      !TxLog.liveSegments(out).exists(_.contains("k=")),
      s"partitionBy must not split: ${TxLog.liveSegments(out)}")
  }

  test("native pipeline: txlog source -> txlog sink relays a table exactly-once") {
    val srcTable = freshDir("graft-sinksrc")
    val dstTable = freshDir("graft-sinkdst")
    val ckpt = freshDir("graft-sinkckpt")
    (0 until 6).foreach(i => TxLog.append(
      spark.range(i * 10L, i * 10L + 10L).select(col("id"),
        (col("id") % 5).as("k")), srcTable))
    def relay() = spark.readStream.format("txlog")
      .option("path", srcTable).option("maxCommitsPerTrigger", "2").load()
      .filter(col("_commit_op").startsWith("append") ||
        col("_commit_op").startsWith("stream-"))
      .drop("_commit_version", "_commit_op")
      .writeStream.format("txlog")
      .option("path", dstTable).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q = relay()
    try q.processAllAvailable() finally q.stop()
    assert(TxLog.headVersion(dstTable) == 2, "6 commits / cap 2 → 3 batches")
    assert(TxLog.read(spark, dstTable).count() == 60)
    // a commit lands while the relay is DOWN; restart picks up ONLY it
    TxLog.append(spark.range(60L, 70L).select(col("id"),
      (col("id") % 5).as("k")), srcTable)
    val q2 = relay()
    try q2.processAllAvailable() finally q2.stop()
    val out = TxLog.read(spark, dstTable)
    assert(out.count() == 70 && out.select("id").distinct().count() == 70,
      "restart must deliver exactly the downtime commit, no duplicates")
  }

  test("complete mode records statsCols: the refreshed table is range-prunable") {
    val src = feedDir()
    val out = freshDir("graft-sinkout")
    val q = feed(src)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("v_sum"))
      .writeStream.format("txlog")
      .option("path", out).option("statsCols", "k")
      .option("checkpointLocation", freshDir("graft-sinkckpt"))
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    // k spans 0..3: stats recorded at each overwrite must prune an
    // out-of-range probe down to ZERO segments (pre-fix, Complete mode
    // silently dropped the option and nothing pruned)
    val (kept, pruned) = TxLog.pruneRange(out, "k", Some("10"), Some("99"))
    assert(kept.isEmpty && pruned.nonEmpty,
      s"statsCols must be recorded in Complete mode: kept=$kept")
    val (keptIn, _) = TxLog.pruneRange(out, "k", Some("0"), Some("3"))
    assert(keptIn.nonEmpty, "in-range probe must keep the live segment")
  }

  test("sink refuses type changes and case-variant columns in BOTH modes") {
    val src = feedDir()
    val out = freshDir("graft-sinkout")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    def run(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
            merge: Boolean): Throwable = {
      var w = f(feed(src)).writeStream.format("txlog")
        .option("path", out).option("checkpointLocation", freshDir("graft-sinkckpt"))
      if (merge) w = w.option("mergeSchema", "true")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q = w.outputMode("append").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination(60000) finally q.stop()
      }
    }
    // seed the table
    TxLog.append(spark.read.parquet(src).limit(1), out)
    // a same-name TYPE change is never additive — even with mergeSchema
    val t = run(_.withColumn("v", col("v").cast("string")), merge = true)
    assert(msgs(t).exists(m => m != null && m.contains("type")), s"got $t")
    // a case-only variant is a collision, not a new column
    val c = run(_.withColumnRenamed("k", "K"), merge = true)
    assert(msgs(c).exists(m => m != null && m.contains("CASE")), s"got $c")
    // two NEW columns differing only in case in ONE batch: same refusal
    // (select, not withColumn — withColumn itself resolves
    // case-insensitively and would collapse them)
    val c2 = run(_.select(col("*"), lit(1).as("newCol"), lit(2).as("NewCol")),
      merge = true)
    assert(msgs(c2).exists(m => m != null && m.contains("CASE")), s"got $c2")
    // nothing committed past the seed
    assert(TxLog.read(spark, out).count() == 1)
  }

  test("sink schema drift fails loud by default; mergeSchema=true evolves additively") {
    val src = feedDir()
    val out = freshDir("graft-sinkout")
    val ckpt = freshDir("graft-sinkckpt")
    def run(extraCol: Boolean, merge: Boolean): Unit = {
      val base = feed(src).select(col("id"), col("k"), col("v"))
      val proj = if (extraCol) base.withColumn("tag", concat(lit("t"), col("k")))
                 else base
      var w = proj.writeStream.format("txlog")
        .option("path", out).option("checkpointLocation", ckpt)
      if (merge) w = w.option("mergeSchema", "true")
      val q = w.outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(60000) finally q.stop()
    }
    run(extraCol = false, merge = false) // 4 batches land, 3 columns
    assert(TxLog.read(spark, out).count() == 40)
    // more feed data, then a RESTART with an evolved projection: the
    // default must fail loud, not silently widen the table
    spark.range(40L, 50L)
      .select(col("id"), (col("id") % 4).as("k"), (col("id") * 10L).as("v"))
      .coalesce(1).write.mode("append").parquet(src)
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(extraCol = true, merge = false)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(failed).exists(m => m != null && m.contains("mergeSchema") &&
        m.contains("tag")), s"wrong failure: ${failed.getMessage}")
    assert(TxLog.read(spark, out).count() == 40, "failed batch must not commit")
    // the guard fired AFTER task staging — the staged dir must be gone
    val stray = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg-"))
      .map(_.getName).filterNot(TxLog.liveSegments(out).contains)
    assert(stray.isEmpty, s"guard failure must reclaim staging: ${stray.toSeq}")
    // the opt-in path evolves the table additively
    run(extraCol = true, merge = true)
    val evolved = TxLog.read(spark, out, mergeSchema = true)
    assert(evolved.count() == 50)
    assert(evolved.schema.fieldNames.contains("tag"))
    assert(evolved.filter(col("tag").isNull).count() == 40,
      "pre-evolution rows read null for the new column")
    assert(evolved.filter(col("tag") === "t1").count() > 0)
  }
}
