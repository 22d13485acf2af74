package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog

/** The streaming CDC source over a TxLog table (`format("txlog")`):
  * offsets are commit versions, so the engine's checkpointed offset
  * log gives exactly-once restart-resume; each micro-batch is the new
  * commits' add-set rows tagged _commit_version/_commit_op. */
class TxLogStreamSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def sample(lo: Int, hi: Int) =
    spark.range(lo.toLong, hi.toLong).select(col("id"),
      (col("id") % 5).as("k"))

  test("delivers full history from version 0, tagged by commit") {
    val dir = freshDir("graft-txsrc")
    TxLog.append(sample(0, 10), dir)
    TxLog.append(sample(10, 30), dir)
    val q = spark.readStream.format("txlog").option("path", dir).load()
      .groupBy("_commit_version", "_commit_op")
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("txsrc_full").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("txsrc_full")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((0L, "append", 10L), (1L, "append", 20L)))
  }

  test("restart from checkpoint resumes at the first unprocessed commit") {
    val dir = freshDir("graft-txsrc")
    val sink = freshDir("graft-txsink")
    val ckpt = freshDir("graft-txckpt")
    TxLog.append(sample(0, 10), dir)

    def runOnce(): Unit = {
      val q = spark.readStream.format("txlog").option("path", dir).load()
        .select("id", "k", "_commit_version")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    assert(spark.read.parquet(sink).count() == 10)
    // two more commits land while the stream is DOWN
    TxLog.append(sample(10, 15), dir)
    TxLog.append(sample(15, 25), dir)
    runOnce()
    val out = spark.read.parquet(sink)
    // exactly-once: 25 rows total, no re-delivery of commit 0
    assert(out.count() == 25)
    assert(out.select("id").distinct().count() == 25)
    assert(out.groupBy("_commit_version").count().as[(Long, Long)]
      .collect().toMap == Map(0L -> 10L, 1L -> 5L, 2L -> 10L))
  }

  test("startingVersion=latest skips history; a MoR delete advances the offset rowlessly") {
    val dir = freshDir("graft-txsrc")
    TxLog.append(sample(0, 20), dir)                      // v0: history
    val floorHead = TxLog.headVersion(dir)
    val feed = spark.readStream.format("txlog").option("path", dir)
      .option("startingVersion", "latest").load()
    val q = feed.groupBy("_commit_version", "_commit_op")
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("txsrc_latest").start()
    try {
      q.processAllAvailable()
      assert(spark.table("txsrc_latest").count() == 0, "history must be skipped")
      TxLog.deleteMoR(spark, dir, "k = 1")                // v1: add-empty commit
      TxLog.append(sample(20, 24), dir)                   // v2: new data
      q.processAllAvailable()
      val rows = spark.table("txsrc_latest")
        .as[(Long, String, Long)].collect().toSeq
      // the pure-tombstone commit contributes NO rows but the offset
      // moved past it (v2 was delivered, so v1 was consumed)
      assert(rows == Seq((2L, "append", 4L)), s"got $rows")
      assert(floorHead == 0)
    } finally q.stop()
  }

  test("startingVersion=latest binds at FIRST start: a restart never skips downtime commits") {
    val dir = freshDir("graft-txsrc")
    val sink = freshDir("graft-txsink")
    val ckpt = freshDir("graft-txckpt")
    TxLog.append(sample(0, 10), dir)            // pre-start history: excluded
    def runOnce(): Unit = {
      val q = spark.readStream.format("txlog").option("path", dir)
        .option("startingVersion", "latest").load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce() // resolves and PERSISTS the floor (= 1); nothing to deliver yet
    // two commits land while the query is DOWN — a floor re-resolved at
    // restart would jump past them and silently drop both
    TxLog.append(sample(10, 15), dir)
    TxLog.append(sample(15, 25), dir)
    runOnce()
    val out = spark.read.parquet(sink)
    assert(out.count() == 15, "downtime commits were skipped on restart")
    assert(out.filter("id < 10").count() == 0, "pre-start history must stay excluded")
    assert(out.groupBy("_commit_version").count().as[(Long, Long)]
      .collect().toMap == Map(1L -> 5L, 2L -> 10L))
  }

  test("maxCommitsPerTrigger bounds each micro-batch and survives a restart") {
    val dir = freshDir("graft-txsrc")
    (0 until 5).foreach(i => TxLog.append(sample(i * 10, i * 10 + 10), dir))
    val sink = freshDir("graft-txsink")
    val ckpt = freshDir("graft-txckpt")
    def runOnce(): Int = {
      val q = spark.readStream.format("txlog").option("path", dir)
        .option("maxCommitsPerTrigger", "2").load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt).start()
      try { q.processAllAvailable(); q.recentProgress.count(_.numInputRows > 0) }
      finally q.stop()
    }
    val batches = runOnce()
    // 5 commits at 2/trigger → 3 data batches (2+2+1), never one big one
    assert(batches == 3, s"expected 3 admission-controlled batches, got $batches")
    assert(spark.read.parquet(sink).count() == 50)
    // new commits while down; the restarted stream must RESUME from the
    // checkpoint (not re-cap from the floor and stall or re-deliver)
    TxLog.append(sample(50, 53), dir)
    TxLog.append(sample(53, 55), dir)
    TxLog.append(sample(55, 60), dir)
    val batches2 = runOnce()
    assert(batches2 == 2, s"expected 2 post-restart batches, got $batches2")
    val out = spark.read.parquet(sink)
    assert(out.count() == 60 && out.select("id").distinct().count() == 60)
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches, then terminates") {
    val dir = freshDir("graft-txsrc")
    (0 until 5).foreach(i => TxLog.append(sample(i * 10, i * 10 + 10), dir))
    val sink = freshDir("graft-txsink")
    val ckpt = freshDir("graft-txckpt")
    def runAvailableNow(): Int = {
      val q = spark.readStream.format("txlog").option("path", dir)
        .option("maxCommitsPerTrigger", "2").load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // AvailableNow SELF-TERMINATES once caught up — the batch-job-
      // shaped way to drain a backlog without a long-lived query
      assert(q.awaitTermination(120000), "AvailableNow query must stop itself")
      q.recentProgress.count(_.numInputRows > 0)
    }
    val batches = runAvailableNow()
    assert(batches == 3,
      s"admission control must hold under AvailableNow (2+2+1), got $batches")
    assert(spark.read.parquet(sink).count() == 50)
    // commits landed after termination: a NEW AvailableNow run resumes
    // from the checkpoint and delivers exactly the tail
    TxLog.append(sample(50, 60), dir)
    assert(runAvailableNow() == 1)
    val out = spark.read.parquet(sink)
    assert(out.count() == 60 && out.select("id").distinct().count() == 60)
  }

  test("backfill over a long history is bounded BY DEFAULT: multiple batches, no giant union") {
    val dir = freshDir("graft-txsrc")
    // one commit past the default cap: an unset maxCommitsPerTrigger
    // must still split the catch-up into bounded batches — the safe
    // behavior cannot depend on the user knowing the option
    val n = graft.sources.txlog.TxLogSource.DefaultMaxCommitsPerTrigger + 1
    (0 until n).foreach(i => TxLog.append(
      spark.range(i.toLong, i.toLong + 1).select(col("id"),
        (col("id") % 5).as("k")), dir))
    val sink = freshDir("graft-txsink")
    val ckpt = freshDir("graft-txckpt")
    val q = spark.readStream.format("txlog").option("path", dir).load()
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt).start()
    val batches =
      try { q.processAllAvailable(); q.recentProgress.count(_.numInputRows > 0) }
      finally q.stop()
    assert(batches == 2, s"expected 2 default-capped batches (100+1), got $batches")
    val out = spark.read.parquet(sink)
    assert(out.count() == n.toLong && out.select("id").distinct().count() == n.toLong)
  }

  test("mid-stream schema drift fails the stream loud instead of dropping the new column") {
    val dir = freshDir("graft-txsrc")
    TxLog.append(sample(0, 10), dir)
    val sink = freshDir("graft-txsink")
    val ckpt = freshDir("graft-txckpt")
    def start() = spark.readStream.format("txlog").option("path", dir).load()
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      q.processAllAvailable()
      // schema evolution lands while the stream is RUNNING with the old
      // resolved schema: delivering would silently drop `extra`
      TxLog.append(sample(10, 15).withColumn("extra", lit("x")), dir)
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def rootMessages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: rootMessages(e.getCause))
      assert(rootMessages(failed).exists(m =>
          m != null && m.contains("schema changed mid-stream")),
        s"wrong failure: ${failed.getMessage}")
    } finally q.stop()
    // a RESTART re-resolves the evolved schema and delivers the commit
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.option("mergeSchema", "true").parquet(sink)
    assert(out.count() == 15)
    assert(out.schema.fieldNames.contains("extra"))
    assert(out.filter("extra = 'x'").count() == 5)
  }

  test("timestamp time travel resolves the last commit at-or-before the instant") {
    val dir = freshDir("graft-txts")
    TxLog.append(sample(0, 10), dir)          // v0
    Thread.sleep(30)
    val betweenV0V1 = System.currentTimeMillis()
    Thread.sleep(30)
    TxLog.append(sample(10, 30), dir)         // v1
    Thread.sleep(30)
    TxLog.deleteMoR(spark, dir, "k = 1")      // v2
    val afterAll = System.currentTimeMillis()
    assert(TxLog.versionAsOfTimestamp(dir, betweenV0V1) == 0)
    assert(TxLog.versionAsOfTimestamp(dir, afterAll) == 2)
    assert(TxLog.readAsOfTimestamp(spark, dir, betweenV0V1).count() == 10)
    assert(TxLog.readAsOfTimestamp(spark, dir, afterAll).count() == 24)
    // before the first commit: fail loud, per the Delta contract
    intercept[IllegalArgumentException] {
      TxLog.versionAsOfTimestamp(dir, betweenV0V1 - 3600 * 1000)
    }
  }

  test("mtime-inverted logs resolve deterministically through the adjusted clock") {
    val dir = freshDir("graft-txts")
    TxLog.append(sample(0, 10), dir)          // v0
    Thread.sleep(20)
    TxLog.append(sample(10, 20), dir)         // v1
    Thread.sleep(20)
    TxLog.append(sample(20, 25), dir)         // v2
    val before = (0 to 2).map(v => TxLog.commitTimestamp(dir, v))
    // simulate a copied/rsync'd/backup-restored log dir: v1's entry
    // MTIME regresses 5 s below v0's. The clock must not notice: the
    // commit instants are IN the entries (ts= line), not in the
    // filesystem — mtime damage cannot move a single timestamp.
    def entry(v: Int) = java.nio.file.Paths.get(dir, "_txlog", f"$v%08d.txt")
    val m0 = java.nio.file.Files.getLastModifiedTime(entry(0)).toMillis
    java.nio.file.Files.setLastModifiedTime(entry(1),
      java.nio.file.attribute.FileTime.fromMillis(m0 - 5000))
    val ts = (0 to 2).map(v => TxLog.commitTimestamp(dir, v))
    assert(ts == before, "in-commit timestamps must survive mtime damage")
    assert(ts == ts.sorted && ts.distinct.size == 3,
      s"adjusted clock must be strictly increasing, got $ts")
    // round trip holds for EVERY version, unconditionally
    (0 to 2).foreach(v =>
      assert(TxLog.versionAsOfTimestamp(dir, TxLog.commitTimestamp(dir, v)) == v))
    assert(TxLog.readAsOfTimestamp(spark, dir, ts(1)).count() == 20)
    assert(TxLog.readAsOfTimestamp(spark, dir, ts(0)).count() == 10)
    // before the first commit still fails loud
    intercept[IllegalArgumentException] {
      TxLog.versionAsOfTimestamp(dir, ts(0) - 1)
    }
  }

  test("legacy entries without ts= fall back to monotonized mtimes") {
    val dir = freshDir("graft-txts")
    TxLog.append(sample(0, 10), dir)          // v0
    TxLog.append(sample(10, 20), dir)         // v1
    TxLog.append(sample(20, 25), dir)         // v2
    // strip the ts= lines — the pre-in-commit-timestamp entry format —
    // and invert v1's mtime: resolution must degrade to the adjusted
    // MTIME clock (order preserved), never throw or resolve wrong
    def entry(v: Int) = java.nio.file.Paths.get(dir, "_txlog", f"$v%08d.txt")
    (0 to 2).foreach { v =>
      val stripped = new String(java.nio.file.Files.readAllBytes(entry(v)),
        "UTF-8").linesIterator.filterNot(_.startsWith("ts=")).toSeq
      java.nio.file.Files.write(entry(v),
        stripped.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val m0 = java.nio.file.Files.getLastModifiedTime(entry(0)).toMillis
    java.nio.file.Files.setLastModifiedTime(entry(1),
      java.nio.file.attribute.FileTime.fromMillis(m0 - 5000))
    val ts = (0 to 2).map(v => TxLog.commitTimestamp(dir, v))
    assert(ts == ts.sorted && ts.distinct.size == 3,
      s"legacy adjusted clock must be strictly increasing, got $ts")
    (0 to 2).foreach(v =>
      assert(TxLog.versionAsOfTimestamp(dir, TxLog.commitTimestamp(dir, v)) == v))
    // v1's adjusted instant sits right after v0's: order re-derived
    // from slot order when the recorded instants are absent
    assert(ts(1) == ts(0) + 1)
    assert(TxLog.readAsOfTimestamp(spark, dir, ts(1)).count() == 20)
  }

  test("per-batch metadata cost is O(new commits): old segments are not re-listed") {
    val dir = freshDir("graft-txsrc")
    (0 until 6).foreach(i => TxLog.append(sample(i * 10, i * 10 + 10), dir))
    val sink = freshDir("graft-txsink")
    val ckpt = freshDir("graft-txckpt")
    def runOnce(): Unit = {
      val q = spark.readStream.format("txlog").option("path", dir).load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    TxLog.append(sample(60, 61), dir) // one 1-row commit
    val before = graft.sources.LogStore.metaReads.get()
    runOnce()
    val reads = graft.sources.LogStore.metaReads.get() - before
    // restart replay: source construction reads head state once
    // (pointer + checkpoint/entries tail) + the new commit's entry;
    // nothing proportional to total data volume. Generous bound to
    // stay robust to cadence, but far below O(all segments re-read).
    assert(reads <= 3 * (TxLog.CheckpointInterval + 2),
      s"tailing one new commit cost $reads metadata reads")
    assert(spark.read.parquet(sink).count() == 61)
  }

  test("changeFeed=true streams the row-level feed: stream ≡ batch readChangeFeed") {
    val dir = freshDir("graft-txcdf")
    TxLog.append(sample(0, 20), dir)                                 // v0
    TxLog.deleteMoR(spark, dir, "id % 5 = 0")                        // v1
    TxLog.updateMoR(spark, dir, "id % 5 = 1", Map("k" -> "k + 100")) // v2
    val sink = freshDir("graft-txcdfsink")
    val ckpt = freshDir("graft-txcdfck")
    val q = spark.readStream.format("txlog")
      .option("path", dir).option("changeFeed", "true").load()
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "k", "_commit_version", "_commit_op", "_change_type")
      .as[(Long, Long, Long, String, String)].collect().sorted.toSeq
    val streamed = canon(spark.read.parquet(sink))
    assert(streamed == canon(TxLog.readChangeFeed(spark, dir, fromVersion = -1)),
      "streamed change feed must equal the batch change feed")
    // pre-images really arrive: ids 0,5,10,15 deleted; 1,6,11,16 updated
    assert(streamed.count(_._5 == "delete") == 4)
    assert(streamed.filter(_._5 == "delete").map(_._1).toSet ==
      Set(0L, 5L, 10L, 15L))
    assert(streamed.count(_._5 == "update_preimage") == 4)
    assert(streamed.filter(_._5 == "update_postimage").forall(_._2 >= 100),
      "post-images must carry the updated value")
  }

  test("changeFeed restart delivers only the downtime DML, exactly once") {
    val dir = freshDir("graft-txcdf")
    TxLog.append(sample(0, 10), dir)
    val sink = freshDir("graft-txcdfsink")
    val ckpt = freshDir("graft-txcdfck")
    def runOnce(): Unit = {
      val q = spark.readStream.format("txlog")
        .option("path", dir).option("changeFeed", "true").load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    assert(spark.read.parquet(sink).count() == 10)
    // an MoR delete, a rearrangement and an append land while the
    // stream is DOWN
    TxLog.deleteMoR(spark, dir, "id >= 7")
    TxLog.optimize(spark, dir, Seq("id"), 2)
    TxLog.append(sample(10, 12), dir)
    runOnce()
    val out = spark.read.parquet(sink)
      .groupBy("_change_type").count().as[(String, Long)].collect().toMap
    // the restart delivers exactly the 3 pre-images and the 2 new rows,
    // nothing re-sent and nothing for the rearrangement
    assert(out == Map("insert" -> 12L, "delete" -> 3L), s"got $out")
  }

  private def rootMessages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e => e.getMessage +: rootMessages(e.getCause))

  test("content-changing rewrites fail the default stream; rearrangements advance rowlessly") {
    val dir = freshDir("graft-txrw")
    TxLog.append(sample(0, 10), dir)
    TxLog.append(sample(10, 20), dir)
    val sink = freshDir("graft-txrwsink")
    val ckpt = freshDir("graft-txrwck")
    def start() = spark.readStream.format("txlog").option("path", dir).load()
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      q.processAllAvailable()
      // a nightly OPTIMIZE lands mid-stream: provably row-neutral
      // (RearrangeOps), so the DEFAULT stream advances past it
      // rowlessly instead of dying — operational survivability; its
      // whole-table add set is NOT re-delivered
      TxLog.optimize(spark, dir, Seq("id"), 2)
      TxLog.append(sample(20, 25), dir)
      q.processAllAvailable()
      assert(spark.read.parquet(sink).count() == 25,
        "optimize must advance rowlessly, appends keep flowing")
      // a CoW DELETE is content-changing: fail loud by default
      TxLog.delete(spark, dir, "id < 3")
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(rootMessages(failed).exists(m => m != null &&
          m.contains("content-changing rewrite") && m.contains("skipRewrites")),
        s"wrong failure: ${failed.getMessage}")
    } finally q.stop()
    // nothing extra was delivered before the failure
    assert(spark.read.parquet(sink).count() == 25)
  }

  test("skipRewrites=true advances past rewrites rowlessly and keeps counting appends") {
    val dir = freshDir("graft-txrw")
    TxLog.append(sample(0, 10), dir)
    val sink = freshDir("graft-txrwsink")
    val ckpt = freshDir("graft-txrwck")
    def runOnce(): Unit = {
      val q = spark.readStream.format("txlog").option("path", dir)
        .option("skipRewrites", "true").load()
        .select("id", "k", "_commit_version")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    TxLog.optimize(spark, dir, Seq("id"), 2)     // v1: rewrite, skipped
    TxLog.delete(spark, dir, "id < 3")           // v2: CoW rewrite, skipped
    TxLog.append(sample(10, 15), dir)            // v3: genuinely new rows
    runOnce()
    val out = spark.read.parquet(sink)
    // 10 initial + 5 new — ZERO re-delivery from the two rewrites
    assert(out.count() == 15, s"got ${out.count()} rows")
    assert(out.select("id").distinct().count() == 15)
    assert(out.groupBy("_commit_version").count().as[(Long, Long)]
      .collect().toMap == Map(0L -> 10L, 3L -> 5L))
    // the checkpointed offset moved PAST the skipped rewrites
    TxLog.append(sample(15, 18), dir)            // v4
    runOnce()
    assert(spark.read.parquet(sink).count() == 18)
  }

  test("changeFeed emits zero change rows for a pure rearrangement commit") {
    val dir = freshDir("graft-txcdf")
    TxLog.append(sample(0, 10), dir)             // v0
    TxLog.deleteMoR(spark, dir, "id >= 8")       // v1: real deletes
    TxLog.optimize(spark, dir, Seq("id"), 2)     // v2: rearrangement
    TxLog.append(sample(10, 12), dir)            // v3
    // batch CDF: nothing tagged with the optimize commit
    val batch = TxLog.readChangeFeed(spark, dir, fromVersion = -1)
    assert(batch.filter(col("_commit_op") === "optimize").count() == 0,
      "a pure rearrangement must contribute no change rows")
    val perVersion = batch.groupBy("_commit_version").count()
      .as[(Long, Long)].collect().toMap
    assert(perVersion == Map(0L -> 10L, 1L -> 2L, 3L -> 2L), s"got $perVersion")
    // streaming CDF: same zero-row contract, offset still advances
    val q = spark.readStream.format("txlog")
      .option("path", dir).option("changeFeed", "true").load()
      .groupBy("_commit_version").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("txcdf_rearr").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("txcdf_rearr").as[(Long, Long)].collect().toMap
    assert(streamed == Map(0L -> 10L, 1L -> 2L, 3L -> 2L), s"got $streamed")
  }

  test("changeFeed stream fails LAZILY on unrecorded content rewrites; coarseRewrites opts in") {
    val dir = freshDir("graft-txcfcoarse")
    TxLog.append(sample(0, 10), dir)       // v0
    TxLog.delete(spark, dir, "id < 2")     // v1: PRE-flag coarse rewrite
    TxLog.enableChangeDataFeed(dir)        // v2: head flag on
    TxLog.append(sample(10, 12), dir)      // v3
    def start(opts: Map[String, String], name: String) = {
      var r = spark.readStream.format("txlog").option("path", dir)
        .option("changeFeed", "true")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().writeStream.format("memory").queryName(name).start()
    }
    // default: the guard surfaces as a LAZY execution-time failure
    // (a plan-time throw would wedge restarts), naming the stream
    // option — phantom inserts never reach the sink
    val q0 = start(Map.empty, "graft_cfcoarse_dead")
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q0.processAllAvailable() finally q0.stop()
    }
    assert(rootMessages(failed).exists(m => m != null &&
        m.contains("changes content") && m.contains("coarseRewrites")),
      s"wrong failure: ${failed.getMessage}")
    // explicit opt-in: v1's rewrite output delivers op-tagged
    val q = start(Map("coarseRewrites" -> "true"), "graft_cfcoarse")
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("graft_cfcoarse")
    assert(out.filter($"_commit_version" === 1L).count() == 8)  // 10 - 2
    assert(out.filter($"_commit_version" === 3L).count() == 2)
    // the option is changeFeed-only
    intercept[Exception] {
      val bad = spark.readStream.format("txlog").option("path", dir)
        .option("coarseRewrites", "true").load()
        .writeStream.format("memory").queryName("graft_cfcoarse_bad").start()
      try bad.processAllAvailable() finally bad.stop()
    }
  }

  test("failOnDataLoss=true fails at plan time where a no-op sink would silently skip") {
    // driven through the v1 Source API directly (the engine's exact
    // call sequence) — an engine-hosted no-op foreachBatch is racy
    // here: its background poll can commit the doomed range before the
    // vacuum lands, masking the scenario nondeterministically
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    def mkSource(dir: String, fodl: Boolean) =
      new graft.sources.txlog.TxLogSourceProvider().createSource(spark.sqlContext,
        freshDir("graft-txfodlmd"), None, "txlog",
        Map("path" -> dir, "skipRewrites" -> "true",
          "failOnDataLoss" -> fodl.toString))
    val dir = freshDir("graft-txfodl")
    TxLog.append(sample(0, 10), dir)                       // v0
    val src = mkSource(dir, fodl = true)
    val end0 = src.getOffset.get
    src.getBatch(None, end0)  // planned, handed to a no-op sink
    src.commit(end0)          // engine commits: ceiling = v0 learned
    TxLog.append(sample(10, 15), dir)     // v1: genuinely new rows
    TxLog.delete(spark, dir, "id >= 10")  // v2 supersedes v1's segment
    TxLog.vacuum(dir, keepVersions = 1)   // reclaims its bytes
    // STRICT: the range (v0, v2] is strictly newer than the committed
    // ceiling — cannot be a restart re-plan — so the loss surfaces at
    // PLAN time, before any sink (even a no-op one) can commit past it
    val e = intercept[IllegalStateException] {
      src.getBatch(Some(end0), LongOffset(2))
    }
    assert(e.getMessage.contains("failing at plan time") &&
      e.getMessage.contains("vacuumed"), e.getMessage)
    // DEFAULT (lazy) posture on the same range: the PLAN succeeds (the
    // restart no-wedge contract; the execution-time typed error of the
    // lazy frame is pinned by the engine-driven interlock specs) —
    // which is exactly the no-op-sink gap failOnDataLoss closes
    val lazySrc = mkSource(dir, fodl = false)
    lazySrc.getBatch(Some(end0), LongOffset(2)) // must not throw
    // and a FRESH strict source (restart: ceiling unknown) stays lazy
    // on the same range — the no-wedge posture wins the tie
    val restarted = mkSource(dir, fodl = true)
    restarted.getBatch(Some(end0), LongOffset(2)) // must not throw
  }

  test("failOnDataLoss=true still restarts over an already-committed vacuumed range") {
    // the default (lazy) posture restarts too
    for (fodl <- Seq("true", "false")) {
      val dir = freshDir("graft-txfodlr")
      val sink = freshDir("graft-txfodlrsink")
      val ckpt = freshDir("graft-txfodlrck")
      def runOnce(): Unit = {
        val q = spark.readStream.format("txlog").option("path", dir)
          .option("skipRewrites", "true")
          .option("failOnDataLoss", fodl).load()
          .select("id", "k", "_commit_version")
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      }
      TxLog.append(sample(0, 10), dir)          // v0
      TxLog.append(sample(10, 15), dir)         // v1
      runOnce()                                 // both delivered + committed
      // retention passes the DELIVERED v1: restart must not wedge — the
      // re-plan's ceiling is unknown on a fresh instance, so the lazy
      // posture wins and the discarded re-init frame never executes
      TxLog.delete(spark, dir, "id >= 10")      // v2: supersedes v1's segment
      TxLog.vacuum(dir, keepVersions = 1)
      TxLog.append(sample(20, 23), dir)         // v3: new rows
      runOnce()
      val out = spark.read.parquet(sink)
      assert(out.count() == 18, s"got ${out.count()}")
      assert(out.groupBy("_commit_version").count().as[(Long, Long)]
        .collect().toMap == Map(0L -> 10L, 1L -> 5L, 3L -> 3L))
    }
  }

  test("a vacuumed SKIPPED rewrite does not wedge a skipRewrites stream") {
    val dir = freshDir("graft-txvac")
    val sink = freshDir("graft-txvacsink")
    val ckpt = freshDir("graft-txvacck")
    def runOnce(): Unit = {
      val q = spark.readStream.format("txlog").option("path", dir)
        .option("skipRewrites", "true").load()
        .select("id", "k", "_commit_version")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    TxLog.append(sample(0, 10), dir)          // v0
    runOnce()                                 // v0 checkpointed
    TxLog.optimize(spark, dir, Seq("id"), 2)  // v1: rewrite (skipped)
    TxLog.optimize(spark, dir, Seq("id"), 1)  // v2: rewrite, removes v1's output
    TxLog.vacuum(dir, keepVersions = 1)       // reclaims v1's output bytes
    TxLog.append(sample(10, 13), dir)         // v3: new rows
    // the resumed stream's range covers the vacuumed v1 — but v1 is a
    // rewrite this stream skips, so its missing files must NOT raise
    // the retention error (that would wedge the stream permanently on
    // bytes it never needed); v3 still arrives
    runOnce()
    val out = spark.read.parquet(sink)
    assert(out.count() == 13, s"got ${out.count()}")
    assert(out.groupBy("_commit_version").count().as[(Long, Long)]
      .collect().toMap == Map(0L -> 10L, 3L -> 3L))
  }

  test("changeFeed mode also survives a vacuumed rearrangement (no wedge)") {
    val dir = freshDir("graft-txvac")
    val sink = freshDir("graft-txvacsink")
    val ckpt = freshDir("graft-txvacck")
    def runOnce(): Unit = {
      val q = spark.readStream.format("txlog").option("path", dir)
        .option("changeFeed", "true").load()
        .select("id", "k", "_commit_version", "_change_type")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    TxLog.append(sample(0, 10), dir)          // v0
    runOnce()
    TxLog.optimize(spark, dir, Seq("id"), 2)  // v1: rearrangement
    TxLog.optimize(spark, dir, Seq("id"), 1)  // v2: removes v1's output
    TxLog.vacuum(dir, keepVersions = 1)       // reclaims v1's bytes
    TxLog.deleteMoR(spark, dir, "id >= 8")    // v3: real row-level change
    // the resumed CDF range covers the vacuumed v1 — a rearrangement
    // the change feed filters out; its missing files must not wedge
    runOnce()
    val out = spark.read.parquet(sink)
      .groupBy("_change_type").count().as[(String, Long)].collect().toMap
    assert(out == Map("insert" -> 10L, "delete" -> 2L), s"got $out")
  }

  test("vacuum past an unprocessed offset fails with a typed retention error") {
    val dir = freshDir("graft-txvac")
    TxLog.append(sample(0, 10), dir)             // v0
    TxLog.append(sample(10, 20), dir)            // v1
    TxLog.overwrite(sample(0, 5), dir)           // v2: drops v0/v1 segments
    TxLog.vacuum(dir, keepVersions = 1)          // reclaims their bytes
    // a stream starting at version 0 needs v0's vacuumed segments
    // (skipRewrites keeps the overwrite from failing first — the
    // retention error is the one this consumer needs to see)
    val q = spark.readStream.format("txlog").option("path", dir)
      .option("skipRewrites", "true").load()
      .writeStream.format("memory").queryName("txvac_dead").start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(rootMessages(failed).exists(m => m != null &&
        m.contains("vacuumed") && m.contains("retention")),
      s"wrong failure: ${failed.getMessage}")
  }

  test("a column dropped mid-stream fails the stream loud (drift guard, drop side)") {
    val dir = freshDir("graft-txdrop")
    TxLog.append(sample(0, 10), dir)
    val sink = freshDir("graft-txdropsink")
    val ckpt = freshDir("graft-txdropck")
    def start() = spark.readStream.format("txlog").option("path", dir).load()
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      q.processAllAvailable()
      // `k` is dropped while the stream still delivers it: every later
      // batch would silently backfill null where consumers expect data
      TxLog.dropColumn(spark, dir, "k")
      TxLog.append(spark.range(10, 15).toDF("id"), dir)
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(rootMessages(failed).exists(m => m != null &&
          m.contains("dropped mid-stream")),
        s"wrong failure: ${failed.getMessage}")
    } finally q.stop()
    assert(spark.read.parquet(sink).count() == 10, "no post-drop delivery")
  }
}
