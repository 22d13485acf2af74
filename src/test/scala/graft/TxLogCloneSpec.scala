package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog

/** Zero-copy SHALLOW CLONE: the clone references the source's segments
  * in place, diverges independently, localizes on rewrite, and neither
  * side's maintenance can delete storage it doesn't own. */
class TxLogCloneSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-txclone").toString

  private def sampleDF(n: Int) =
    spark.range(n.toLong).select(col("id"), (col("id") % 10).as("k"),
      concat(lit("r"), col("id")).as("v"))

  private def dataDirs(dir: String): Set[String] =
    new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName != "_txlog").map(_.getName).toSet

  test("clone copies zero data bytes and reads identically, including DVs") {
    val src = freshDir(); val clone = freshDir() + "/c"
    TxLog.appendWithStats(spark, sampleDF(100).filter(col("id") < 50), src,
      Seq("id"))
    TxLog.appendWithStats(spark, sampleDF(100).filter(col("id") >= 50), src,
      Seq("id"))
    TxLog.deleteMoR(spark, src, "k = 4") // clone must see the tombstones
    val v = TxLog.cloneShallow(src, clone)
    assert(v == 0 && TxLog.commitOp(clone, 0) == "clone")
    assert(dataDirs(clone).isEmpty, "shallow clone must copy no data")
    assert(TxLog.read(spark, clone).orderBy("id").collect().toSeq ==
      TxLog.read(spark, src).orderBy("id").collect().toSeq)
    assert(TxLog.read(spark, clone).count() == 90)
    // carried stats still prune on the clone (value-based, portable)
    val (_, pruned) = TxLog.pruneRange(clone, "id", Some("10"), Some("19"))
    assert(pruned.nonEmpty, "clone lost the source's range-skipping stats")
  }

  test("clone is a snapshot: later source commits do not leak in, and vice versa") {
    val src = freshDir(); val clone = freshDir() + "/c"
    TxLog.append(sampleDF(40), src)
    TxLog.cloneShallow(src, clone)
    TxLog.append(sampleDF(100).filter(col("id") >= 90), src) // source moves on
    TxLog.append(sampleDF(210).filter(col("id") >= 200), clone) // clone moves on
    assert(TxLog.read(spark, src).count() == 50)
    assert(TxLog.read(spark, clone).count() == 50)
    assert(TxLog.read(spark, clone).filter("id >= 90 and id < 100").count() == 0)
    assert(TxLog.read(spark, src).filter("id >= 200").count() == 0)
  }

  test("DML on the clone writes only into the clone; MoR attribution crosses the boundary") {
    val src = freshDir(); val clone = freshDir() + "/c"
    TxLog.append(sampleDF(60), src)
    TxLog.cloneShallow(src, clone)
    val srcHead = TxLog.headVersion(src)
    // MoR delete on the CLONE: tombstones attribute to the EXTERNAL
    // segment reference (bare-name translation) — no resurrection
    TxLog.deleteMoR(spark, clone, "k = 3")
    assert(TxLog.read(spark, clone).count() == 54)
    assert(TxLog.read(spark, clone).filter("k = 3").count() == 0)
    // CoW update on the clone rewrites into the clone's own dir
    TxLog.update(spark, clone, "k = 5", Map("v" -> "'up'"))
    assert(TxLog.read(spark, clone).filter("v = 'up'").count() == 6)
    assert(TxLog.headVersion(src) == srcHead, "clone DML moved the source head")
    assert(TxLog.read(spark, src).count() == 60, "clone DML changed source data")
    // the update localized the dirty segment: its output is owned
    assert(dataDirs(clone).exists(_.startsWith("seg-")))
  }

  test("rewrites localize the clone; vacuum never deletes borrowed storage") {
    val src = freshDir(); val clone = freshDir() + "/c"
    TxLog.append(sampleDF(30).filter(col("id") < 15), src)
    TxLog.append(sampleDF(30).filter(col("id") >= 15), src)
    TxLog.cloneShallow(src, clone)
    TxLog.compact(spark, clone) // localize: rewrite output is owned
    assert(TxLog.read(spark, clone).count() == 30)
    // the external refs are now dead history in the clone's log; vacuum
    // drops them from the log but must NOT reach into the source
    TxLog.vacuum(clone, keepVersions = 1)
    assert(TxLog.read(spark, src).count() == 30, "clone vacuum deleted source bytes")
    assert(TxLog.read(spark, clone).count() == 30)
    // fully severed: the clone now reads from owned storage only
    assert(TxLog.liveSegments(clone).forall(s => !s.startsWith("/") ||
      s.startsWith(new java.io.File(clone).getAbsolutePath)))
  }

  test("localize is TARGETED: borrowed segments rewrite, owned carry by reference, source vacuum then reclaims everything") {
    val src = freshDir(); val clone = freshDir() + "/c"
    TxLog.appendWithStats(spark, sampleDF(40).filter(col("id") < 20), src, Seq("id"))
    TxLog.appendWithStats(spark, sampleDF(40).filter(col("id") >= 20), src, Seq("id"))
    TxLog.deleteMoR(spark, src, "k = 2") // borrowed DV sidecar refs too
    TxLog.cloneShallow(src, clone)
    TxLog.append(sampleDF(100).filter(col("id") >= 90), clone) // owned segment
    val before = TxLog.read(spark, clone).orderBy("id").collect().toSeq
    val ownedBefore = TxLog.liveSegments(clone).filterNot(_.startsWith("/"))
    assert(ownedBefore.size == 1, s"scenario: one owned segment, got $ownedBefore")
    val v = TxLog.localize(spark, clone, statsCols = Seq("id"))
    assert(v.nonEmpty && TxLog.commitOp(clone, v.get) == "localize")
    val after = TxLog.liveSegments(clone)
    assert(after.forall(!_.startsWith("/")),
      s"external refs survived localize: $after")
    assert(after.contains(ownedBefore.head),
      "the owned segment must carry by reference, not rewrite")
    // borrowed segment granularity preserved: 2 borrowed → 2 owned bins
    assert(after.size == 3, s"expected {owned, 2 localized bins}, got $after")
    // nothing borrowed left → localize is a no-op now
    assert(TxLog.localize(spark, clone).isEmpty)
    // bloom re-index over the now-owned bytes (the post-localize step)
    assert(TxLog.analyze(spark, clone, Seq("id"), Seq("id")).nonEmpty)
    val (_, pruned) = TxLog.prunePoint(clone, "id", "95")
    assert(pruned.nonEmpty, "post-localize analyze must restore skipping")
    // the dependency is SEVERED: destroy the source, clone reads identically
    TxLog.overwrite(sampleDF(1), src)
    TxLog.vacuum(src, keepVersions = 1)
    assert(TxLog.read(spark, clone).orderBy("id").collect().toSeq == before)
  }

  test("racing clones of one target: exactly one wins, the loser conflicts loud") {
    val a = freshDir(); val b = freshDir(); val clone = freshDir() + "/c"
    TxLog.append(sampleDF(10), a)
    TxLog.append(sampleDF(30).filter(col("id") >= 20), b)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val ts = Seq(a, b).map(src => new Thread(() =>
      try { TxLog.cloneShallow(src, clone); wins.incrementAndGet(); () }
      catch {
        case _: java.util.ConcurrentModificationException =>
          conflicts.incrementAndGet(); ()
        case _: IllegalArgumentException => // lost the pre-check race
          conflicts.incrementAndGet(); ()
      }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(wins.get() == 1 && conflicts.get() == 1,
      s"wins=${wins.get()} conflicts=${conflicts.get()}")
    // the winner's table is ONE source's content, never a union
    assert(Set(10L, 10L).contains(TxLog.read(spark, clone).count()))
  }

  test("cross-addressed refs: a file:/ source clones into a plain-path target") {
    val src = "file:" + freshDir()
    val clone = freshDir() + "/c"
    TxLog.append(sampleDF(2000), src) // big enough to never be "small"
    TxLog.append(sampleDF(2100).filter(col("id") >= 2000), src)
    TxLog.cloneShallow(src, clone)
    assert(TxLog.read(spark, clone).count() == 2100)
    // the change feeds' retention probes must resolve the borrowed refs
    // through their own scheme too: probed through the target's, every
    // one would read as vacuumed
    val all = (0L until 2100L).toSeq
    val since = TxLog.readChangesSince(spark, clone, -1)
    assert(since.select("id").as[Long].collect().sorted.toSeq == all)
    assert(since.select("_commit_version").distinct().as[Long].collect().toSeq == Seq(0L))
    val feed = TxLog.readChangeFeed(spark, clone, -1)
    assert(feed.select("id").as[Long].collect().sorted.toSeq == all)
    assert(feed.select("_change_type").distinct().as[String].collect().toSeq == Seq("insert"))
    // external sizes must resolve through the REF's own scheme: if they
    // probed as 0 bytes, both borrowed segments would count as "small"
    // and get rewritten here
    assert(TxLog.compactSmall(spark, clone, smallBytes = 1024).isEmpty,
      "external segments mis-probed as zero-size and were compacted")
    // restore across external refs must see them as present
    TxLog.append(sampleDF(2200).filter(col("id") >= 2100), clone)
    TxLog.restore(clone, toVersion = 0)
    assert(TxLog.read(spark, clone).count() == 2100)
  }

  test("clone v0 carries LIVE-only stats; analyze-bloom orphans are vacuumable") {
    val src = freshDir(); val clone = freshDir() + "/c"
    TxLog.appendWithStats(spark, sampleDF(20), src, Seq("id"))
    val dead = TxLog.liveSegments(src).head
    TxLog.overwrite(sampleDF(50).filter(col("id") >= 20), src)
    TxLog.cloneShallow(src, clone)
    // the dead source segment's stats must NOT be absolutized into v0
    val entry = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$clone/_txlog/00000000.txt"))
    assert(!entry.contains(dead), "clone entry references a dead source segment")
    // clone-owned bloom sidecars for borrowed segments are reclaimable
    // once a rewrite localizes the clone
    TxLog.analyze(spark, clone, Seq("id"), bloomCols = Seq("id"))
    def blooms() = new java.io.File(s"$clone/_txlog").listFiles
      .count(_.getName.endsWith(".bloom"))
    assert(blooms() == 1)
    TxLog.compact(spark, clone)
    TxLog.vacuum(clone, keepVersions = 1)
    assert(blooms() == 0, "orphaned clone-side bloom sidecar for an external segment")
    assert(TxLog.read(spark, clone).count() == 30)
  }

  test("clone guards: empty source and non-empty target fail loud") {
    val src = freshDir(); val clone = freshDir() + "/c"
    intercept[IllegalArgumentException] { TxLog.cloneShallow(src, clone) }
    TxLog.append(sampleDF(5), src)
    TxLog.cloneShallow(src, clone)
    intercept[IllegalArgumentException] { TxLog.cloneShallow(src, clone) }
  }
}
