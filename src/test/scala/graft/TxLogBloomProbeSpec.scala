package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog

/** Above-[[TxLog.bloomProbeCap]] bloom pruning: when range stats don't
  * discriminate (every segment spans the same id range) and the
  * candidate count exceeds the cap, the point-lookup and triage paths
  * run ONE distributed sidecar-probe job instead of silently skipping
  * blooms — results unchanged, records-read ∝ the one segment that
  * can hold the key, sidecar loads off the driver. Metadata-only
  * callers (no session in hand) keep the conservative skip. */
class TxLogBloomProbeSpec extends SparkTestBase {
  import spark.implicits._

  private def withCap[T](cap: Int)(body: => T): T =
    TxLog.withBloomProbeCap(cap)(body)

  /** 12 segments whose `id` ranges all overlap (1..1000 with one
    * shared outlier pattern) but whose bloom'd `key` values are
    * disjoint — ranges keep everything, only blooms discriminate. */
  private def hayTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomjob").toString
    (0 until 12).foreach { s =>
      val rows = (0 until 50).map(i => (if (i == 0) 1L else if (i == 1) 1000L
        else (s * 50 + i).toLong, s"k${s}_$i", s))
      TxLog.appendWithStats(spark, rows.toDF("id", "key", "segno"), dir,
        Seq("id"), bloomCols = Seq("key"))
    }
    dir
  }

  test("above the cap, triage still bloom-prunes via the distributed job") {
    val dir = hayTable()
    withCap(4) {
      // all 12 segments survive the range phase (overlapping id spans);
      // the distributed probe narrows to the ONE segment whose bloom
      // admits the key
      val kept = TxLog.triageCandidatesOf(spark, dir, "key = 'k7_13'")
      assert(kept.size == 1, s"kept ${kept.size}: $kept")
      // and the result is exactly the under-cap (driver-probe) answer
      val ref = withCap(1000) {
        TxLog.triageCandidatesOf(spark, dir, "key = 'k7_13'")
      }
      assert(kept == ref)
    }
  }

  test("readPoint above the cap: records-read ∝ one segment, rows exact") {
    val dir = hayTable()
    withCap(4) {
      val (rows, recs) = countRecordsRead {
        TxLog.readPoint(spark, dir, "key", "k3_42").collect()
      }
      assert(rows.length == 1 && rows.head.getString(1) == "k3_42")
      assert(recs <= 50, s"read $recs records, expected one 50-row segment")
    }
  }

  test("IN-list triage above the cap probes each value once per sidecar") {
    val dir = hayTable()
    withCap(4) {
      val kept = TxLog.triageCandidatesOf(spark, dir,
        "key IN ('k2_10', 'k9_30', 'nope')")
      assert(kept.size == 2, s"kept: $kept")
    }
  }

  test("metadata-only prunePoint (no session) keeps the conservative skip") {
    val dir = hayTable()
    withCap(4) {
      val (kept, pruned) = TxLog.prunePoint(dir, "key", "k7_13")
      assert(kept.size == 12 && pruned.isEmpty,
        s"metadata-only path must not fire jobs: kept ${kept.size}")
    }
  }

  test("distributed answers match driver answers segment-for-segment") {
    val dir = hayTable()
    val probes = Seq("k0_5", "k11_49", "absent_key", "k5_0")
    val under = withCap(1000) {
      probes.map(v => TxLog.triageCandidatesOf(spark, dir, s"key = '$v'"))
    }
    val over = withCap(2) {
      probes.map(v => TxLog.triageCandidatesOf(spark, dir, s"key = '$v'"))
    }
    assert(under == over, s"under=$under over=$over")
  }
}
