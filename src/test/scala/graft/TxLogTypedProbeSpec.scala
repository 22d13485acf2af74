package graft

import java.time.LocalDate

import graft.sources.TxLog

/** The one-column txlog surfaces (`readPoint`, `readRange`,
  * `deleteRange`, `prunePoint`, `pruneRange`) cast their probe strings
  * to the column's type and prune exactly as the SQL-predicate triage
  * does: a non-canonical date probe finds its row, an unparseable probe
  * keeps every segment instead of throwing, and a read at a vacuumed
  * version raises the typed retention error `read` raises. */
class TxLogTypedProbeSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-typedprobe").toString

  /** 31 rows, one per day of January 2024 (`id` = day of month), in four
    * week-sliced segments with stats on the DATE column `day`. */
  private def januaryTable(): String = {
    val dir = freshDir()
    (1 to 31).grouped(8).foreach { days =>
      val rows = days.map(d => (d.toLong, LocalDate.of(2024, 1, d)))
      TxLog.appendWithStats(spark, rows.toDF("id", "day"), dir, Seq("day"))
    }
    dir
  }

  /** 10 rows, ids 1..10, in two segments with stats on the LONG `id`. */
  private def longTable(): String = {
    val dir = freshDir()
    Seq(1L to 5L, 6L to 10L).foreach { ids =>
      TxLog.appendWithStats(spark, ids.map(i => (i, s"v$i")).toDF("id", "v"),
        dir, Seq("id"))
    }
    dir
  }

  test("a non-canonical date probe reads and prunes to the one matching row") {
    val dir = januaryTable()
    val want = List(5L)
    assert(TxLog.readWhere(spark, dir, "day = '2024-1-5'")
      .select("id").as[Long].collect().toList == want)
    assert(TxLog.readRange(spark, dir, "day", Some("2024-1-5"), Some("2024-1-5"))
      .select("id").as[Long].collect().toList == want)
    assert(TxLog.readPoint(spark, dir, "day", "2024-1-5")
      .select("id").as[Long].collect().toList == want)
    // and the stats still prune: only the first week's segment can hold it
    val (kept, pruned) = TxLog.pruneRange(dir, "day", Some("2024-1-5"), Some("2024-1-5"))
    assert(kept.size == 1 && pruned.size == 3, s"kept=$kept pruned=$pruned")
    assert(TxLog.prunePoint(dir, "day", "2024-1-5")._1 == kept)
  }

  test("deleteRange with a non-canonical date probe removes the matching row") {
    val dir = januaryTable()
    TxLog.deleteRange(spark, dir, "day", "2024-1-5", "2024-1-5")
    val left = TxLog.read(spark, dir).select("id").as[Long].collect().toSet
    assert(left == (1L to 31L).toSet - 5L, s"left ${left.size} rows")
  }

  test("an unparseable probe on a long column keeps every segment") {
    val dir = longTable()
    val live = TxLog.liveSegments(dir)
    assert(TxLog.pruneRange(dir, "id", Some("abc"), Some("abc")) == (live, Nil))
    assert(TxLog.pruneRange(dir, "id", Some("abc"), None) == (live, Nil))
    assert(TxLog.prunePoint(dir, "id", "abc") == (live, Nil))
    // one bad side leaves the good one: ids >= 6 live in the second segment
    assert(TxLog.pruneRange(dir, "id", Some("6"), Some("abc")) == (live.drop(1), live.take(1)))
  }

  test("readRange and readPoint at a vacuumed version raise the typed retention error") {
    val dir = longTable()                                           // v0, v1
    TxLog.overwrite(Seq((11L, "v11")).toDF("id", "v"), dir)         // v2
    TxLog.vacuum(dir, keepVersions = 1)
    def vacuumed(read: => Any): Unit = {
      val e = intercept[IllegalStateException](read)
      assert(e.getMessage.contains("was vacuumed"), s"wrong error: ${e.getMessage}")
    }
    vacuumed(TxLog.read(spark, dir, asOf = 1))
    vacuumed(TxLog.readWhere(spark, dir, "id = 3", asOf = 1))
    vacuumed(TxLog.readRange(spark, dir, "id", Some("1"), Some("3"), asOf = 1))
    vacuumed(TxLog.readPoint(spark, dir, "id", "3", asOf = 1))
    assert(TxLog.readPoint(spark, dir, "id", "11").select("v").as[String].collect()
      .toList == List("v11"))
  }
}
