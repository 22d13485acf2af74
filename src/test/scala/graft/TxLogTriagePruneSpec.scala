package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.sources.TxLog

/** STATS-PRE-PRUNED arbitrary-predicate DML triage: `delete` /
  * `update` / `replaceWhere` extract prunable conjuncts
  * (`col {=,<,<=,>,>=} literal`, BETWEEN via its >=/<= pair) from the
  * predicate and intersect them with recorded per-segment [min,max]
  * BEFORE the triage scan — a date-sliced DML opens only the segments
  * whose stats intersect the slice, exactly like the dedicated
  * deleteRange/optimizeWhere paths. Unanalyzable predicates and
  * type-family mismatches (string literal vs numeric stats and vice
  * versa — a falsely-pruned segment would be silent row loss) fall
  * back to the full live set, strictly conservative. */
class TxLogTriagePruneSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-txprune").toString

  /** 4 date-sliced segments with stats on `day` (and `id`), 8 rows
    * each: day = 199X-06-15 for X in 5..8, ids are disjoint ranges. */
  private def slicedTable(): (String, Map[String, String]) = {
    val dir = freshDir()
    val segOfYear = (5 to 8).map { x =>
      val rows = (0 until 8).map(i => ((x * 100 + i).toLong, s"199$x-06-15"))
      TxLog.appendWithStats(spark, rows.toDF("id", "day"), dir,
        Seq("day", "id"))
      s"199$x" -> TxLog.liveSegments(dir).last
    }.toMap
    (dir, segOfYear)
  }

  /** Records read across all tasks while `body` runs. */
  // records-read harness: the shared SparkTestBase.countRecordsRead

  test("date-slice conjuncts shrink the triage to intersecting segments only") {
    val (dir, segOfYear) = slicedTable()
    // equality slice + an unprunable extra conjunct (no stats on a
    // synthetic expression) → exactly the 1996 segment
    val cands = TxLog.triageCandidatesOf(spark, dir,
      "day = '1996-06-15' AND id % 2 = 0")
    assert(cands == Seq(segOfYear("1996")), s"cands=$cands")
    // BETWEEN (parses to >=/<=) spanning two slices
    val two = TxLog.triageCandidatesOf(spark, dir,
      "day BETWEEN '1996-01-01' AND '1997-12-31'")
    assert(two.toSet == Set(segOfYear("1996"), segOfYear("1997")), s"two=$two")
    // reversed operand order and strict bounds
    val hi = TxLog.triageCandidatesOf(spark, dir, "'1998-01-01' < day")
    assert(hi == Seq(segOfYear("1998")), s"hi=$hi")
    // numeric conjunct on the second stats column. Strict bounds are
    // treated as inclusive (canPrune's domain), so the probe stays off
    // the 800-slice's exact min — a boundary-equal segment is
    // conservatively kept, never falsely pruned.
    val ids = TxLog.triageCandidatesOf(spark, dir, "id >= 700 AND id < 799")
    assert(ids == Seq(segOfYear("1997")), s"ids=$ids")
    // IN-list = OR of point probes: skips a segment only when EVERY
    // element misses it
    val in = TxLog.triageCandidatesOf(spark, dir,
      "day IN ('1995-06-15', '1998-06-15')")
    assert(in.toSet == Set(segOfYear("1995"), segOfYear("1998")), s"in=$in")
    val inIds = TxLog.triageCandidatesOf(spark, dir, "id IN (501, 502, 599)")
    assert(inIds == Seq(segOfYear("1995")), s"inIds=$inIds")
  }

  test("unanalyzable / type-mismatched predicates fall back to the full live set") {
    val (dir, _) = slicedTable()
    val live = TxLog.liveSegments(dir).toSet
    // OR at the top level: no prunable conjunct
    assert(TxLog.triageCandidatesOf(spark, dir,
      "day = '1996-06-15' OR id = 1").toSet == live)
    // string literal vs NUMERIC stats: lexicographic-vs-numeric order
    // disagreement ('05' = 5) — must not prune
    assert(TxLog.triageCandidatesOf(spark, dir, "id = '9999'").toSet == live)
    // numeric literal vs STRING stats: same guard, other direction
    assert(TxLog.triageCandidatesOf(spark, dir, "day > 3000").toSet == live)
    // unparseable probe against numeric stats proves nothing
    assert(TxLog.triageCandidatesOf(spark, dir, "id = 'abc'").toSet == live)
    // a column with NO recorded stats keeps everything
    val d2 = freshDir()
    TxLog.append(Seq((1L, "a")).toDF("id", "day"), d2)
    TxLog.append(Seq((2L, "b")).toDF("id", "day"), d2)
    assert(TxLog.triageCandidatesOf(spark, d2, "day = 'zzz'").toSet ==
      TxLog.liveSegments(d2).toSet)
  }

  test("delete on a date slice reads only that slice (listener-counted)") {
    val (dir, segOfYear) = slicedTable()
    val before = TxLog.liveSegments(dir).toSet
    // 32 rows total, 8 per slice: a pruned triage reads 8 (triage) +
    // 8 (rewrite of the one dirty segment); the pre-fix full triage
    // read all 32 + 8. Assert comfortably under the full-scan floor.
    val (_, recs) = countRecordsRead {
      TxLog.delete(spark, dir, "day = '1996-06-15' AND id % 2 = 0")
    }
    assert(recs <= 24, s"triage read $recs records — full-table scan is back")
    // correctness: 4 rows gone from 1996, other slices byte-identical
    val left = TxLog.read(spark, dir)
    assert(left.count() == 28)
    assert(left.where("day = '1996-06-15'").count() == 4)
    val after = TxLog.liveSegments(dir).toSet
    assert((before - segOfYear("1996")).subsetOf(after),
      "clean slices must carry by reference")
    assert(!after.contains(segOfYear("1996")), "dirty slice must be rewritten")
  }

  test("replaceWhere backfill drops the slice wholesale without scanning others") {
    val (dir, segOfYear) = slicedTable()
    val before = TxLog.liveSegments(dir).toSet
    val incoming = (0 until 3).map(i => ((900 + i).toLong, "1997-06-15"))
      .toDF("id", "day")
    // all-match slice: 8 (triage) + 0 (no straddlers) + 3 (staged
    // validation) records; the pre-fix full triage read 32 + 3
    val (_, recs) = countRecordsRead {
      TxLog.replaceWhere(spark, dir,
        "day BETWEEN '1997-01-01' AND '1997-12-31'", incoming,
        statsCols = Seq("day"))
    }
    assert(recs <= 20, s"replaceWhere read $recs records — full scan is back")
    val after = TxLog.liveSegments(dir).toSet
    assert(!after.contains(segOfYear("1997")), "1997 slice must drop wholesale")
    assert((before - segOfYear("1997")).subsetOf(after),
      "other slices must carry by reference")
    assert(TxLog.read(spark, dir).where("day like '1997%'").count() == 3)
    assert(TxLog.read(spark, dir).count() == 27)
  }

  test("update on a keyed range rewrites only the covering segment") {
    val (dir, segOfYear) = slicedTable()
    val before = TxLog.liveSegments(dir).toSet
    val (_, recs) = countRecordsRead {
      TxLog.update(spark, dir, "id >= 800 AND id <= 805",
        Map("day" -> "'2000-01-01'"))
    }
    // footer-union tableSchema() adds no records; triage 8 + rewrite 8
    assert(recs <= 24, s"update read $recs records — full-table scan is back")
    assert(TxLog.read(spark, dir).where("day = '2000-01-01'").count() == 6)
    assert((before - segOfYear("1998")).subsetOf(TxLog.liveSegments(dir).toSet),
      "non-covering slices must carry by reference")
  }

  test("string stats compare in UTF-8 order: supplementary chars never falsely prune") {
    // Spark's min/max over strings is UTF-8 (code-point) order; Java's
    // String `<` is UTF-16 code-UNIT order, which ranks an emoji
    // (surrogate lead 0xD83D) BELOW U+FFFD. A segment whose recorded
    // max is the emoji must still triage for a U+FFFD probe — a
    // UTF-16 compare would prune it and the DML would silently miss
    // the matching row.
    val dir = freshDir()
    TxLog.appendWithStats(spark,
      Seq((1L, "�"), (2L, "😀")).toDF("id", "s"), dir, Seq("s"))
    TxLog.appendWithStats(spark,
      Seq((3L, "aaa"), (4L, "bbb")).toDF("id", "s"), dir, Seq("s"))
    val segs = TxLog.liveSegments(dir)
    val cands = TxLog.triageCandidatesOf(spark, dir, "s = '�'")
    assert(cands.contains(segs.head),
      s"UTF-16 ordering falsely pruned the emoji segment: $cands")
    assert(!cands.contains(segs.last), "the ascii segment must prune")
    TxLog.delete(spark, dir, "s = '�'")
    val left = TxLog.read(spark, dir).select("id").as[Long].collect().toSet
    assert(left == Set(2L, 3L, 4L), s"row 1 must be deleted, got $left")
  }

  test("readWhere prunes like the DML triage and matches the full-scan filter") {
    val (dir, segOfYear) = slicedTable()
    val preds = Seq(
      "day = '1996-06-15' AND id % 2 = 0",
      "day BETWEEN '1996-01-01' AND '1997-12-31'",
      "id >= 700 AND id <= 799",
      "day = '1996-06-15' OR id = 801", // unanalyzable: full-scan fallback
      "id IN (501, 502, 799)")
    preds.foreach { p =>
      val pruned = TxLog.readWhere(spark, dir, p)
        .select("id").as[Long].collect().sorted.toSeq
      val full = TxLog.read(spark, dir).filter(p)
        .select("id").as[Long].collect().sorted.toSeq
      assert(pruned == full, s"readWhere($p) diverged: $pruned vs $full")
    }
    // the pruning itself: a one-slice read opens one segment
    val (_, recs) = countRecordsRead {
      TxLog.readWhere(spark, dir, "day = '1998-06-15' AND id >= 0").count()
    }
    assert(recs <= 8, s"readWhere read $recs records — full scan is back")
    assert(segOfYear.size == 4) // slices intact
  }

  test("bloom sidecars prune point probes the range stats cannot") {
    val dir = freshDir()
    // interleaved ids: both segments span [1,8] so min/max never
    // separates them — only the bloom can prove a point absent
    TxLog.appendWithStats(spark, Seq(1L, 3L, 5L, 7L).map(i => (i, s"a$i"))
      .toDF("id", "v"), dir, Seq("id"), bloomCols = Seq("id"))
    TxLog.appendWithStats(spark, Seq(2L, 4L, 6L, 8L).map(i => (i, s"b$i"))
      .toDF("id", "v"), dir, Seq("id"), bloomCols = Seq("id"))
    val segs = TxLog.liveSegments(dir)
    val cands = TxLog.triageCandidatesOf(spark, dir, "id = 5 AND v IS NOT NULL")
    assert(cands == Seq(segs.head),
      s"bloom must prune the even segment for id=5: $cands")
    // and the read is exact
    assert(TxLog.readWhere(spark, dir, "id = 5").select("v")
      .as[String].head() == "a5")
    // a numeric probe against STRING stats/blooms must not prune
    // (cast-equality '05' = 5 would be lost)
    val all = TxLog.triageCandidatesOf(spark, dir, "v = 5")
    assert(all.toSet == segs.toSet, s"type-mismatched bloom pruned: $all")
  }

  test("pruned DML agrees with the unpruned result (no row lost to a false prune)") {
    // same predicate driven through a table WITH stats and one WITHOUT:
    // identical survivors proves pruning only skips provably-clean data
    def build(withStats: Boolean): String = {
      val dir = freshDir()
      (5 to 8).foreach { x =>
        val rows = (0 until 8).map(i => ((x * 100 + i).toLong,
          if (i == 7) null else s"199$x-06-15")) // NULL days ride along
        val df = rows.toDF("id", "day")
        if (withStats) TxLog.appendWithStats(spark, df, dir, Seq("day"))
        else TxLog.append(df, dir)
      }
      dir
    }
    val (a, b) = (build(true), build(false))
    val pred = "day >= '1996-01-01' AND day < '1998-01-01'"
    Seq(a, b).foreach(d => TxLog.delete(spark, d, pred))
    val sa = TxLog.read(spark, a).select("id", "day")
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    val sb = TxLog.read(spark, b).select("id", "day")
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(sa == sb, "pruned and unpruned deletes diverged")
    assert(sa.count(_._2.isEmpty) == 4, "NULL-day rows must all survive")
  }

  test("bloom probing is capped: past the cap the probes move off the driver, never wrong") {
    // 6 segments whose id RANGES all overlap (1..100) so range stats
    // discriminate nothing; each holds one distinct key bloom can prove
    val dir = freshDir()
    (0 until 6).foreach { i =>
      TxLog.appendWithStats(spark,
        Seq((1L, s"lo$i"), (10L + i, s"mid$i"), (100L, s"hi$i"))
          .toDF("id", "v"), dir, Seq("id"), bloomCols = Seq("id"))
    }
    val probe = "id = 12" // lives in exactly segment i=2
    def withCap[T](cap: Int)(body: => T): T = TxLog.withBloomProbeCap(cap)(body)
    // under the cap: blooms prune to the single holder via DRIVER-side
    // lazy sidecar reads (observable in metaReads)
    val before = graft.sources.LogStore.metaReads.get()
    val pruned = withCap(6)(TxLog.triageCandidatesOf(spark, dir, probe))
    val readsUncapped = graft.sources.LogStore.metaReads.get() - before
    assert(pruned.size == 1, s"blooms must isolate the holder: $pruned")
    assert(readsUncapped >= 6,
      s"driver probe must pay one sidecar read per survivor: $readsUncapped")
    // past the cap: the probes run as ONE distributed job — the ANSWER
    // is identical (the holder isolated), the sidecar loads just moved
    // off the driver's lazy path
    val capped = withCap(5)(TxLog.triageCandidatesOf(spark, dir, probe))
    assert(capped == pruned,
      s"distributed triage must match the driver answer: $capped")
    // both answers drive the same exact result
    assert(TxLog.readWhere(spark, dir, probe).select("v")
      .as[String].collect().toSeq == Seq("mid2"))
    // prunePoint (metadata-only API, no session to run a job with)
    // keeps the conservative skip above the cap
    val (keptU, _) = withCap(6)(TxLog.prunePoint(dir, "id", "12"))
    val (keptC, _) = withCap(5)(TxLog.prunePoint(dir, "id", "12"))
    assert(keptU.size == 1 && keptC.size == 6,
      s"prunePoint cap: uncapped=$keptU capped=$keptC")
  }

  test("a zero-row stats append advances the version without an unprunable segment") {
    val dir = freshDir()
    TxLog.appendWithStats(spark,
      Seq((1L, "1995-06-15")).toDF("id", "day"), dir, Seq("day"))
    // an occasionally-empty date-sliced loader: the empty batch's
    // segment would carry NO stats (min/max fold to null) and defeat
    // pruning forever — it must commit its version WITHOUT the segment
    val v = TxLog.appendWithStats(spark,
      Seq.empty[(Long, String)].toDF("id", "day"), dir, Seq("day"))
    assert(v == 1, s"empty append must still claim its slot, got $v")
    assert(TxLog.liveSegments(dir).size == 1,
      s"live: ${TxLog.liveSegments(dir)}")
    assert(TxLog.triageCandidatesOf(spark, dir, "day = '1996-01-01'").isEmpty,
      "a non-intersecting probe must prune everything")
    assert(TxLog.read(spark, dir).count() == 1)
    // the incremental consumer contract survives: per-version read of
    // the empty append yields the empty frame, not an exception
    assert(TxLog.readCommit(spark, dir, v).count() == 0)
  }

  test("all-match proof keeps strictness and needs every conjunct recognized") {
    // each segment holds ids X00..X07 with zero nulls, so an inclusive
    // bound at its min or max would prove the segment all-match; a
    // strict one must not, or the boundary row is dropped with it
    val (dir, _) = slicedTable()
    def ids = TxLog.read(spark, dir).select("id").as[Long].collect().toSet
    TxLog.delete(spark, dir, "id > 500 AND id <= 507")
    assert(ids.contains(500L), "id > min must keep the min row")
    TxLog.delete(spark, dir, "id >= 600 AND id < 607")
    assert(ids.contains(607L), "id < max must keep the max row")
    TxLog.delete(spark, dir, "700 < id AND id <= 707")
    assert(ids.contains(700L), "min < id must keep the min row")
    // `id % 2 = 0` is unrecognized: the segment must be rewritten, not
    // dropped because its recognized conjunct covers it
    TxLog.delete(spark, dir, "id >= 800 AND id % 2 = 0")
    assert(ids == Set(500L, 607L, 700L, 801L, 803L, 805L, 807L), s"ids=$ids")
  }

  test("float columns never classify all-match: the DOUBLE-domain literal mismatch") {
    // Spark evaluates `f = 0.1` on a float column in the DOUBLE domain,
    // where (double)0.1f != 0.1 — the predicate matches NO rows. A
    // float-domain stats proof (min=max="0.1", nulls=0) would claim
    // all-match and drop the segment wholesale, silently deleting every
    // row; the classifier must refuse fp columns.
    val dir = freshDir()
    TxLog.appendWithStats(spark,
      (0 until 8).map(i => (i.toLong, 0.1f)).toDF("id", "f"), dir, Seq("f"))
    TxLog.delete(spark, dir, "f = 0.1")
    assert(TxLog.read(spark, dir).count() == 8,
      "f = 0.1 matches nothing in the double domain — no row may vanish")
    // the exact-domain spelling still deletes (scan-classified)
    TxLog.delete(spark, dir, "f = CAST(0.1 AS FLOAT)")
    assert(TxLog.liveSegments(dir).isEmpty,
      "the float-typed probe matches every row — table empties")
  }

  test("DATE-typed literals prune and metadata-drop (ADVICE r15 medium)") {
    // date-partitioned tables are the COMMON partitioning shape; before
    // r16 the walkers recognized only numeric/string literals, so every
    // DATE predicate silently degraded to scan classification
    val dir = freshDir()
    val segs = (1 to 3).map { m =>
      val rows = (0 until 4).map(i =>
        ((m * 10 + i).toLong, java.sql.Date.valueOf(f"2024-0$m%d-15")))
      TxLog.appendWithStats(spark, rows.toDF("id", "day"), dir, Seq("day"))
      TxLog.liveSegments(dir).last
    }
    // typed DATE literal: equality, range, reversed operand, IN
    assert(TxLog.triageCandidatesOf(spark, dir,
      "day = DATE'2024-02-15'") == Seq(segs(1)))
    assert(TxLog.triageCandidatesOf(spark, dir,
      "day >= DATE'2024-03-01'") == Seq(segs(2)))
    assert(TxLog.triageCandidatesOf(spark, dir,
      "DATE'2024-01-20' > day") == Seq(segs(0)))
    assert(TxLog.triageCandidatesOf(spark, dir,
      "day IN (DATE'2024-01-15', DATE'2024-03-15')").toSet ==
      Set(segs(0), segs(2)))
    // the all-match dual: a whole-slice DELETE classifies from
    // metadata (zero-null, min=max covering) and reads NOTHING
    val (_, recs) = countRecordsRead {
      TxLog.delete(spark, dir, "day = DATE'2024-01-15'")
    }
    assert(recs == 0, s"date-slice delete read $recs records")
    assert(TxLog.read(spark, dir).count() == 8)
    assert(!TxLog.liveSegments(dir).contains(segs(0)))
  }

  test("TIMESTAMP literals prune under the UTC session (ADVICE r15)") {
    val dir = freshDir()
    val segs = (1 to 2).map { m =>
      val rows = (0 until 3).map(i => ((m * 10 + i).toLong,
        java.sql.Timestamp.valueOf(f"2024-0$m%d-15 12:30:0$i%d")))
      TxLog.appendWithStats(spark, rows.toDF("id", "ts"), dir, Seq("ts"))
      TxLog.liveSegments(dir).last
    }
    assert(TxLog.triageCandidatesOf(spark, dir,
      "ts < TIMESTAMP'2024-02-01 00:00:00'") == Seq(segs(0)))
    assert(TxLog.triageCandidatesOf(spark, dir,
      "ts BETWEEN TIMESTAMP'2024-02-01 00:00:00' AND " +
        "TIMESTAMP'2024-02-28 23:59:59'") == Seq(segs(1)))
  }

  test("fractional literal over an integral column proves nothing (ADVICE r15 low)") {
    // `longCol >= 4.6E18`: Spark evaluates after casting the column to
    // DOUBLE, where 4599999999999999999L rounds ONTO 4.6E18 and
    // matches — but the exact BigDecimal compare puts the segment max
    // strictly below the bound and would prune it: silent row loss.
    // The 'F' literal kind must refuse integral stat columns entirely.
    val dir = freshDir()
    TxLog.appendWithStats(spark,
      Seq((4599999999999999999L, "hi")).toDF("v", "s"), dir, Seq("v"))
    TxLog.appendWithStats(spark,
      Seq((1L, "lo")).toDF("v", "s"), dir, Seq("v"))
    val live = TxLog.liveSegments(dir).toSet
    assert(TxLog.triageCandidatesOf(spark, dir, "v >= 4.6E18").toSet == live,
      "double-kind literal over a long column must not prune")
    // and the DML stays correct end-to-end: the row Spark's double-
    // domain evaluation matches is deleted
    TxLog.delete(spark, dir, "v >= 4.6E18")
    assert(TxLog.read(spark, dir).count() == 1)
  }

  test("non-binary default collation refuses string bounds (ADVICE r15)") {
    val (dir, segOfYear) = slicedTable()
    val key = "spark.sql.session.collation.default"
    val had = scala.util.Try(spark.conf.get(key)).toOption
    try {
      spark.conf.set(key, "UTF8_LCASE")
      // byte-order proofs are unsound under case-insensitive compare —
      // the walker must fall back to the full live set
      assert(TxLog.triageCandidatesOf(spark, dir,
        "day = '1996-06-15'").toSet == TxLog.liveSegments(dir).toSet)
    } finally {
      spark.conf.set(key, had.getOrElse("UTF8_BINARY"))
    }
    // back under binary collation the slice prunes again
    assert(TxLog.triageCandidatesOf(spark, dir,
      "day = '1996-06-15'") == Seq(segOfYear("1996")))
  }

  test("IN recognition holds to 1024 elements (the dynamic-overwrite bound)") {
    val (dir, segOfYear) = slicedTable()
    // a 100-element IN whose only live hit is the 1996 slice: the
    // triage must still prune to that one segment (the pre-r15 cap of
    // 64 silently degraded this to a full scan)
    val vals = (Seq("'1996-06-15'") ++
      (1 to 99).map(i => s"'2100-01-${(i % 28) + 1}'")).mkString(", ")
    val cands = TxLog.triageCandidatesOf(spark, dir, s"day IN ($vals)")
    assert(cands == Seq(segOfYear("1996")), s"cands=$cands")
  }
}
