package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.apache.spark.sql.functions._
import graft.ops.TextOps
import graft.pagerank.PageRank
import graft.sources.TxLog
import graft.text.TextAnalysis

/** Property tests (SURVEY.md §5.2.1). Each case runs a real Spark job, so
  * the per-property case count is small — breadth comes from randomness
  * across rounds, not volume. */
object GraftProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkTestBase.session
  import spark.implicits._

  private val rawText: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaChar, 2 -> Gen.const(' '), 1 -> Gen.numChar,
      1 -> Gen.oneOf('!', ',', '.', '\t'))).map(_.mkString)

  property("tokenizer normalize∘scrub is idempotent") = forAll(rawText) { s =>
    val df = Seq(s).toDF("v")
    val once = df.select(
      TextOps.normalizeToken(TextOps.scrubNonAlpha(col("v"))).as("t"))
    val twice = once.select(
      TextOps.normalizeToken(TextOps.scrubNonAlpha(col("t"))).as("t"))
    once.as[String].head() == twice.as[String].head()
  }

  property("fingerprint matches an independent fold") = forAll(rawText) { s =>
    val got = TextAnalysis.fingerprint(Seq((1L, s)).toDF("id", "t"), "id", "t")
      .select("fp").as[Long].head()
    val want = s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000000007L)
    got == want
  }

  private val graphGen: Gen[Map[String, Seq[String]]] = for {
    n <- Gen.choose(2, 7)
    nodes = (0 until n).map(i => s"n$i")
    links <- Gen.sequence[Seq[Seq[String]], Seq[String]](nodes.map(_ =>
      Gen.listOfN(3, Gen.oneOf(nodes :+ "RED")).map(_.take(3))))
  } yield nodes.zip(links).toMap

  private def naive(graph: Map[String, Seq[String]], iters: Int): Map[String, Double] =
    naive(graph.toSeq, iters, None, -1)

  /** The reference recurrence, personalized when `seeds` is given, each
    * iteration rounded HALF_UP to `roundTo` decimals when it is ≥ 0,
    * starting from `start` where it names a page. */
  private def naive(graph: Seq[(String, Seq[String])], iters: Int,
                    seeds: Option[Set[String]], roundTo: Int,
                    start: Map[String, Double] = Map.empty): Map[String, Double] = {
    def rnd(v: Double) =
      if (roundTo < 0) v else BigDecimal(v).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble
    def tele(t: String) = seeds.fold(1.0)(s => if (s(t)) 1.0 / s.size else 0.0)
    val titles = graph.map(_._1).toSet
    var rank = graph.map { case (t, _) =>
      t -> rnd(start.getOrElse(t, seeds.fold(1.0 / graph.size)(_ => tele(t))))
    }.toMap
    for (_ <- 1 to iters) {
      val contribs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for ((t, ls) <- graph if ls.nonEmpty; l <- ls if titles(l))
        contribs(l) += rank(t) / ls.size
      rank = graph.map { case (t, _) => t -> rnd(0.85 * contribs(t) + (1 - 0.85) * tele(t)) }.toMap
    }
    rank
  }

  property("pagerank equals the naive interpreter on random graphs") =
    forAll(graphGen) { g =>
      val df = g.toSeq.toDF("title", "outlinks")
      val got = PageRank.run(df, iters = 3).as[(String, Double)].collect().toMap
      val want = naive(g, 3)
      got.keySet == want.keySet &&
        got.forall { case (t, r) => math.abs(r - want(t)) < 1e-9 }
    }

  property("every surviving page has rank >= 1-d and output is complete") =
    forAll(graphGen) { g =>
      val got = PageRank.run(g.toSeq.toDF("title", "outlinks"), iters = 2)
        .as[(String, Double)].collect()
      got.length == g.size && got.forall(_._2 >= 0.15 - 1e-12)
    }

  // Distributed-tier graphs on a 2–4 partition loop with one partition
  // left empty: random links (duplicates, self-loops and red links
  // among them) plus four fixed pages — a self-loop doubled next to a
  // red link, a dangling page, a page nothing links to, and a null
  // title that null links reach.
  private val loopGraphGen = for {
    n <- Gen.choose(1, 9)
    nodes = (0 until n).map(i => s"n$i")
    links <- Gen.listOfN(n, Gen.choose(0, 5).flatMap(Gen.listOfN(_,
      Gen.frequency(5 -> Gen.oneOf(nodes), 1 -> Gen.oneOf("RED", "n99")))))
    parts <- Gen.choose(2, 4)
    empty <- Gen.choose(0, parts - 1)
    where <- Gen.listOfN(n + 4, Gen.oneOf((0 until parts).filter(_ != empty)))
    seeds <- Gen.nonEmptyContainerOf[Set, String](Gen.oneOf(nodes :+ "loop"))
  } yield {
    val graph = nodes.zip(links) ++ Seq("loop" -> Seq("loop", "RED", "loop"),
      "dangling" -> Seq.empty[String], "orphan" -> Seq("loop", "dangling", nodes.head, null),
      (null: String) -> Seq("loop", null))
    (graph, (0 until parts).map(p => graph.zip(where).collect { case (v, `p`) => v }), seeds)
  }

  property("distributed tier equals the naive interpreter, with seeds and rounding") =
    forAll(loopGraphGen) { case (graph, byPart, seeds) =>
      val df = spark.sparkContext.parallelize(byPart.indices, byPart.size)
        .flatMap(byPart).toDF("title", "outlinks")
      Seq((None, -1), (Some(seeds), 9)).forall { case (s, roundTo) =>
        val got = graft.graph.GraphTier.distributedOnly(
          PageRank.run(df, iters = 4, roundTo = roundTo, seeds = s))
          .as[(String, Double)].collect().toMap
        val want = naive(graph, 4, s, roundTo)
        got.keySet == want.keySet &&
          got.forall { case (t, r) => math.abs(r - want(t)) <= 1.000001e-9 }
      }
    }

  // loopGraphGen's graphs with a random partial warm start: some of the
  // pages (the null title among them) and titles absent from the graph
  private val warmGraphGen = for {
    g <- loopGraphGen
    picked <- Gen.someOf(g._1.map(_._1) ++ Seq("ghost", "n99"))
    ranks <- Gen.listOfN(picked.size, Gen.choose(0.0, 2.0))
  } yield (g._1, g._2, picked.toSeq.zip(ranks))

  property("runNormalized and runConverged equal their naive interpreters on both tiers") =
    Prop.forAllNoShrink(warmGraphGen) { case (graph, byPart, warm) =>
      val df = spark.sparkContext.parallelize(byPart.indices, byPart.size)
        .flatMap(byPart).toDF("title", "outlinks")
      val init = warm.toDF("title", "rank")
      def close(got: Map[String, Double], want: Map[String, Double]) =
        got.keySet == want.keySet &&
          got.forall { case (t, r) => math.abs(r - want(t)) < 1e-9 }
      def ranks(df: org.apache.spark.sql.DataFrame) = df.as[(String, Double)].collect().toMap
      val normalized = PageRankReference.naiveNormalized(graph.toMap, 4)
      Seq(false, true).forall { distributed =>
        def tier[T](body: => T): T =
          if (distributed) graft.graph.GraphTier.distributedOnly(body) else body
        val norm = ranks(tier(PageRank.runNormalized(df, iters = 4)))
        // eps = 0 never stops early: exactly maxIters sweeps
        val cold = ranks(tier(PageRank.runConverged(df, eps = 0.0, maxIters = 4)))
        val warmed = ranks(tier(PageRank.runConverged(df, eps = 0.0, maxIters = 4,
          init = Some(init))))
        close(norm, normalized) && math.abs(norm.values.sum - 1.0) < 1e-12 &&
          close(cold, naive(graph, 4, None, -1)) &&
          close(warmed, naive(graph, 4, None, -1, warm.toMap))
      }
    }

  // random as-of inputs: few keys + small times force heavy key/time
  // collisions; right side deduped per (key, ts) as the contract requires
  private val asofGen: Gen[(Seq[(Long, Long, Long)], Seq[(Long, Long, String)])] = for {
    nl <- Gen.choose(1, 12)
    nr <- Gen.choose(0, 12)
    ls <- Gen.listOfN(nl, for {
      k <- Gen.choose(0L, 3L); t <- Gen.choose(0L, 9L)
    } yield (k, t))
    rs <- Gen.listOfN(nr, for {
      k <- Gen.choose(0L, 3L); t <- Gen.choose(0L, 9L)
      p <- Gen.alphaStr.map(_.take(3))
    } yield (k, t, p))
  } yield (ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) },
           rs.groupBy(r => (r._1, r._2)).values.map(_.head).toSeq)

  property("merge-scan as-of equals the union+window form on random inputs") =
    forAll(asofGen) { case (ls, rs) =>
      val l = ls.toDF("id", "k", "t")
      val r = rs.toDF("k", "t", "p")
      val a = graft.ops.AsOfJoin.asOf(l, r, "k", "t", Seq("p"))
        .select("id", "p").as[(Long, Option[String])].collect().toMap
      val b = graft.plans.AsOfMergeJoin.asOf(l, r, "k", "t", Seq("p"))
        .select("id", "p").as[(Long, Option[String])].collect().toMap
      a == b
    }

  property("incremental CC equals full recompute on random edge splits") =
    forAll(pairGraphGen) { pairs =>
      val spark2 = SparkTestBase.session
      import spark2.implicits._
      // split edges deterministically: every third edge is the delta
      val (delta, old) = pairs.zipWithIndex.partition(_._2 % 3 == 0)
      val cc0 = graft.graph.ConnectedComponents.run(
        old.map(_._1).toDF("a", "b"), "a", "b")
      val got = graft.graph.ConnectedComponents.incremental(
          cc0, delta.map(_._1).toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      val want = graft.graph.ConnectedComponents.run(
          pairs.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      // self-loop-only nodes can drop out of either side; compare on
      // the union domain with self-labels as the default
      val keys = got.keySet ++ want.keySet
      keys.forall(k => got.getOrElse(k, k) == want.getOrElse(k, k))
    }

  property("forward as-of equals a naive earliest-at-or-after lookup") =
    forAll(asofGen) { case (ls, rs) =>
      val l = ls.toDF("id", "k", "t")
      val r = rs.toDF("k", "t", "p")
      val got = graft.ops.AsOfJoin.asOfForward(l, r, "k", "t", Seq("p"))
        .select("id", "p").as[(Long, Option[String])].collect().toMap
      val naive = ls.map { case (id, k, t) =>
        id -> rs.filter(x => x._1 == k && x._2 >= t)
          .sortBy(_._2).headOption.map(_._3)
      }.toMap
      got == naive
    }

  private val pairGraphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 24)
    m <- Gen.choose(0, 30)
    pairs <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong - 1)
      b <- Gen.choose(0L, n.toLong - 1)
    } yield (a, b))
  } yield pairs

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.filter(p => p._1 != p._2).flatMap(p => Seq(p._1, p._2)).distinct
    // min-id root: union always hangs the larger root under the smaller,
    // so find() already lands on the component minimum
    nodes.map(x => x -> find(x)).toMap
  }

  property("star-algorithm components equal union-find on random pair graphs") =
    forAll(pairGraphGen) { pairs =>
      // distributedOnly forces the star loop — the tier policy would
      // route these small graphs to the driver union-find, which is
      // exactly what this property checks against
      val got = graft.graph.GraphTier.distributedOnly {
        graft.graph.ConnectedComponents
          .run(pairs.toDF("a", "b"), "a", "b")
          .as[(Long, Long)].collect().toMap
      }
      got == unionFind(pairs)
    }

  // small vocab so chunk collisions actually occur across random docs
  private val chunkCorpusGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(2, 8)
    texts <- Gen.listOfN(n,
      Gen.listOf(Gen.oneOf("aa", "bb", "cc")).map(_.mkString(" ")))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("passage dedup equals the naive chunk scan on random corpora") =
    forAll(chunkCorpusGen) { corpus =>
      val w = 3
      val got = graft.dedup.Dedup
        .passageDupes(corpus.toDF("doc_id", "text"), "doc_id", "text", w)
        .as[(Long, Long, String)].collect().toSet
      // naive: enumerate full-width disjoint chunks, first occurrence in
      // (doc, idx) order keeps, everything else is a dupe
      val chunks = for {
        (id, t) <- corpus
        ws = t.split("\\s+").filter(_.nonEmpty)
        i <- 0 to (if (ws.isEmpty) -1 else (ws.length - 1) / w)
        c = ws.slice(i * w, i * w + w)
        if c.length == w
      } yield (id, i.toLong, c.mkString(" "))
      val keeper = chunks.groupBy(_._3).map { case (p, occ) =>
        p -> occ.map(o => (o._1, o._2)).min }
      val want = chunks.filter { case (id, i, p) =>
        keeper(p) != ((id, i)) &&
        chunks.count(_._3 == p) > 1
      }.toSet
      got == want
    }

  private val hitsGraphGen: Gen[List[(String, String)]] = for {
    n <- Gen.choose(2, 9)
    edges <- Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield edges.map { case (a, b) => (s"v$a", s"v$b") }.distinct

  property("HITS equals the naive interpreter on random graphs") =
    forAll(hitsGraphGen) { edges =>
      val got = graft.graph.Hits.run(edges.toDF("src", "dst"), iters = 3)
        .as[(String, Double, Double)].collect()
        .map { case (t, h, a) => t -> (h, a) }.toMap
      got == HitsReference.interpret(edges, 3)
    }

  private val mergeGen: Gen[(List[(Long, String)], List[(Long, String)])] = for {
    cur <- Gen.listOf(Gen.zip(Gen.choose(0L, 20L), Gen.alphaStr.map(_.take(4))))
    chg <- Gen.listOf(Gen.zip(Gen.choose(0L, 25L), Gen.alphaStr.map(_.take(4))))
  } yield (cur.distinctBy(_._1), chg.distinctBy(_._1))

  property("mergeUpsert equals the naive map merge on random batches") =
    forAll(mergeGen) { case (cur, chg) =>
      val got = graft.ops.Relational
        .mergeUpsert(cur.toDF("k", "v"), chg.toDF("k", "v"), "k")
        .as[(Long, String, String)].collect().toSet
      val cm = cur.toMap; val gm = chg.toMap
      val want = (cm.keySet ++ gm.keySet).map { k =>
        (k, gm.getOrElse(k, cm(k)),
          if (gm.contains(k) && cm.contains(k)) "update"
          else if (!cm.contains(k)) "insert" else "keep")
      }
      got == want
    }

  // random closed intervals on a coarse grid so touching/overlap/swallow
  // cases all occur
  property("mergeIntervals equals a naive sweep on random intervals") =
    forAll(Gen.listOf(for {
      key <- Gen.choose(0L, 2L)
      s <- Gen.choose(0L, 40L)
      len <- Gen.choose(0L, 15L)
    } yield (key, s, s + len))) { raw =>
      val rows = raw.zipWithIndex.map { case ((k, s, e), i) => (k, i.toLong, s, e) }
      raw.isEmpty || {
        val got = graft.ops.TimeSeries
          .mergeIntervals(rows.toDF("k", "id", "s", "e"), "k", "id", "s", "e")
          .select("k", "start", "end", "n_src")
          .as[(Long, Long, Long, Long)].collect().toSet
        // naive sweep per key over (s, id)-sorted closed intervals
        val want = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
          val sorted = rs.sortBy(r => (r._3, r._2))
          val islands = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
          for ((_, _, s, e) <- sorted) {
            if (islands.nonEmpty && s <= islands.last._2)
              islands(islands.size - 1) = (islands.last._1,
                math.max(islands.last._2, e), islands.last._3 + 1)
            else islands += ((s, e, 1L))
          }
          islands.map { case (s, e, n) => (k, s, e, n) }
        }.toSet
        got == want
      }
    }

  property("dedupTemporal keeps exactly the naive burst leaders") =
    forAll(Gen.listOf(for {
      key <- Gen.choose(0L, 2L)
      t <- Gen.choose(0L, 60L)
    } yield (key, t))) { raw =>
      val rows = raw.zipWithIndex.map { case ((k, t), i) => (k, i.toLong, t) }
      val gap = 5L
      raw.isEmpty || {
        val got = graft.ops.TimeSeries
          .dedupTemporal(rows.toDF("k", "id", "t"), Seq("k"), "id", "t", gap)
          .select("k", "kept_id", "n_absorbed")
          .as[(Long, Long, Long)].collect().toSet
        val want = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
          val sorted = rs.sortBy(r => (r._3, r._2))
          val bursts = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
          var prevT = Long.MinValue
          for ((_, id, t) <- sorted) {
            if (bursts.isEmpty || t - prevT > gap) bursts += ((k, id, 1L))
            else bursts(bursts.size - 1) =
              (k, bursts.last._2, bursts.last._3 + 1)
            prevT = t
          }
          bursts
        }.toSet
        got == want
      }
    }

  // -- typed txlog probes ----------------------------------------------
  private val probeCols = Seq("l" -> "BIGINT", "d" -> "DOUBLE", "s" -> "STRING", "day" -> "DATE")
  private val probeDoubles = Seq(-1.5, 0.0, 0.1, 2.25, 1000.0, 1.0e-5)
  private val probeStrings = Seq("", "a", "ab", "b", "ba", "z")
  private val day0 = java.time.LocalDate.of(2024, 1, 1)

  private val probeRow: Gen[(Long, Double, String, java.time.LocalDate)] = for {
    l <- Gen.choose(-20L, 20L)
    d <- Gen.oneOf(probeDoubles)
    s <- Gen.oneOf(probeStrings)
    n <- Gen.choose(0L, 59L)
  } yield (l, d, s, day0.plusDays(n))

  /** A probe string for column `c`: the canonical rendering of a value,
    * a non-canonical rendering of it, or one that does not cast. */
  private def probeOf(c: String): Gen[String] = c match {
    case "l" => Gen.choose(-25L, 25L).flatMap(v =>
      Gen.oneOf(v.toString, if (v < 0) s"-0${-v}" else s"+$v", s" $v ", "abc"))
    case "d" => Gen.oneOf(probeDoubles :+ 0.5).flatMap(v =>
      Gen.oneOf(v.toString, BigDecimal(v).bigDecimal.toPlainString + "0", s"+$v", "1x"))
    case "s" => Gen.oneOf(probeStrings ++ Seq("abc", "zz"))
    case _ => Gen.choose(-3L, 62L).flatMap { n =>
      val d = day0.plusDays(n)
      Gen.oneOf(d.toString, s"${d.getYear}-${d.getMonthValue}-${d.getDayOfMonth}", "2024-13-01")
    }
  }

  private val probeCase = for {
    segs <- Gen.choose(2, 4).flatMap(Gen.listOfN(_, Gen.choose(1, 4).flatMap(Gen.listOfN(_, probeRow))))
    probes <- Gen.sequence[List[List[String]], List[String]](
      probeCols.map { case (c, _) => Gen.listOfN(3, probeOf(c)).map(c :: _) })
  } yield (segs, probes)

  property("typed txlog probes keep what the SQL triage keeps, and every matching segment") =
    Prop.forAllNoShrink(probeCase) { case (segs, probes) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-probeprop").toString
      val rowsOf = segs.map { rows =>
        TxLog.appendWithStats(spark, rows.toDF("l", "d", "s", "day"), dir, probeCols.map(_._1))
        TxLog.liveSegments(dir).last -> rows
      }
      // the probe as the column's type, by SQL's own try_cast
      def typed(c: String, p: String): Option[Any] =
        Option(spark.sql(s"SELECT try_cast('$p' AS ${probeCols.toMap.apply(c)})").head().get(0)).map {
          case d: java.sql.Date => d.toLocalDate
          case v => v
        }
      def sqlLit(v: Option[Any]): String = v.fold("NULL") {
        case l: Long => s"${l}L"
        case d: Double => s"${d}D"
        case s: String => s"'$s'"
        case d => s"DATE '$d'"
      }
      def cmp(a: Any, b: Any): Int = (a, b) match {
        case (x: Long, y: Long) => x.compare(y)
        case (x: Double, y: Double) => java.lang.Double.compare(x, y)
        case (x: String, y: String) => x.compareTo(y)
        case (x: java.time.LocalDate, y: java.time.LocalDate) => x.compareTo(y)
        case _ => sys.error(s"incomparable $a, $b")
      }
      def cell(r: (Long, Double, String, java.time.LocalDate), c: String): Any =
        r.productElement(probeCols.indexWhere(_._1 == c))
      Prop.all(probes.flatMap { case c :: p :: lo :: hi :: Nil =>
        val (tp, tlo, thi) = (typed(c, p), typed(c, lo), typed(c, hi))
        val inPoint = (v: Any) => tp.exists(cmp(v, _) == 0)
        val inRange = (v: Any) => tlo.exists(cmp(v, _) >= 0) && thi.exists(cmp(v, _) <= 0)
        def holders(in: Any => Boolean) =
          rowsOf.collect { case (seg, rs) if rs.exists(r => in(cell(r, c))) => seg }.toSet
        def matching(in: Any => Boolean) = rowsOf.flatMap(_._2).count(r => in(cell(r, c)))
        val point = TxLog.prunePoint(dir, c, p)._1
        val range = TxLog.pruneRange(dir, c, Some(lo), Some(hi))._1
        val pointSql = TxLog.triageCandidatesOf(spark, dir, s"$c = ${sqlLit(tp)}")
        val rangeSql = TxLog.triageCandidatesOf(spark, dir,
          s"$c >= ${sqlLit(tlo)} AND $c <= ${sqlLit(thi)}")
        Seq(
          (point == pointSql) :| s"prunePoint($c, '$p') kept $point, SQL triage $pointSql",
          (range == rangeSql) :| s"pruneRange($c, '$lo', '$hi') kept $range, SQL triage $rangeSql",
          holders(inPoint).subsetOf(point.toSet) :| s"prunePoint($c, '$p') pruned a match",
          holders(inRange).subsetOf(range.toSet) :| s"pruneRange($c, '$lo', '$hi') pruned a match",
          (tp.isEmpty || TxLog.readPoint(spark, dir, c, p).count() == matching(inPoint)) :|
            s"readPoint($c, '$p')",
          (tlo.isEmpty || thi.isEmpty ||
            TxLog.readRange(spark, dir, c, Some(lo), Some(hi)).count() == matching(inRange)) :|
            s"readRange($c, '$lo', '$hi')")
      }: _*)
    }
}
