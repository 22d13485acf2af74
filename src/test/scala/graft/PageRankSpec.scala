package graft

import org.apache.spark.sql.functions._
import graft.pagerank.PageRank
import graft.functions.GridRound
import graft.graph.GraphTier
import graft.parse.WikiParser

/** Golden end-to-end tests on a hand-written mini wiki-XML fixture covering
  * every README assumption (SURVEY.md §5.2.2): nested links, self loop,
  * red link (noisy page), title-without-text, rank tie, duplicate links,
  * dangling page. Expected ranks come from an in-test naive interpreter
  * (plain Scala loops), not hand calculation. */
class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  /** Naive reference interpreter of the reference's semantics
    * (ref: PageRankAlgorithm.java:323-399). */
  private def naive(graph: Seq[(String, Seq[String])], iters: Int,
                    d: Double = 0.85): Map[String, Double] = {
    val titles = graph.map(_._1).toSet
    var rank = graph.map { case (t, _) => t -> 1.0 / graph.size }.toMap
    for (_ <- 1 to iters) {
      val contribs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for ((t, ls) <- graph if ls.nonEmpty; l <- ls if titles(l))
        contribs(l) += rank(t) / ls.size
      rank = graph.map { case (t, _) => t -> (d * contribs(t) + (1 - d)) }.toMap
    }
    rank
  }

  // A: links B twice (duplicate kept) + itself (self loop) + red link X
  // B: links A and C. C: dangling (no text). D: nested link -> resolves to A
  private val fixtureXml =
    """<mediawiki>
      |<page><title>A</title><id>1</id><revision><id>900</id>
      |<text xml:space="preserve">see [[B]] and [[B]] and [[A]] and [[X]]</text></revision></page>
      |<page><title>B</title><id>2</id>
      |<text xml:space="preserve">back to [[A]] then [[C]] and [[]] empty</text></page>
      |<page><title>C</title><id>3</id></page>
      |<page><title>D</title><id>4</id>
      |<text xml:space="preserve">nested [[w|[[A]] link</text></page>
      |</mediawiki>""".stripMargin

  private lazy val parsed = WikiParser.pages(Seq(fixtureXml).toDF("value"))

  test("parser: page-level attribution, first id, text extraction") {
    val got = parsed.select("title", "id").as[(String, String)].collect().sortBy(_._1)
    // first <id> per page — page A's revision id 900 must NOT win
    assert(got.toSeq == Seq(("A", "1"), ("B", "2"), ("C", "3"), ("D", "4")))
  }

  test("parser: nested-link rewrite, self loops, duplicates, empties") {
    val g = WikiParser.linkGraph(parsed)
      .as[(String, Seq[String])].collect().toMap
    // linkGraph sorts outlinks (deterministic merge); occurrences kept
    assert(g("A") == Seq("A", "B", "B", "X")) // duplicates + self loop + red link
    assert(g("B") == Seq("A", "C"))           // [[]] dropped
    assert(g("C") == Seq())                   // title-without-text kept, no links
    assert(g("D") == Seq("A"))                // [[w|[[A]] → innermost
  }

  test("pagerank matches the naive interpreter after 10 iterations") {
    val graph = WikiParser.linkGraph(parsed)
    val got = PageRank.run(graph.toDF("title", "outlinks"), iters = 10)
      .as[(String, Double)].collect().toMap
    val want = naive(
      Seq("A" -> Seq("A", "B", "B", "X"), "B" -> Seq("A", "C"),
          "C" -> Seq.empty, "D" -> Seq("A")), iters = 10)
    assert(got.keySet == want.keySet)
    got.foreach { case (t, r) =>
      assert(math.abs(r - want(t)) < 1e-9, s"$t: got $r want ${want(t)}")
    }
    // invariants: every surviving page ≥ 1-d; red link X absent
    assert(got.values.forall(_ >= 0.15 - 1e-12))
    assert(!got.contains("X"))
  }

  test("rank mass shrinks monotonically (red links + dangling evaporation)") {
    val graph = Seq("A" -> Seq("B", "X"), "B" -> Seq.empty[String])
      .toDF("title", "outlinks")
    val r2 = PageRank.run(graph, iters = 2).as[(String, Double)].collect().toMap
    val w2 = naive(Seq("A" -> Seq("B", "X"), "B" -> Seq.empty), 2)
    r2.foreach { case (t, r) => assert(math.abs(r - w2(t)) < 1e-12) }
  }

  test("RDD loop and DataFrame formulation agree") {
    val graph = WikiParser.linkGraph(parsed)
    val a = PageRank.run(graph, iters = 6).as[(String, Double)].collect().toMap
    val b = PageRankReference.runDataFrame(graph, iters = 6).as[(String, Double)].collect().toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (t, r) => assert(math.abs(r - b(t)) < 1e-12) }
  }

  test("checkpoint cadence does not change results") {
    val graph = WikiParser.linkGraph(parsed)
    val a = PageRank.run(graph, iters = 7, checkpointEvery = 2)
      .as[(String, Double)].collect().toMap
    val b = PageRank.run(graph, iters = 7, checkpointEvery = 100)
      .as[(String, Double)].collect().toMap
    a.foreach { case (t, r) => assert(math.abs(r - b(t)) < 1e-12) }
  }

  private def naivePersonal(graph: Seq[(String, Seq[String])], seeds: Set[String],
                            iters: Int, d: Double = 0.85): Map[String, Double] = {
    val titles = graph.map(_._1).toSet
    val invS = 1.0 / seeds.size
    def tele(t: String) = if (seeds(t)) invS else 0.0
    var rank = graph.map { case (t, _) => t -> tele(t) }.toMap
    for (_ <- 1 to iters) {
      val contribs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for ((t, ls) <- graph if ls.nonEmpty; l <- ls if titles(l))
        contribs(l) += rank(t) / ls.size
      rank = graph.map { case (t, _) => t -> (d * contribs(t) + (1 - d) * tele(t)) }.toMap
    }
    rank
  }

  test("personalized pagerank matches the naive interpreter; both tiers agree") {
    val graph = WikiParser.linkGraph(parsed)
    val seeds = Set("A")
    val got = PageRank.run(graph, iters = 10, seeds = Some(seeds))
      .as[(String, Double)].collect().toMap
    val want = naivePersonal(
      Seq("A" -> Seq("A", "B", "B", "X"), "B" -> Seq("A", "C"),
          "C" -> Seq.empty, "D" -> Seq("A")), seeds, iters = 10)
    assert(got.keySet == want.keySet)
    got.foreach { case (t, r) =>
      assert(math.abs(r - want(t)) < 1e-9, s"$t: got $r want ${want(t)}")
    }
    // D never receives mass (nothing links to it, it is not a seed)
    assert(got("D") === 0.0)
    // distributed tier computes the same personalized recurrence
    val dist = GraphTier.distributedOnly {
      PageRank.run(graph, iters = 10, seeds = Some(seeds))
        .as[(String, Double)].collect().toMap
    }
    assert(dist.keySet == got.keySet)
    got.foreach { case (t, r) => assert(math.abs(r - dist(t)) < 1e-12) }
  }

  test("distributed tier: sizing, graph build, one job per checkpoint, named, final") {
    val graph = Seq("A" -> Seq("A", "B", "B", "X"), "B" -> Seq("A", "C"),
      "C" -> Seq.empty[String], "D" -> Seq("A")).toDF("title", "outlinks")
    for (seeds <- Seq(None, Some(Set("A")))) {
      val (_, jobs) = countOwnJobs {
        GraphTier.distributedOnly(PageRank.run(graph, iters = 10, seeds = seeds))
      }
      // checkpoints after iterations 3, 6 and 9; the tenth iteration and
      // the named ranks materialize in the one final job
      assert(jobs == 1 + 1 + 3 + 1, s"seeds = $seeds")
    }
  }

  test("distributed runNormalized: the same six jobs as run, no per-iteration sum") {
    val graph = Seq("A" -> Seq("A", "B", "B", "X"), "B" -> Seq("A", "C"),
      "C" -> Seq.empty[String], "D" -> Seq("A")).toDF("title", "outlinks")
    val (_, jobs) = countOwnJobs {
      GraphTier.distributedOnly(PageRank.runNormalized(graph, iters = 10))
    }
    // sizing, graph build, checkpoints after iterations 3, 6 and 9, final
    assert(jobs == 1 + 1 + 3 + 1)
  }

  test("distributed runConverged: one job per sweep") {
    val graph = Seq("A" -> Seq("A", "B", "B", "X"), "B" -> Seq("A", "C"),
      "C" -> Seq.empty[String], "D" -> Seq("A")).toDF("title", "outlinks")
    for (sweeps <- Seq(3, 6)) {
      // eps = 0 never stops early, so exactly maxIters sweeps run
      val (_, jobs) = countOwnJobs {
        GraphTier.distributedOnly(PageRank.runConverged(graph, eps = 0.0, maxIters = sweeps))
      }
      // sizing, graph build, one checkpoint-and-delta job per sweep, final
      assert(jobs == 1 + 1 + sweeps + 1, s"$sweeps sweeps")
    }
  }

  test("under-split scan: one input partition under a 6-partition loop matches the single task") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "6")
    try {
      // 20k pages × 40 links = 800k link occurrences size the loop to 6
      // partitions, more than 3× the scan's one, so the rows are
      // hash-spread first; ids ≥ 20000 are red links, every 97th page is
      // dangling, duplicates and self-loops occur
      val graph = spark.range(0, 20000, 1, 1).select(
        concat(lit("p"), col("id")).as("title"),
        when(col("id") % 97 === 0, array().cast("array<string>")).otherwise(
          transform(sequence(lit(0L), lit(39L)), j =>
            concat(lit("p"), (col("id") * 7919 + j * j * 104729 + j) % 21000)))
          .as("outlinks"))
      assert(graph.rdd.getNumPartitions == 1)
      def ranks(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Double)].collect().toMap
      val single = ranks(PageRank.run(graph, iters = 5))
      val dist = ranks(GraphTier.distributedOnly(PageRank.run(graph, iters = 5)))
      assert(dist.size == 20000 && dist.keySet == single.keySet)
      single.foreach { case (t, r) =>
        assert(math.abs(r - dist(t)) < 1e-9, s"$t: single $r, distributed ${dist(t)}")
      }
    } finally spark.conf.set(key, prev)
  }

  test("single-task results of all three variants keep their bits") {
    val g2 = Seq(("A", Seq("B", "X", "A")), ("B", Seq[String]()), ("C", Seq("A", "B")),
      ("D", Seq("C", "C"))).toDF("title", "outlinks")
    val g3 = Seq(("A", Seq("B")), ("B", Seq("A", "C")), ("C", Seq[String]()))
      .toDF("title", "outlinks")
    val warm = Seq(("A", 100.0), ("B", -5.0)).toDF("title", "rank")
    val graphs = Map("fixture" -> WikiParser.linkGraph(parsed), "g2" -> g2, "g3" -> g3)
    val runs: Map[String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Map(
      "run10" -> (PageRank.run(_, iters = 10)),
      "run10r9" -> (PageRank.run(_, iters = 10, roundTo = 9)),
      "runSeedA" -> (PageRank.run(_, iters = 10, seeds = Some(Set("A")))),
      "norm10" -> (PageRank.runNormalized(_, iters = 10)),
      "norm10r9" -> (PageRank.runNormalized(_, iters = 10, roundTo = 9)),
      "conv" -> (PageRank.runConverged(_)),
      "convWarm" -> (PageRank.runConverged(_, init = Some(warm))))
    // exact values of the single-task loops these entry points replaced
    val want = Map(
      ("fixture", "run10") ->
        Map("A" -> 0.5619290179322873, "B" -> 0.3886903257358947, "C" -> 0.31508385506433995, "D" -> 0.15000000000000002),
      ("fixture", "run10r9") ->
        Map("A" -> 0.561929018, "B" -> 0.388690326, "C" -> 0.315083855, "D" -> 0.15),
      ("fixture", "runSeedA") ->
        Map("A" -> 0.24812501615361843, "B" -> 0.10578244779789883, "C" -> 0.04523379225466898, "D" -> 0.0),
      ("fixture", "norm10") ->
        Map("A" -> 0.3961455970819213, "B" -> 0.3075051423072156, "C" -> 0.21344770190166662, "D" -> 0.08290155870919638),
      ("fixture", "norm10r9") ->
        Map("A" -> 0.396145597, "B" -> 0.307505142, "C" -> 0.213447702, "D" -> 0.082901559),
      ("fixture", "conv") ->
        Map("A" -> 0.5623068990371178, "B" -> 0.3889804317115636, "C" -> 0.315316683181336, "D" -> 0.15000000000000002),
      ("fixture", "convWarm") ->
        Map("A" -> 0.5623069009802235, "B" -> 0.38898043322869524, "C" -> 0.3153166843658759, "D" -> 0.15000000000000002),
      ("g2", "run10") ->
        Map("A" -> 0.37386722889640067, "B" -> 0.37386722889640067, "C" -> 0.2775, "D" -> 0.15000000000000002),
      ("g2", "run10r9") ->
        Map("A" -> 0.373867229, "B" -> 0.373867229, "C" -> 0.2775, "D" -> 0.15),
      ("g2", "runSeedA") ->
        Map("A" -> 0.209304961834908, "B" -> 0.05930496183490795, "C" -> 0.0, "D" -> 0.0),
      ("g2", "norm10") ->
        Map("A" -> 0.3427670724022551, "B" -> 0.3427670724022551, "C" -> 0.20412694463646236, "D" -> 0.11033891055902743),
      ("g2", "norm10r9") ->
        Map("A" -> 0.342767073, "B" -> 0.342767073, "C" -> 0.204126945, "D" -> 0.110338911),
      ("g2", "conv") ->
        Map("A" -> 0.37386627920899596, "B" -> 0.37386627920899596, "C" -> 0.2775, "D" -> 0.15000000000000002),
      ("g2", "convWarm") ->
        Map("A" -> 0.3738662793848342, "B" -> 0.3738662793848342, "C" -> 0.2775, "D" -> 0.15000000000000002),
      ("g3", "run10") ->
        Map("A" -> 0.3346299382581401, "B" -> 0.4338202150058543, "C" -> 0.3346299382581401),
      ("g3", "run10r9") ->
        Map("A" -> 0.334629938, "B" -> 0.433820215, "C" -> 0.334629938),
      ("g3", "runSeedA") ->
        Map("A" -> 0.23954121160085756, "B" -> 0.1983805534954285, "C" -> 0.08954121160085754),
      ("g3", "norm10") ->
        Map("A" -> 0.30329439673286007, "B" -> 0.3934112065342797, "C" -> 0.30329439673286007),
      ("g3", "norm10r9") ->
        Map("A" -> 0.303294397, "B" -> 0.393411206, "C" -> 0.303294397),
      ("g3", "conv") ->
        Map("A" -> 0.33463796476977703, "B" -> 0.4344422696577136, "C" -> 0.33463796476977703),
      ("g3", "convWarm") ->
        Map("A" -> 0.33463796475459284, "B" -> 0.4344422708054315, "C" -> 0.33463796475459284))
    for (((g, v), ranks) <- want) {
      val got = runs(v)(graphs(g)).as[(String, Double)].collect().toMap
      assert(got == ranks, s"$g $v")
    }
  }

  test("oracle keys round their output as DuckDB does: std::round of the scaled double") {
    // std::round is exact half-away-from-zero rounding of the binary value
    def stdRound(x: Double) =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    val xs = Seq(0.49999999999999994, 0.5, 1.5, 2.5, -0.5, -2.5, 518270.49999999994,
      4503599627370495.5, 4503599627370497.0, 0.0, 1e300)
    val got = xs.toDF("x").select(GridRound.binaryRound(col("x"), 0)).as[Double].collect()
    xs.zip(got).foreach { case (x, r) => assert(r == stdRound(x), s"$x: $r") }
    // DuckDB 1.0: round(0.5182705, 6) = 0.51827 (Spark's round: 0.518271),
    // round(0.0833333335, 9) = 0.083333334
    val cases = Seq((0.5182705, 6, 0.51827), (0.0833333335, 9, 0.083333334))
    for ((x, s, want) <- cases)
      assert(Seq(x).toDF("x").select(GridRound.binaryRound(col("x"), s)).as[Double].head() == want)
  }

  test("ranked output is descending with title tie-break") {
    val rows = PageRank.ranked(WikiParser.linkGraph(parsed), iters = 3)
      .as[(String, Double)].collect()
    rows.sliding(2).foreach { case Array((t1, r1), (t2, r2)) =>
      assert(r1 > r2 || (r1 == r2 && t1 < t2))
    case _ => }
  }
}
