package graft

import org.apache.spark.sql.functions._
import graft.pagerank.PageRank
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
    val b = PageRank.runDataFrame(graph, iters = 6).as[(String, Double)].collect().toMap
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

  test("ranked output is descending with title tie-break") {
    val rows = PageRank.ranked(WikiParser.linkGraph(parsed), iters = 3)
      .as[(String, Double)].collect()
    rows.sliding(2).foreach { case Array((t1, r1), (t2, r2)) =>
      assert(r1 > r2 || (r1 == r2 && t1 < t2))
    case _ => }
  }
}
