package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.pagerank.PageRank
import graft.graph.GraphTier
import graft.streaming.GraphStream
import graft.streaming.GraphStream.{IncrementalRanker, PageEdit}

/** Streaming incremental PageRank: keyed-state graph maintenance +
  * warm per-batch re-convergence must land on the SAME fixed point a
  * cold batch run reaches on the final graph (the recurrence is a
  * contraction — unique fixed point regardless of start vector). */
class StreamingPageRankSpec extends SparkTestBase {
  import spark.implicits._

  test("incremental streaming pagerank converges to the batch fixed point") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PageEdit]
    val ranker = new IncrementalRanker(spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = GraphStream.incrementalPageRank(input.toDS(), ranker, ckpt)
    try {
      input.addData(
        PageEdit("A", Seq("B", "C"), 1L),
        PageEdit("B", Seq("A"), 2L),
        PageEdit("C", Seq("A", "B"), 3L))
      q.processAllAvailable()
      val r1 = ranker.currentRanks.get.as[(String, Double)].collect().toMap
      assert(r1.keySet == Set("A", "B", "C"))

      // batch 2: C's links change (last-writer-wins), D joins linking to A
      input.addData(
        PageEdit("C", Seq("B"), 4L),
        PageEdit("D", Seq("A"), 5L))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = ranker.currentRanks.get.as[(String, Double)].collect().toMap
    val finalGraph = Seq(
      ("A", Seq("B", "C")), ("B", Seq("A")), ("C", Seq("B")), ("D", Seq("A")))
      .toDF("title", "outlinks")
    val batch = PageRank.runConverged(finalGraph).as[(String, Double)].collect().toMap
    assert(streamed.keySet == batch.keySet)
    for ((t, r) <- batch)
      assert(math.abs(streamed(t) - r) < 1e-6, s"$t: streamed=${streamed(t)} batch=$r")
  }

  test("unchanged re-edit emits no downstream update") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PageEdit]
    val q = GraphStream.linkGraphUpdates(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("gupd").start()
    try {
      input.addData(PageEdit("X", Seq("B", "A"), 1L))
      q.processAllAvailable()
      input.addData(PageEdit("X", Seq("A", "B"), 2L)) // same link set → no emit
      q.processAllAvailable()
      input.addData(PageEdit("X", Seq("A"), 3L))      // real change → emit
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("gupd").as[(String, Seq[String])].collect().toSeq
    assert(rows.length == 2, s"unchanged re-edit must not emit: $rows")
    assert(rows.toSet == Set(("X", Seq("A", "B")), ("X", Seq("A"))))
  }

  test("normalized pagerank matches a naive interpreter and conserves mass exactly") {
    // A links B,X(red); B dangling after X is pruned? no — B links nothing.
    // Closed graph: A→[B], B→[], C→[A,B]. B is dangling.
    val graph = Map(
      "A" -> Seq("B", "X"),          // X is a red link → pruned
      "B" -> Seq[String](),          // dangling
      "C" -> Seq("A", "B"))
    val got = PageRank.runNormalized(graph.toSeq.toDF("title", "outlinks"), iters = 10)
      .as[(String, Double)].collect().toMap
    val want = PageRankReference.naiveNormalized(graph, 10)
    assert(got.keySet == want.keySet)
    for ((t, r) <- want) assert(math.abs(got(t) - r) < 1e-12, s"$t: ${got(t)} vs $r")
    assert(math.abs(got.values.sum - 1.0) < 1e-12, s"mass ${got.values.sum} != 1")
  }

  test("fast path and distributed loop agree on run/runNormalized/runConverged") {
    val g = Seq(
      ("A", Seq("B", "X", "A")), ("B", Seq[String]()), ("C", Seq("A", "B")),
      ("D", Seq("C", "C")))
      .toDF("title", "outlinks")
    def all(): (Map[String, Double], Map[String, Double], Map[String, Double]) = (
      PageRank.run(g, iters = 7).as[(String, Double)].collect().toMap,
      PageRank.runNormalized(g, iters = 7).as[(String, Double)].collect().toMap,
      PageRank.runConverged(g, eps = 1e-10).as[(String, Double)].collect().toMap)
    val (f1, f2, f3) = all()
    val (d1, d2, d3) = GraphTier.distributedOnly(all())
    for ((fast, dist) <- Seq((f1, d1), (f2, d2), (f3, d3))) {
      assert(fast.keySet == dist.keySet)
      for ((t, r) <- fast) assert(math.abs(dist(t) - r) < 1e-9, s"$t: $r vs ${dist(t)}")
    }
  }

  test("warm start from a perturbed vector still reaches the cold fixed point") {
    val g = Seq(("A", Seq("B")), ("B", Seq("A", "C")), ("C", Seq[String]()))
      .toDF("title", "outlinks")
    val cold = PageRank.runConverged(g).as[(String, Double)].collect().toMap
    val weird = Seq(("A", 100.0), ("B", -5.0)).toDF("title", "rank") // C missing → 1/N
    val warm = PageRank.runConverged(g, init = Some(weird))
      .as[(String, Double)].collect().toMap
    for ((t, r) <- cold)
      assert(math.abs(warm(t) - r) < 1e-6, s"$t: warm=${warm(t)} cold=$r")
  }
}
