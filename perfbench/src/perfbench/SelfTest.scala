package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** The benchmark's own tests: generator determinism, the reference
  * PageRank on a hand-computed graph, the tokenizer oracle, and the span
  * arithmetic. Run: `SelfTest <scratch-dir> <BENCHMARK.json>`; exits
  * non-zero on a failure. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))

  def main(args: Array[String]): Unit = {
    val scratch = Paths.get(args(0))

    test("generator gives identical bytes for the same seed, other bytes for another") {
      type Corpus = (SplittableRandom, Int, Path, String) => Seq[(String, String)]
      val corpora: Seq[(String, Corpus)] = Seq(
        "pagerank" -> Gen.pagerank, "index" -> Gen.index, "txlog" -> Gen.txlog)
      corpora.foreach { case (name, corpus) =>
        def run(seed: Long, sub: String): Map[String, String] = {
          val dir = scratch.resolve(s"$name-$sub")
          Gen.deleteTree(dir)
          Files.createDirectories(dir)
          corpus(new SplittableRandom(seed), 300, dir, "input")
          val files = Files.list(dir)
          try files.toArray.map(_.asInstanceOf[Path])
            .map(p => p.getFileName.toString -> Gen.sha256(p)).toMap
          finally files.close()
        }
        val a = run(7, "a")
        expect(a.nonEmpty, s"$name wrote no files")
        expect(a == run(7, "b"), s"$name: same seed, different bytes")
        expect(a("input.xml") != run(8, "c")("input.xml"), s"$name: seeds 7 and 8 gave the same input")
      }
    }

    test("reference PageRank on a hand-computed graph") {
      // A -> B, B, red link   (a duplicate link and a red link; out-degree 3)
      // B -> B, C             (a self-loop; out-degree 2)
      // C ->                  (dangling)
      val links = Array(Array(1, 1, -1), Array(1, 2), Array.empty[Int])
      val d = 0.85
      val r0 = 1.0 / 3
      // iteration 1: B gets 2 * r0/3 from A and r0/2 from itself; C gets r0/2
      val r1 = Array(1 - d, d * (2 * r0 / 3 + r0 / 2) + (1 - d), d * (r0 / 2) + (1 - d))
      expect(close(r1(1), 0.85 * 7 / 18 + 0.15), s"hand arithmetic: ${r1(1)}")
      val r2 = Array(1 - d, d * (2 * r1(0) / 3 + r1(1) / 2) + (1 - d), d * (r1(1) / 2) + (1 - d))
      val got1 = Reference.pageRank(links, iters = 1)
      val got2 = Reference.pageRank(links, iters = 2)
      (0 until 3).foreach { i =>
        expect(close(got1(i), r1(i)), s"iteration 1, page $i: ${got1(i)} != ${r1(i)}")
        expect(close(got2(i), r2(i)), s"iteration 2, page $i: ${got2(i)} != ${r2(i)}")
      }
      expect(close(got2(0), 0.15) && close(got2(2), 0.85 * (0.85 * 7 / 18 + 0.15) / 2 + 0.15),
        s"iteration 2 values: ${got2.mkString(",")}")
    }

    test("tokenizer oracle splits on every non-ASCII-letter and lowercases") {
      val words = ArrayBuffer.empty[String]
      Reference.tokenize("The cat's 2nd [[Big-Cat]] purred, ÉCOLE x9y.")(words += _)
      expect(words == Seq("the", "cat", "s", "nd", "big", "cat", "purred", "cole", "x", "y"),
        s"tokens: $words")
      val o = new Reference.IndexOracle
      o.addDoc(3, "b a")
      o.addDoc(5, "A a")
      expect(o.occurrences == 4, s"occurrences ${o.occurrences}")
      val p = new Reference.Posting
      Seq(3L, 5L, 5L).foreach(p.add)
      expect(o.words("a").count == 3 && o.words("a").hash == p.hash, "posting of 'a'")
      expect(o.words("b").count == 1, "posting of 'b'")
    }

    test("span self time subtracts the union of direct children only") {
      expect(Intervals.covered(Seq.empty, 0, 10) == 0, "empty")
      expect(Intervals.covered(Seq((1L, 3L), (5L, 6L)), 0, 10) == 3, "disjoint")
      expect(Intervals.covered(Seq((1L, 8L), (2L, 3L), (7L, 12L)), 0, 10) == 9, "nested, clipped")
      val spans = IndexedSeq(
        Span("pass", 0, -1, 0, 100),
        Span("a", 0, 0, 10, 30),
        Span("a.child", 0, 1, 12, 14),
        Span("b", 0, 0, 20, 50), // overlaps a
        Span("c", 0, 0, 90, 120), // runs past its parent
        Span("pass", 1, -1, 200, 260),
        Span("d", 1, 5, 210, 220))
      expect(Intervals.selfNanos(spans, 0) == 100 - 40 - 10, s"root ${Intervals.selfNanos(spans, 0)}")
      expect(Intervals.selfNanos(spans, 1) == 18, s"a ${Intervals.selfNanos(spans, 1)}")
      expect(Intervals.selfNanos(spans, 2) == 2, "leaf")
      expect(Intervals.selfNanos(spans, 5) == 50, s"second pass ${Intervals.selfNanos(spans, 5)}")
      val c = new SpanCounters
      c.stageTimes(1) = (1000L, 1400L)
      c.stageTimes(2) = (1300L, 1500L)
      expect(c.offstageMs(900, 2000) == 1100 - 500, s"offstage ${c.offstageMs(900, 2000)}")
    }

    test("BENCHMARK.json declares exactly the per-layer metrics a traced run prints") {
      val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Paths.get(args(1)).toFile)
      val declared = scala.jdk.CollectionConverters.IteratorHasAsScala(json.get("per_layer").elements)
        .asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
      expect(declared == Layers.names, s"declared ${declared.size}, printed ${Layers.names.size}: " +
        s"${(declared.diff(Layers.names) ++ Layers.names.diff(declared)).take(5)}")
    }

    if (failures > 0) { println(s"$failures test(s) failed"); sys.exit(1) }
    println("all tests passed")
  }
}
