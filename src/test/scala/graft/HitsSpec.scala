package graft

import graft.graph.{GraphTier, Hits}

/** HITS verified against an in-test interpreter running the identical
  * max-normalized half-step recurrence (plain Scala loops — a second,
  * independent formulation), plus structural invariants. The DuckDB
  * recursive-CTE oracle (`graph_hits`) re-checks the same recurrence
  * cross-engine at sf0.01.
  */
/** Naive sequential HITS — the independent reference implementation
  * shared by HitsSpec and the GraftProperties random-graph property. */
object HitsReference {
  def interpret(edges: Seq[(String, String)], iters: Int)
      : Map[String, (Double, Double)] = {
    def rnd(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var hub = verts.map(_ -> 1.0).toMap
    var auth = verts.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val hmax = hub.values.max
      auth = verts.map { v =>
        val s = edges.filter(_._2 == v).map(e => hub(e._1)).sum
        v -> (if (s == 0.0) 0.0 else rnd(s / hmax))
      }.toMap
      val amax = auth.values.max
      hub = verts.map { v =>
        val s = edges.filter(_._1 == v).map(e => auth(e._2)).sum
        v -> (if (s == 0.0) 0.0 else rnd(s / amax))
      }.toMap
    }
    verts.map(v => v -> (hub(v), auth(v))).toMap
  }
}

class HitsSpec extends SparkTestBase {
  import spark.implicits._

  private def interpret(edges: Seq[(String, String)], iters: Int)
      : Map[String, (Double, Double)] = HitsReference.interpret(edges, iters)

  private val fixture = Seq(
    // a "hub" page h1 pointing at three authorities, h2 at two of them,
    // a back-edge making a2 also a (weak) hub, and an isolated-ish tail
    ("h1", "a1"), ("h1", "a2"), ("h1", "a3"),
    ("h2", "a1"), ("h2", "a2"),
    ("a2", "a1"), ("t", "h1"))

  test("matches the in-test interpreter exactly (1e-9 lockstep)") {
    val got = Hits.run(fixture.toDF("src", "dst"), iters = 10)
      .as[(String, Double, Double)].collect()
      .map { case (t, h, a) => t -> (h, a) }.toMap
    val want = interpret(fixture, 10)
    assert(got.keySet == want.keySet)
    for (v <- want.keySet)
      assert(got(v) == want(v), s"vertex $v: got ${got(v)} want ${want(v)}")
  }

  test("invariants: non-negative, bounded by max degree, rank order sane") {
    // Normalization is by the PREVIOUS vector's max (bit-exact across
    // engines since it ranges over already-rounded values), so the new
    // vector is not capped at 1 — but each entry is a sum of ≤ deg terms
    // each ≤ prevMax, divided by prevMax ⇒ bounded by the max degree.
    val res = Hits.run(fixture.toDF("src", "dst"), iters = 4)
      .as[(String, Double, Double)].collect()
    val maxDeg = fixture.groupBy(_._1).map(_._2.size).max
      .max(fixture.groupBy(_._2).map(_._2.size).max)
    assert(res.forall { case (_, h, a) =>
      h >= 0.0 && a >= 0.0 && h <= maxDeg && a <= maxDeg })
    // h1 links to everything a2 links to and more → at least as good a hub
    val m = res.map { case (t, h, a) => t -> (h, a) }.toMap
    assert(m("h1")._1 >= m("h2")._1 && m("h2")._1 >= m("a2")._1)
    // a1 has strictly more in-links than a3 → strictly better authority
    assert(m("a1")._2 > m("a3")._2)
  }

  test("pure sink and pure source vertices keep zero hub / zero auth") {
    val res = Hits.run(Seq(("s", "x"), ("x", "k")).toDF("src", "dst"), iters = 3)
      .as[(String, Double, Double)].collect()
      .map { case (t, h, a) => t -> (h, a) }.toMap
    assert(res("k")._1 == 0.0) // sink: no out-edges → no hub mass
    assert(res("s")._2 == 0.0) // source: no in-edges → no auth mass
  }

  test("fast path and distributed loop agree exactly") {
    val df = fixture.toDF("src", "dst")
    val fast = Hits.run(df, iters = 6)
      .as[(String, Double, Double)].collect().toSet
    val dist = GraphTier.distributedOnly {
      Hits.run(df, iters = 6).as[(String, Double, Double)].collect().toSet
    }
    assert(fast == dist)
  }

  test("iteration count changes values (loop really iterates)") {
    val a = Hits.run(fixture.toDF("src", "dst"), iters = 1)
      .as[(String, Double, Double)].collect()
      .map { case (t, h, x) => t -> (h, x) }.toMap
    val b = interpret(fixture, 1)
    assert(a.keySet == b.keySet)
    for (v <- b.keySet) assert(a(v) == b(v), s"iters=1 vertex $v")
  }
}
