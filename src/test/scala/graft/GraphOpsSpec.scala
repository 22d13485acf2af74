package graft

import graft.graph.{GraphTier, KCore, LabelPropagation, ShortestPaths, Triangles}
import scala.util.Random

/** Triangle counting + bounded-hop BFS vs naive in-test interpreters on
  * fixed and random graphs (the HITS/CC lockstep pattern). */
class GraphOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def triNaive(edges: Seq[(Int, Int)]): Map[Int, Long] = {
    val e = edges.map { case (a, b) => (a min b, a max b) }
      .filter(p => p._1 != p._2).distinct.toSet
    val verts = e.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val counts = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    for {
      x <- verts; y <- verts if x < y && e((x, y))
      z <- verts if y < z && e((y, z)) && e((x, z))
    } { counts(x) += 1; counts(y) += 1; counts(z) += 1 }
    counts.toMap
  }

  private def triSpark(edges: Seq[(Int, Int)]): Map[Int, Long] =
    Triangles.perVertex(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("K4 has every vertex in 3 triangles; pendant edges in none") {
    val k4 = for (i <- 0 to 3; j <- 0 to 3 if i < j) yield (i, j)
    assert(triSpark(k4 :+ ((3, 9))) === Map(0 -> 3L, 1 -> 3L, 2 -> 3L, 3 -> 3L))
  }

  test("triangle counts ignore orientation, duplicates and self-loops") {
    // same triangle given in mixed orientations + noise
    val e = Seq((1, 2), (2, 1), (3, 2), (1, 3), (1, 1), (1, 2))
    assert(triSpark(e) === Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
  }

  test("BFS fast and distributed tiers agree (incl. edge-less seeds)") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("x", "y"))
      .toDF("src", "dst")
    val seeds = Seq("a", "lonely").toDF("title") // lonely: no edges, dist 0
    def bfs() = ShortestPaths.run(edges, seeds, maxHops = 3)
      .as[(String, Long)].collect().toMap
    val fast = bfs()
    val dist = GraphTier.distributedOnly(bfs())
    assert(fast === dist)
    assert(fast("lonely") === 0L && fast("a") === 0L && fast("d") === 3L)
    assert(!fast.contains("x") && !fast.contains("y"))
  }

  test("random graphs: per-vertex triangle counts match the naive interpreter") {
    val rnd = new Random(42)
    for (_ <- 1 to 3) {
      val n = 12
      val edges = for {
        i <- 0 until n; j <- 0 until n
        if i != j && rnd.nextDouble() < 0.3
      } yield (i, j)
      assert(triSpark(edges) === triNaive(edges))
    }
  }

  private def bfsNaive(edges: Seq[(String, String)], src: String,
                       maxHops: Int): Map[String, Long] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val dist = scala.collection.mutable.Map(src -> 0L)
    var frontier = Seq(src)
    for (h <- 1 to maxHops) {
      frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
        .distinct.filterNot(dist.contains)
      frontier.foreach(v => dist(v) = h.toLong)
    }
    dist.toMap
  }

  private def bfsSpark(edges: Seq[(String, String)], src: String,
                       maxHops: Int): Map[String, Long] =
    ShortestPaths.run(edges.toDF("src", "dst"), Seq(src).toDF("title"), maxHops)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("BFS: cycles settle at first reach, unreachable stay absent, cap holds") {
    val e = Seq("a" -> "b", "b" -> "c", "c" -> "a", // 3-cycle
      "c" -> "d", "d" -> "e", "e" -> "f",           // tail
      "x" -> "y")                                   // disconnected
    assert(bfsSpark(e, "a", 4) ===
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 4L))
    // hop cap cuts the tail; the empty-frontier short-circuit must not
    // truncate earlier levels
    assert(bfsSpark(e, "a", 2) === Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("random graphs: BFS hop counts match the naive interpreter") {
    val rnd = new Random(7)
    for (_ <- 1 to 3) {
      val n = 15
      val edges = for {
        i <- 0 until n; j <- 0 until n
        if i != j && rnd.nextDouble() < 0.15
      } yield (s"v$i", s"v$j")
      assert(bfsSpark(edges, "v0", 5) === bfsNaive(edges, "v0", 5))
    }
  }
  private def kcoreNaive(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    var alive = und.map(_._1).toSet
    var changed = true
    while (changed) {
      val deg = und.filter(e => alive(e._1) && alive(e._2))
        .groupBy(_._1).map { case (v, es) => v -> es.size }
      val keep = alive.filter(v => deg.getOrElse(v, 0) >= k)
      changed = keep != alive
      alive = keep
    }
    und.filter(e => alive(e._1) && alive(e._2))
      .groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
  }

  private def kcoreSpark(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    KCore.run(edges.toDF("a", "b"), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("k-core: clique survives, pendant chain peels, both tiers agree") {
    // K5 (nodes 0..4) + a chain 4-10-11-12 hanging off it
    val clique = for (i <- 0L to 4L; j <- i + 1 to 4L) yield (i, j)
    val e = clique ++ Seq((4L, 10L), (10L, 11L), (11L, 12L))
    val expected = clique.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, _) => v -> 4L }
    assert(kcoreSpark(e, 4) === expected)  // chain gone, core degs = 4
    assert(kcoreSpark(e, 5) === Map.empty) // K5 has max degree 4
    val dist = GraphTier.distributedOnly(kcoreSpark(e, 4))
    assert(dist === expected)
  }

  test("random graphs: k-core matches the naive parallel peel, both tiers") {
    val rnd = new Random(11)
    for (trial <- 1 to 3) {
      val n = 20
      val edges = (for {
        i <- 0L until n; j <- i + 1 until n
        if rnd.nextDouble() < 0.3
      } yield (i, j)).toSeq
      for (k <- Seq(2, 4, 6)) {
        val want = kcoreNaive(edges, k)
        assert(kcoreSpark(edges, k) === want, s"fast tier trial=$trial k=$k")
        GraphTier.distributedOnly {
          assert(kcoreSpark(edges, k) === want, s"dist tier trial=$trial k=$k")
        }
      }
    }
  }

  // ---------------------------------------------------------------- SSSP

  private def ssspNaive(edges: Seq[(String, String, Long)], src: String,
                        maxCost: Long): Map[String, Long] = {
    // Bellman-Ford to fixpoint, then the cost cap
    val dist = scala.collection.mutable.Map(src -> 0L)
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (u, v, w) =>
        dist.get(u).foreach { du =>
          if (du + w < dist.getOrElse(v, Long.MaxValue)) {
            dist(v) = du + w; changed = true
          }
        }
      }
    }
    dist.filter(_._2 <= maxCost).toMap
  }

  private def ssspSpark(edges: Seq[(String, String, Long)], src: String,
                        maxCost: Long): Map[String, Long] =
    ShortestPaths.runWeighted(edges.toDF("src", "dst", "w"),
        Seq(src).toDF("title"), maxCost)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("SSSP: cheaper long path beats expensive short one; cap is on cost") {
    val e = Seq(("a", "d", 5L),                       // direct, cost 5
      ("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L), // 3 hops, cost 3
      ("d", "z", 9L))                                 // z at 12 > cap
    assert(ssspSpark(e, "a", 10L) ===
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
    // a tight cap prunes mid-traversal, not just at the end
    assert(ssspSpark(e, "a", 2L) === Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("random weighted graphs: SSSP matches Bellman-Ford, both tiers") {
    val rnd = new Random(23)
    for (trial <- 1 to 3) {
      val n = 15
      val edges = for {
        i <- 0 until n; j <- 0 until n
        if i != j && rnd.nextDouble() < 0.2
      } yield (s"v$i", s"v$j", 1L + rnd.nextInt(4).toLong)
      val want = ssspNaive(edges, "v0", 8L)
      assert(ssspSpark(edges, "v0", 8L) === want, s"fast tier trial=$trial")
      GraphTier.distributedOnly {
        assert(ssspSpark(edges, "v0", 8L) === want, s"dist tier trial=$trial")
      }
    }
  }

  // ----------------------------------------------------------------- LPA

  private def lpaNaive(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val clean = pairs.filter(p => p._1 != p._2)
      .flatMap(p => Seq(p, p.swap)).distinct
    val adj = clean.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (v, ns) =>
        val votes = ns.groupBy(labels).view.mapValues(_.size.toLong)
        // freq desc, label asc
        v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  private def lpaSpark(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    LabelPropagation.run(pairs.toDF("a", "b"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("LPA: two cliques joined by a bridge settle into two communities") {
    val c1 = for (i <- 1L to 4L; j <- i + 1 to 4L) yield (i, j)
    val c2 = for (i <- 11L to 14L; j <- i + 1 to 14L) yield (i, j)
    val e = c1 ++ c2 :+ ((4L, 11L))
    val got = lpaSpark(e, 4)
    // each clique converges onto its own minimum label
    assert((1L to 4L).map(got).toSet.size == 1)
    assert((11L to 14L).map(got).toSet.size == 1)
    assert(got(1L) != got(14L))
  }

  test("random graphs: LPA matches the naive synchronous rounds, both tiers") {
    val rnd = new Random(31)
    for (trial <- 1 to 3) {
      val n = 18L
      val edges = (for {
        i <- 0L until n; j <- i + 1 until n
        if rnd.nextDouble() < 0.25
      } yield (i, j)).toSeq
      for (rounds <- Seq(1, 3, 5)) {
        val want = lpaNaive(edges, rounds)
        assert(lpaSpark(edges, rounds) === want, s"fast trial=$trial r=$rounds")
        GraphTier.distributedOnly {
          assert(lpaSpark(edges, rounds) === want, s"dist trial=$trial r=$rounds")
        }
      }
    }
  }

  test("LPA assumeCanonical ≡ default on an already-canonical relation") {
    // r16: callers holding a distinct a<b relation may skip the
    // internal dedup shuffle — results must be identical, both tiers
    val rnd = new Random(47)
    val n = 16L
    val edges = (for {
      i <- 0L until n; j <- i + 1 until n
      if rnd.nextDouble() < 0.3
    } yield (i, j)).distinct
    for (rounds <- Seq(1, 4)) {
      val want = LabelPropagation.run(edges.toDF("a", "b"), rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val got = LabelPropagation.run(edges.toDF("a", "b"), rounds,
        assumeCanonical = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === want, s"rounds=$rounds")
      val gotD = GraphTier.distributedOnly {
        LabelPropagation.run(edges.toDF("a", "b"), rounds,
          assumeCanonical = true)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      }
      assert(gotD === want, s"dist rounds=$rounds")
    }
  }

  test("edgeJaccard matches the naive neighbor-set computation") {
    val rnd = new scala.util.Random(11)
    val n = 20L
    val edges = (for {
      i <- 0L until n; j <- i + 1 until n
      if rnd.nextDouble() < 0.3
    } yield (i, j)).toSeq
    val nbrs = (edges.map(e => (e._1, e._2)) ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = edges.map { case (a, b) =>
      val c = (nbrs(a) & nbrs(b)).size.toLong
      val u = nbrs(a).size + nbrs(b).size - c
      (a, b, c, c * 1000000L / u)
    }.sorted
    // feed duplicated + reversed pairs: canonicalization must absorb them
    val messy = (edges ++ edges.map(e => (e._2, e._1))).toDF("x", "y")
    val got = graft.graph.Triangles.edgeJaccard(messy, "x", "y")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got === want)
  }

  test("degree-capped hybrid ≡ plain intersection (perVertex + edgeJaccard)") {
    // random graph + two hubs wired to (almost) everyone: at small caps
    // all three hybrid tiers run (low-low merges, hub-low wedge probes,
    // hub-hub center-wedge counts); at a huge cap the hybrid must still
    // reproduce the plain path bit for bit. Reversed duplicates feed the
    // canonicalization as in the plain tests.
    val rnd = new scala.util.Random(7)
    val n = 30
    val base = (for {
      i <- 0 until n; j <- i + 1 until n
      if rnd.nextDouble() < 0.15
    } yield (i, j)) ++ (1 until n).map(i => (0, i)) ++ (2 until n).map(i => (1, i))
    val df = (base ++ base.map(e => (e._2, e._1))).toDF("a", "b")
    val planTri = Triangles.perVertex(df, "a", "b")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val planJ = Triangles.edgeJaccard(df, "a", "b")
      .as[(Int, Int, Long, Long)].collect().toSet
    assert(planTri.nonEmpty && planJ.nonEmpty)
    for (cap <- Seq(2, 8, 1000)) {
      val capTri = Triangles.perVertex(df, "a", "b", degreeCap = cap)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(capTri === planTri, s"perVertex cap=$cap")
      val capJ = Triangles.edgeJaccard(df, "a", "b", degreeCap = cap)
        .as[(Int, Int, Long, Long)].collect().toSet
      assert(capJ === planJ, s"edgeJaccard cap=$cap")
    }
    // the 100 TB deployment knob: session conf instead of the argument
    spark.conf.set("graft.graph.degreeCap", "3")
    try {
      val confTri = Triangles.perVertex(df, "a", "b")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(confTri === planTri, "conf-gated hybrid")
    } finally spark.conf.unset("graft.graph.degreeCap")
    // string ids whose string order differs from their numeric order
    // ("10" < "9"): the same graph shifted to ids 5..34, so the hubs
    // "5" and "6" meet one- and two-digit neighbors on hub-low edges
    val sdf = (base ++ base.map(e => (e._2, e._1)))
      .map { case (a, b) => ((a + 5).toString, (b + 5).toString) }
      .toDF("a", "b")
    val strTri = Triangles.perVertex(sdf, "a", "b")
      .as[(String, Long)].collect().toSet
    val strJ = Triangles.edgeJaccard(sdf, "a", "b")
      .as[(String, String, Long, Long)].collect().toSet
    assert(strTri.map { case (v, t) => (v.toInt - 5, t) } === planTri)
    for (cap <- Seq(2, 8, 1000)) {
      assert(Triangles.perVertex(sdf, "a", "b", degreeCap = cap)
        .as[(String, Long)].collect().toSet === strTri,
        s"string-id perVertex cap=$cap")
      assert(Triangles.edgeJaccard(sdf, "a", "b", degreeCap = cap)
        .as[(String, String, Long, Long)].collect().toSet === strJ,
        s"string-id edgeJaccard cap=$cap")
    }
  }

  test("weighted PageRank: unit weights reduce to the unweighted recurrence") {
    // star + cycle graph with every edge weight 1: weightedDataFrame must
    // equal runDataFrame on the same topology (same iters, no rounding
    // beyond the 1e-9 pin)
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"))
    val wdf = graft.pagerank.PageRank.weightedDataFrame(
        edges.map { case (s, t) => (s, t, 1L) }.toDF("src", "dst", "w"),
        iters = 6, roundTo = 12)
      .as[(String, Double)].collect().toMap
    val verts = edges.groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq).toMap
    val all = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val vdf = all.map(v => (v, verts.getOrElse(v, Seq.empty)))
      .toDF("title", "outlinks")
    val ref = PageRankReference.runDataFrame(vdf, iters = 6)
      .as[(String, Double)].collect().toMap
    assert(wdf.keySet === ref.keySet)
    wdf.foreach { case (k, v) => assert(math.abs(v - ref(k)) < 1e-9, k) }
  }

  test("weighted PageRank releases its static caches (no lingering RDD blocks)") {
    // VERDICT r16 item 4: the partitioned-persisted static relations must
    // unpersist once the final ranks materialize — a long-lived session
    // invoking the key repeatedly must not accumulate MEMORY_AND_DISK
    // blocks. The eager final localCheckpoint intentionally remains (it
    // IS the materialized result), so the allowed residue is exactly the
    // checkpoint RDDs, never the InMemoryRelation caches.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq(("a", "b", 2L), ("b", "c", 1L), ("c", "a", 3L))
      .toDF("src", "dst", "w")
    val r = graft.pagerank.PageRank.weightedDataFrame(edges, iters = 4)
    assert(r.count() == 3)
    val after = spark.sparkContext.getPersistentRDDs -- before
    val nonCkpt = after.values.filterNot(_.isCheckpointed)
    assert(nonCkpt.isEmpty,
      s"lingering non-checkpoint caches: ${nonCkpt.map(_.name).mkString(",")}")
  }

  test("weighted PageRank: mass follows the heavier edge") {
    // s splits 9:1 between x and y -> x must end up well above y
    val edges = Seq(("s", "x", 9L), ("s", "y", 1L)).toDF("src", "dst", "w")
    val r = graft.pagerank.PageRank.weightedDataFrame(edges, iters = 3)
      .as[(String, Double)].collect().toMap
    assert(r("x") > r("y") + 0.1)
    // s has no in-edges, so from iteration 2 on its rank rests at 1-d
    // and x recomputes the same pinned value every later iteration:
    // x = round(0.85 * (0.9 * round(0.15, 9)) + 0.15..., 9)
    val s2 = BigDecimal(1.0 - 0.85).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val x3 = BigDecimal(0.85 * (0.9 * s2) + (1.0 - 0.85))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r("x") - x3) < 1e-12, s"got ${r("x")} want $x3")
  }
}
