package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop BFS (unit-weight shortest paths) over a directed edge
  * relation — the third iterative-dataflow operator next to PageRank and
  * connected components, sharing their loop discipline AND their
  * two-tier execution shape.
  *
  * Distributed tier — frontier-based, not Bellman-Ford: each hop expands
  * ONLY the vertices first reached on the previous hop (join), drops the
  * already-settled ones (left_anti against the dist relation), and
  * appends the rest. Per-hop work is |edges ⋉ frontier|, so total work
  * is O(E) across the whole traversal instead of O(E · hops) for the
  * relax-everything form. An empty frontier short-circuits the loop.
  * Every hop localCheckpoints both relations: dist is self-referenced by
  * the next hop's anti-join, so the plan would otherwise double per hop
  * (the PageRank plan-growth lesson, SURVEY.md §4.3). All state is
  * (title, dist) rows — bounded by vertices, never by paths; determinism
  * is structural (min hop count is unique), so any engine agrees.
  *
  * Fast tier ([[GraphTier.singleTask]]): the whole traversal runs
  * inside ONE task over an adjacency hash map — per-hop job scheduling
  * (≥4 jobs/hop: join, distinct, anti-join, isEmpty) costs seconds for
  * milliseconds of set arithmetic at this size. Identical
  * semantics (seeds emit dist 0 even when edge-less; first reach wins;
  * hop cap inclusive), spec-compared against the distributed tier.
  */
object ShortestPaths {

  /** @param edges   (src, dst) directed edges
    * @param sources seed vertex relation, column `title` (dist 0)
    * @param maxHops inclusive hop bound
    * @return (title, dist) for every vertex within maxHops of a source */
  def run(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    if (GraphTier.singleTask("ShortestPaths.run", e.count())) {
      // seed set is a query parameter — bounded by definition
      val seeds = sources.select(col("title")).distinct().as[String].collect()
      val seedsSorted = seeds.sorted // deterministic traversal order
      e.as[(String, String)].rdd.coalesce(1).mapPartitions { it =>
        val adj = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[String]]()
        it.foreach { case (s, d) =>
          adj.computeIfAbsent(s, _ => new scala.collection.mutable.ArrayBuffer[String]()) += d
        }
        val dist = new java.util.LinkedHashMap[String, Long]()
        seedsSorted.foreach(t => dist.put(t, 0L))
        var frontier: Seq[String] = seedsSorted.toSeq
        var h = 1L
        while (h <= maxHops && frontier.nonEmpty) {
          val next = scala.collection.mutable.ArrayBuffer[String]()
          frontier.foreach { v =>
            val ls = adj.get(v)
            if (ls != null) ls.foreach { d =>
              if (!dist.containsKey(d)) { dist.put(d, h); next += d }
            }
          }
          frontier = next.toSeq
          h += 1
        }
        import scala.jdk.CollectionConverters._
        dist.entrySet().iterator().asScala.map(en => (en.getKey, en.getValue))
      }.toDF("title", "dist")
    } else {
      var frontier = sources.select(col("title")).distinct().localCheckpoint()
      var dist = frontier.select(col("title"), lit(0L).as("dist"))
        .localCheckpoint()
      var h = 1
      var done = false
      while (h <= maxHops && !done) {
        val reached = e.join(frontier.withColumnRenamed("title", "src"), "src")
          .select(col("dst").as("title")).distinct()
        frontier = reached.join(dist, Seq("title"), "left_anti")
          .localCheckpoint()
        if (frontier.isEmpty) done = true
        else {
          dist = dist
            .unionByName(frontier.select(col("title"), lit(h.toLong).as("dist")))
            .localCheckpoint()
          h += 1
        }
      }
      dist
    }
  }

  /** Bounded-cost weighted SSSP: shortest weighted distance from the
    * seed set, keeping only vertices with dist ≤ `maxCost`.
    *
    * Weights must be POSITIVE INTEGERS (the caller's contract, asserted
    * per-partition at read cost zero) — that single restriction is what
    * makes the operator provably exact everywhere: every relaxation adds
    * ≥ 1, so a shortest path of cost ≤ B has ≤ B edges, hence
    * Bellman–Ford converges within B rounds — the SAME bound the
    * unrolled-rounds DuckDB oracle relies on. No float weights also
    * means no accumulation-order sensitivity: min-dist is a unique long.
    *
    * Distributed tier — Bellman–Ford with an IMPROVED-ONLY frontier:
    * each round relaxes only edges out of vertices whose distance
    * changed last round (the delta-stepping insight without the bucket
    * machinery), so total work is O(Σ |edges ⋉ improved|), not
    * O(E · rounds). Both relations localCheckpoint per round (dist is
    * multi-referenced — the PageRank plan-growth lesson).
    *
    * Fast tier ([[GraphTier.singleTask]]): textbook Dijkstra with a
    * binary heap in ONE task — at this size per-round scheduling costs
    * more than the entire traversal.
    */
  def runWeighted(edges: DataFrame, sources: DataFrame,
                  maxCost: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint()
    if (GraphTier.singleTask("ShortestPaths.runWeighted", e.count())) {
      val seeds = sources.select(col("title")).distinct().as[String]
        .collect().sorted
      e.as[(String, String, Long)].rdd.coalesce(1).mapPartitions { it =>
        val adj = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[(String, Long)]]()
        it.foreach { case (s, d, w) =>
          require(w >= 1L, s"SSSP weights must be positive integers, got $w")
          adj.computeIfAbsent(s, _ => new scala.collection.mutable.ArrayBuffer[(String, Long)]()) += ((d, w))
        }
        val dist = new java.util.HashMap[String, Long]()
        val pq = new java.util.PriorityQueue[(Long, String)](
          (a: (Long, String), b: (Long, String)) => {
            val c = java.lang.Long.compare(a._1, b._1)
            if (c != 0) c else a._2.compareTo(b._2)
          })
        seeds.foreach { t => dist.put(t, 0L); pq.add((0L, t)) }
        while (!pq.isEmpty) {
          val (dv, v) = pq.poll()
          if (dv == dist.get(v)) { // skip stale entries
            val ls = adj.get(v)
            if (ls != null) ls.foreach { case (u, w) =>
              val nd = dv + w
              if (nd <= maxCost &&
                  nd < dist.getOrDefault(u, Long.MaxValue)) {
                dist.put(u, nd); pq.add((nd, u))
              }
            }
          }
        }
        import scala.jdk.CollectionConverters._
        dist.entrySet().iterator().asScala.map(en => (en.getKey, en.getValue))
      }.toDF("title", "dist")
    } else {
      var dist = sources.select(col("title")).distinct()
        .select(col("title"), lit(0L).as("dist")).localCheckpoint()
      var frontier = dist
      var round = 0L
      while (round < maxCost && !frontier.isEmpty) {
        val cand = e
          .join(frontier.select(col("title").as("src"), col("dist").as("fd")), "src")
          .select(col("dst").as("title"), (col("fd") + col("w")).as("nd"))
          .filter(col("nd") <= maxCost)
          .groupBy("title").agg(min(col("nd")).as("nd"))
        val prev = dist
        frontier = cand.join(prev, Seq("title"), "left")
          .filter(col("dist").isNull || col("nd") < col("dist"))
          .select(col("title"), col("nd").as("dist"))
          .localCheckpoint()
        if (!frontier.isEmpty) {
          dist = prev.unionByName(frontier)
            .groupBy("title").agg(min(col("dist")).as("dist"))
            .localCheckpoint()
          round += 1
        }
      }
      dist
    }
  }
}
