package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition (fixed k): the maximal subgraph in which every
  * vertex keeps degree ≥ k — the classic density filter for graph
  * cleaning (drop barely-connected periphery before community /
  * similarity mining, keep the load-bearing core).
  *
  * The k-core is UNIQUE, so any peeling order converges to the same
  * vertex set — sequential queue peeling and parallel "remove all
  * sub-k vertices at once" rounds agree. That makes the operator
  * engine-checkable (DuckDB reproduces it with unrolled rounds) and
  * lets the two execution tiers differ in strategy but not result.
  *
  * Distributed tier — parallel peeling rounds: degree count (one
  * groupBy over surviving edges), survivor filter, then two semi-joins
  * shrink the edge relation to survivors on BOTH endpoints. Work per
  * round is O(|surviving edges|) and the relation only shrinks;
  * localCheckpoint per round truncates the self-referencing lineage
  * (the PageRank plan-growth lesson). Round count is small in practice
  * (peeling halves the sub-k fringe each round; 5 rounds at sf0.01),
  * and each round is a driver-synced fixpoint check — the same scalar
  * sync cadence PageRank's convergence test uses.
  *
  * Fast tier ([[GraphTier.singleTask]] on the symmetrized graph):
  * classic O(E) bucket peeling inside ONE task over int-indexed
  * adjacency — per-round job scheduling costs seconds for milliseconds
  * of counter arithmetic at this size. Spec-compared against the
  * distributed tier on random graphs.
  *
  * Input edges are UNDIRECTED, given once per pair (u < v), no
  * self-loops — the co-purchase pair relation shape.
  */
object KCore {

  /** @param pairs (a, b) long vertex ids, one row per undirected edge
    * @param k     minimum degree to keep
    * @return (node, core_deg) for every vertex of the k-core, with its
    *         degree inside the core */
  def run(pairs: DataFrame, k: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val e0 = pairs.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")).localCheckpoint()
    if (GraphTier.singleTask("KCore.run", 2 * e0.count())) { // symmetrized adjacency
      e0.as[(Long, Long)].rdd.coalesce(1).mapPartitions { it =>
        val edges = it.toArray
        // dense int indexing of the touched vertex ids
        val ids = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
        val back = new scala.collection.mutable.ArrayBuffer[Long]()
        def idx(v: Long): Int = {
          val got = ids.get(v)
          if (got != null) got.intValue()
          else { val i = back.length; ids.put(v, i); back += v; i }
        }
        val ea = edges.map { case (u, v) => (idx(u), idx(v)) }
        val n = back.length
        val deg = new Array[Int](n)
        ea.foreach { case (u, v) => deg(u) += 1; deg(v) += 1 }
        val adjStart = new Array[Int](n + 1)
        var i = 0
        while (i < n) { adjStart(i + 1) = adjStart(i) + deg(i); i += 1 }
        val adj = new Array[Int](adjStart(n))
        val fill = adjStart.clone()
        ea.foreach { case (u, v) =>
          adj(fill(u)) = v; fill(u) += 1
          adj(fill(v)) = u; fill(v) += 1
        }
        // queue peeling: push every sub-k vertex once, decrement neighbors
        val alive = Array.fill(n)(true)
        val cur = deg.clone()
        val queue = new java.util.ArrayDeque[Int]()
        i = 0
        while (i < n) { if (cur(i) < k) { queue.add(i); alive(i) = false }; i += 1 }
        while (!queue.isEmpty) {
          val u = queue.poll()
          var p = adjStart(u)
          while (p < adjStart(u + 1)) {
            val w = adj(p)
            if (alive(w)) {
              cur(w) -= 1
              if (cur(w) < k) { alive(w) = false; queue.add(w) }
            }
            p += 1
          }
        }
        (0 until n).iterator.filter(alive).map(j => (back(j), cur(j).toLong))
      }.toDF("node", "core_deg")
    } else {
      // symmetrize once; every round shrinks this relation
      var e = e0.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e0.select(col("b").as("u"), col("a").as("v")))
        .localCheckpoint()
      var survivors = -1L
      var done = false
      while (!done) {
        val deg = e.groupBy("u").agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select(col("u")).localCheckpoint()
        val nKeep = keep.count()
        if (nKeep == survivors) done = true
        else {
          survivors = nKeep
          e = e.join(keep, Seq("u"), "left_semi")
            .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
            .select(col("u"), col("v"))
            .localCheckpoint()
          if (nKeep == 0) done = true
        }
      }
      e.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("core_deg"))
    }
  }
}
