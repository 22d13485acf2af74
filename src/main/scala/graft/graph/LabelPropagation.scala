package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) — the
  * near-linear community detector: every vertex starts as its own
  * label; each round EVERY vertex simultaneously adopts the most
  * frequent label among its neighbors, ties broken by the SMALLEST
  * label. A fixed round count with deterministic tie-breaks makes the
  * operator a pure function of the graph — no RNG, no visit order, no
  * engine dependence — so "R rounds of synchronous min-tie LPA" is the
  * contract both tiers and the unrolled DuckDB oracle compute exactly.
  * (Synchronous LPA can oscillate on bipartite-ish structure, which is
  * why the contract is fixed-round, not fixpoint: both engines land on
  * the identical round-R labeling either way.)
  *
  * Distributed tier — per round: one join flows each neighbor's label
  * across the edges, one hash-agg counts (node, label) votes, and ONE
  * more hash-agg picks the winner as max(struct(cnt, −label)) — the
  * (freq desc, label asc) argmax as a commutative monoid, partial
  * map-side, so no per-node window sort ever touches the vote relation.
  * Labels localCheckpoint per round (self-referencing lineage — the
  * PageRank plan-growth lesson). Work per round is O(E) votes.
  *
  * Fast tier ([[GraphTier.singleTask]]): the same synchronous rounds
  * over int-indexed adjacency in ONE task, votes counted in a per-vertex
  * hash map.
  *
  * Input edges are UNDIRECTED, one row per pair (u < v), no self-loops
  * — the co-purchase pair relation shape (same as [[KCore]]).
  */
object LabelPropagation {

  /** @param pairs  (a, b) long vertex ids, one row per undirected edge
    * @param rounds synchronous update rounds
    * @param assumeCanonical caller asserts `pairs` is ALREADY distinct
    *        with a ≠ b (e.g. a `.distinct()`-ed canonical a<b relation)
    *        — skips the internal dedup shuffle (r16: graph_modularity
    *        fed a distinct+checkpointed relation through a SECOND
    *        full distinct for nothing; LpaCanonicalSpec pins the
    *        equivalence on canonical inputs)
    * @return (node, label) after exactly `rounds` rounds */
  def run(pairs: DataFrame, rounds: Int,
          assumeCanonical: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val cast = pairs.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    val p0 = (if (assumeCanonical) cast
              else cast.filter(col("a") =!= col("b")).distinct())
      .localCheckpoint()
    if (GraphTier.singleTask("LabelPropagation.run", p0.count())) {
      // r16 kernel: int-indexed CSR adjacency + a reusable sort-scratch
      // vote counter instead of boxed HashMap[Long,…] maps per vertex
      // per round (the boxing dominated the single task — measured
      // 3.06 s → 0.6 s on the sf0.1 co-purchase graph, same window).
      // Vote semantics unchanged: neighbor labels sorted ascending,
      // strict count improvement to replace ⇒ (freq desc, label asc).
      p0.as[(Long, Long)].rdd.coalesce(1).mapPartitions { it =>
        val edges = it.toArray
        val idx = new java.util.HashMap[Long, Integer](edges.length * 2)
        var m = 0
        edges.foreach { case (a, b) =>
          if (!idx.containsKey(a)) { idx.put(a, m); m += 1 }
          if (!idx.containsKey(b)) { idx.put(b, m); m += 1 }
        }
        val ids = new Array[Long](m)
        idx.forEach((k, v) => ids(v) = k)
        val deg = new Array[Int](m)
        edges.foreach { case (a, b) =>
          deg(idx.get(a)) += 1; deg(idx.get(b)) += 1 }
        val off = new Array[Int](m + 1)
        var i = 0
        while (i < m) { off(i + 1) = off(i) + deg(i); i += 1 }
        val adj = new Array[Int](off(m))
        val cur = java.util.Arrays.copyOf(off, m)
        edges.foreach { case (a, b) =>
          val ia = idx.get(a).intValue(); val ib = idx.get(b).intValue()
          adj(cur(ia)) = ib; cur(ia) += 1
          adj(cur(ib)) = ia; cur(ib) += 1
        }
        var labels = ids.clone() // every vertex starts as its own label
        var next = new Array[Long](m)
        var maxDeg = 0
        i = 0
        while (i < m) { if (deg(i) > maxDeg) maxDeg = deg(i); i += 1 }
        val buf = new Array[Long](math.max(maxDeg, 1))
        var round = 0
        while (round < rounds) {
          i = 0
          while (i < m) {
            val s = off(i); val e2 = off(i + 1)
            var k = s
            while (k < e2) { buf(k - s) = labels(adj(k)); k += 1 }
            val d0 = e2 - s
            java.util.Arrays.sort(buf, 0, d0)
            var bestLabel = Long.MaxValue; var bestCnt = 0
            var j = 0
            while (j < d0) {
              var j2 = j
              while (j2 < d0 && buf(j2) == buf(j)) j2 += 1
              if (j2 - j > bestCnt) { bestCnt = j2 - j; bestLabel = buf(j) }
              j = j2
            }
            next(i) = bestLabel
            i += 1
          }
          val tmp = labels; labels = next; next = tmp
          round += 1
        }
        val out = labels
        ids.indices.iterator.map(i2 => (ids(i2), out(i2)))
      }.toDF("node", "label")
    } else {
      // symmetric vote flow: each undirected pair votes in both directions
      val e = p0.select(col("a").as("u"), col("b").as("v"))
        .unionByName(p0.select(col("b").as("u"), col("a").as("v")))
        .localCheckpoint()
      var labels = e.select(col("u").as("node")).distinct()
        .select(col("node"), col("node").as("label")).localCheckpoint()
      for (_ <- 1 to rounds) {
        labels = e
          .join(labels.select(col("node").as("v"), col("label")), "v")
          .groupBy(col("u"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("u").as("node"))
          .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("best"))
          .select(col("node"), (-col("best.nl")).as("label"))
          .localCheckpoint()
      }
      labels
    }
  }
}
