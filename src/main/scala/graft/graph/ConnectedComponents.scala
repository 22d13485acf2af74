package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair graph — the cluster
  * resolution step a dedup pipeline runs AFTER candidate-pair mining
  * (MinHash / SimHash / embedding LSH all emit *pairs*; picking one
  * keeper per near-dup *cluster* needs the transitive closure).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al. 2014),
  * the MapReduce-native formulation that converges in O(log² n) rounds on
  * ANY graph — unlike plain min-label propagation, whose round count is
  * the graph DIAMETER (a 10⁶-long chain of near-dups would need 10⁶
  * shuffles; boilerplate-heavy corpora really do produce long chains
  * through overlapping LSH buckets).
  *
  * Scale shape — each half-round is exactly:
  *   groupBy(node).min(neighbor)   — ONE shuffle, partial-agg map-side
  *   join edges ⋈ mins on node     — co-partitioned with the groupBy
  *                                   (same key ⇒ the exchange is reused)
  *   per-row select + distinct     — distinct shuffles on the edge itself
  * There is NO collect_list adjacency materialization anywhere: a star
  * center of degree 10⁸ (every doc in a giant near-dup cluster) flows
  * through as 10⁸ skinny (node, min) rows, never as one array in one
  * task. Skewed hub keys are plain aggregation/join skew — AQE's skew
  * split applies; nothing here assumes a bounded degree.
  *
  * The loop is Catalyst-planned per round (unlike PageRank's fixed-shape
  * RDD inner loop): round count is ~log² of the LARGEST component (≤ ~10
  * in practice), so per-round planning cost is immaterial, and each round
  * is localCheckpoint-ed eagerly — lineage stays flat and the convergence
  * fingerprint action reuses the materialized result.
  *
  * Semantics: nodes are the ids appearing in `pairs`; the component label
  * is the component's MINIMUM node id (so `label == node` identifies the
  * cluster keeper under min-id keeper policy). Self-pairs are ignored;
  * singleton nodes (no surviving pair) don't appear — callers re-attach
  * the full corpus with a left join + coalesce(label, id).
  */
object ConnectedComponents {

  /** Large-star: every node u connects its LARGER neighbors to
    * m(u) = min(Γ(u) ∪ {u}). Works on the symmetric edge relation. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: operates on (u, v) edges oriented u > v (large-star
    * output is always so oriented); every node u connects its smaller
    * neighbors AND itself to m(u) = min(Γ⁻(u)). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("u").agg(min("v").as("m"))
    edges.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Canonical edge relation: Long ids, self-pairs dropped, oriented
    * (max, min), distinct, MATERIALIZED — the count the tier decision
    * needs and every star round reuse this checkpoint. */
  private def canonicalize(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint()

  /** Star-round fixpoint: canonicalized edges → (fixpoint edges, rounds).
    *
    * Convergence = edge-set fixpoint, detected by an order-independent
    * fingerprint (count + XOR of per-edge hashes; XOR, not sum — the
    * edges are distinct so nothing cancels, and a Long sum would trip
    * ANSI overflow) — one cheap action per round over the already-
    * materialized checkpoint, no except()/join against the previous
    * round. A fingerprint collision would need two DIFFERENT edge sets
    * with equal count and equal 64-bit hash XOR in consecutive rounds
    * (~2⁻⁶⁴); the downstream oracle would still catch it. */
  private def fixpoint(canonical: DataFrame, maxIters: Int): (DataFrame, Int) = {
    var edges = canonical

    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var fp = fingerprint(edges)
    var converged = fp._1 == 0L
    var it = 0
    while (!converged && it < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      edges = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds " +
          "(O(log² n) expected — this indicates a bug, not a big graph)")
    (edges, it)
  }

  /** Edge sets [[GraphTier.driver]] admits close in one driver union-find
    * (each star round schedules ~8 jobs; dedup's candidate pairs survive
    * banding + verify, so |edges| ≪ |corpus|); the star loop above it is
    * spec-compared against the union-find.
    *
    * @param pairs candidate pairs, two Long id columns (undirected; order
    *              and duplicates irrelevant)
    * @return (node, component) for every node in `pairs`, component = min
    *         id of the node's connected component */
  def run(pairs: DataFrame, aCol: String, bCol: String,
          maxIters: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val canonical = canonicalize(pairs, aCol, bCol)
    if (GraphTier.driver("ConnectedComponents.run", canonical.count())) {
      val edges = canonical.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      // union by hanging the LARGER root under the smaller, so every
      // root IS its component's minimum id — same labels as the stars
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = parent.keys.toSeq.map(x => (x, find(x)))
      spark.createDataset(labels).toDF("node", "component")
    } else {
      val (edges, _) = fixpoint(canonical, maxIters)
      // Fixpoint edges form stars (node > root, root = component min):
      // members are the u side; roots appear only as v and label
      // themselves.
      edges.select(col("u").as("node"), col("v").as("component"))
        .unionByName(
          edges.select(col("v").as("node"), col("v").as("component")).distinct())
    }
  }

  /** Number of star rounds the fixpoint took — observability for the
    * iteration-bound spec (same loop the operator runs, not a replica). */
  private[graft] def roundsToConverge(pairs: DataFrame, aCol: String,
                                      bCol: String, maxIters: Int = 50): Int =
    fixpoint(canonicalize(pairs, aCol, bCol), maxIters)._2

  /** INCREMENTAL maintenance: absorb a delta edge batch into existing
    * component labels without re-running CC on the full graph.
    *
    * Old components collapse to their label (min node id), so running
    * CC over the LABEL graph — delta endpoints mapped through their old
    * labels, unseen endpoints labeling themselves — merges everything
    * the delta connects at |delta| + #touched-labels cost. A label
    * graph's component minimum is the global component minimum (labels
    * ARE node ids), so relabeling old rows through the meta result
    * reproduces `run(old ∪ delta)` exactly (property-tested, and the
    * graph_cc_incremental oracle is the full recompute).
    *
    * @param cc0   prior labels (node, component) — i.e. `run(oldEdges)`
    * @param delta new edges (aCol, bCol)
    * @return (node, component) for old nodes ∪ delta endpoints */
  def incremental(cc0: DataFrame, delta: DataFrame,
                  aCol: String, bCol: String): DataFrame = {
    val la = cc0.select(col("node").as(aCol), col("component").as("__la"))
    val lb = cc0.select(col("node").as(bCol), col("component").as("__lb"))
    val dl = delta.join(la, Seq(aCol), "left").join(lb, Seq(bCol), "left")
      .select(coalesce(col("__la"), col(aCol)).as("x"),
        coalesce(col("__lb"), col(bCol)).as("y"))
    val meta = run(dl, "x", "y")
    val oldUpd = cc0
      .join(meta.select(col("node").as("component"),
        col("component").as("__c2")), Seq("component"), "left")
      .select(col("node"),
        coalesce(col("__c2"), col("component")).as("component"))
    val newRows = meta.join(
        cc0.select(col("component").as("node")).distinct(),
        Seq("node"), "left_anti")
      .select(col("node"), col("component"))
    oldUpd.unionByName(newRows)
  }
}
