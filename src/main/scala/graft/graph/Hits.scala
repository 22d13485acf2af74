package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HITS (hubs & authorities, Kleinberg 1999) — the second iterative
  * fixed-point algorithm of the engine, generalizing the PageRank loop
  * muscle (reference: `/root/reference/PageRankAlgorithm.java:97-114`'s
  * driver-sequenced iteration) to a TWO-vector mutual recurrence:
  *
  *   auth(p) ∝ Σ_{q→p} hub(q)        hub(p) ∝ Σ_{p→q} auth(q)
  *
  * Cross-engine determinism (the property that makes this key
  * oracle-checkable where naive HITS is not): each half-step normalizes
  * by the MAX of the previous vector, not the L1/L2 norm. A global
  * float SUM is partial-order-dependent (Spark's tree aggregation vs
  * DuckDB's sequential scan can differ in the last ulp, and a norm
  * propagates that ulp into every value); MAX of already-rounded values
  * is exact in any evaluation order, and the subsequent division is one
  * IEEE op both engines perform identically. Each half-step result is
  * rounded to the 1e-9 grid so per-vertex sum ordering differences are
  * absorbed — the same lock-step trick as `pagerank_oracle`
  * (SURVEY.md §5.3d).
  *
  * Execution tiers (the PageRank lesson, measured again here;
  * [[GraphTier.singleTask]] picks one):
  *  - '''small graph''': ALL half-steps run inside ONE task
  *    over primitive arrays — 20 Catalyst-planned checkpointed rounds
  *    cost 40 s at 185k vertices/900k edges where the array loop costs
  *    ~2 s; scheduling and planning dominate, not math.
  *  - '''distributed''' ([[runDistributed]]): per half-step
  *      edges ⋈ state (one hash shuffle) → groupBy(receiver).sum
  *      (map-side partial agg) → ÷max via crossJoin(broadcast(1-row
  *      agg)) — the normalizer stays in-plan, NO driver round-trip per
  *      iteration (unlike the reference's 13 blocking job submissions).
  *    State is self-referenced three times per half-step (normalizer,
  *    message join, carry-through), so the loop localCheckpoints EVERY
  *    iteration — an unchecked plan grows ~9× per iteration
  *    (exponential analysis cost, worse than §4.3's linear doubling).
  * Both tiers are spec-compared for exact equality.
  */
object Hits {

  // shared valueOf-semantics grid rounding — see GridRound's scaladoc
  private def rnd9(roundTo: Int)(v: Double): Double =
    graft.functions.GridRound.fn(roundTo)(v)

  /** @param edges  (src: string, dst: string) directed edge relation
    * @param iters  full iterations (each = auth half-step + hub half-step)
    * @param roundTo decimal grid applied to every stored value
    * @return (title, hub, auth) for every vertex appearing in `edges` */
  def run(edges: DataFrame, iters: Int = 10, roundTo: Int = 9): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst")).as[(String, String)]
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val out = if (GraphTier.singleTask("Hits.run", e.count())) {
      // the whole loop is ONE job, zero shuffles after the coalesce
      val rnd = rnd9(roundTo) _
      val res = e.coalesce(1).mapPartitions { it =>
        val edgeArr = it.toArray
        if (edgeArr.isEmpty) Iterator.empty
        else {
        // boxed Integer, NOT Int: a primitive-valued java.util.HashMap
        // unboxes get()'s null to 0, so "absent" would be unobservable
        val idx = new java.util.HashMap[String, Integer]()
        val names = new scala.collection.mutable.ArrayBuffer[String]()
        def id(t: String): Int = {
          val got = idx.get(t)
          if (got == null) { val i = names.length; idx.put(t, i); names += t; i }
          else got.intValue()
        }
        val src = new Array[Int](edgeArr.length)
        val dst = new Array[Int](edgeArr.length)
        var k = 0
        while (k < edgeArr.length) {
          src(k) = id(edgeArr(k)._1); dst(k) = id(edgeArr(k)._2); k += 1
        }
        val m = names.length
        var hub = Array.fill(m)(1.0)
        var auth = Array.fill(m)(1.0)
        var iter = 0
        while (iter < iters) {
          // auth half-step: sums in edge-array order (deterministic)
          val hmax = hub.max
          val a2 = new Array[Double](m)
          k = 0
          while (k < edgeArr.length) { a2(dst(k)) += hub(src(k)); k += 1 }
          var v = 0
          while (v < m) { a2(v) = if (a2(v) == 0.0) 0.0 else rnd(a2(v) / hmax); v += 1 }
          auth = a2
          // hub half-step from the NEW auth
          val amax = auth.max
          val h2 = new Array[Double](m)
          k = 0
          while (k < edgeArr.length) { h2(src(k)) += auth(dst(k)); k += 1 }
          v = 0
          while (v < m) { h2(v) = if (h2(v) == 0.0) 0.0 else rnd(h2(v) / amax); v += 1 }
          hub = h2
          iter += 1
        }
        names.indices.iterator.map(i => (names(i), hub(i), auth(i)))
        }
      }
      res.toDF("title", "hub", "auth").localCheckpoint()
    } else runDistributed(e.toDF("src", "dst"), iters, roundTo)
    // Neither tier reads the edges cache again (both checkpoint eagerly),
    // so it is released NOW — without it every run() leaked a
    // MEMORY_AND_DISK RDD for the session lifetime (ADVICE r3).
    e.unpersist(blocking = false)
    out
  }

  /** The scale tier: Catalyst-planned half-steps, one shuffle each, the
    * max-normalizer carried in-plan as a broadcast 1-row aggregate. */
  private def runDistributed(edges: DataFrame, iters: Int, roundTo: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val verts = e.select(col("src").as("title"))
      .unionByName(e.select(col("dst").as("title")))
      .distinct()
      .localCheckpoint()

    var state = verts.select(col("title"), lit(1.0).as("hub"), lit(1.0).as("auth"))
    var lastCkpt: Option[DataFrame] = None
    for (i <- 1 to iters) {
      // auth half-step: pull hub mass along in-edges, normalize by max hub
      val hmax = state.agg(max(col("hub")).as("__mx"))
      val authNew = e.join(state.select(col("title").as("src"), col("hub")), "src")
        .groupBy(col("dst").as("title")).agg(sum(col("hub")).as("__s"))
        .crossJoin(broadcast(hmax))
        .select(col("title"), round(col("__s") / col("__mx"), roundTo).as("__auth"))
      state = state.select("title", "hub")
        .join(authNew, Seq("title"), "left")
        .select(col("title"), col("hub"),
          coalesce(col("__auth"), lit(0.0)).as("auth"))
      // hub half-step: pull the NEW auth mass along out-edges
      val amax = state.agg(max(col("auth")).as("__mx"))
      val hubNew = e.join(state.select(col("title").as("dst"), col("auth")), "dst")
        .groupBy(col("src").as("title")).agg(sum(col("auth")).as("__s"))
        .crossJoin(broadcast(amax))
        .select(col("title"), round(col("__s") / col("__mx"), roundTo).as("__hub"))
      state = state.select("title", "auth")
        .join(hubNew, Seq("title"), "left")
        .select(col("title"), coalesce(col("__hub"), lit(0.0)).as("hub"), col("auth"))
      state = state.localCheckpoint() // eager: materializes + truncates
      lastCkpt.foreach(_.unpersist(false))
      lastCkpt = Some(state)
    }
    state
  }
}
