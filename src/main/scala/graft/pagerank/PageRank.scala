package graft.pagerank

import scala.reflect.ClassTag
import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.GraphTier

/** Iterative PageRank with the REFERENCE's exact semantics
  * (ref: PageRankAlgorithm.java:97-114, :323-399; SURVEY.md §2.10):
  * `rank₀ = 1/N` (:302); a fixed iteration count, default 10 (:98);
  * `rankᵢ₊₁(p) = d · Σ_{q→p} rankᵢ(q)/outDeg(q) + (1−d)`, d = 0.85 (:395),
  * the UNNORMALIZED variant; shares sent to red links (targets that are
  * not pages) are DROPPED (:392-394); a page nothing reaches rests at 1−d
  * (:369); dangling mass evaporates; self-loops and duplicate links count
  * in the out-degree (:339). A link reaches EVERY page carrying its title,
  * and a null link a null title, as in a pair join.
  *
  * ONE kernel serves [[run]], [[runNormalized]] and [[runConverged]]: one
  * graph build and one iteration step (GraphX's aggregateMessages shape,
  * Gonzalez et al., OSDI 2014, on primitive arrays). The variants differ
  * only in per-vertex values the step takes — divisor, teleport term,
  * start rank — and two switches: spreading the dangling mass
  * (normalized) and a max-delta stop (converged). A small graph runs the
  * same build and step inside one task ([[GraphTier.pageRankSingleTask]]
  * decides). An RDD loop because the iteration body is a FIXED shape:
  * Catalyst re-planning per iteration cost ~10 s/iteration of planning +
  * JIT at 165k vertices vs ~0.5 s of actual work.
  */
object PageRank extends Serializable {

  /** What one entry point computes, per vertex v with title t:
    * `rank'(v) = rnd(d·(s(v) + D/n) + base(t))`, where s(v) sums the
    * shares rank(u)/deg(u) of v's in-links and D is the dangling mass the
    * senders spread (0 unless `normalized`). `rnd` pins every iteration
    * to the 10^-roundTo grid (identity below 0), so an independent engine
    * running the same rounded recurrence (the DuckDB recursive-CTE
    * oracle) carries IDENTICAL values. */
  private final case class Recurrence(n: Long, d: Double, rnd: Double => Double,
      normalized: Boolean, seeds: Option[(Broadcast[Set[String]], Double)]) {
    /** The teleport term: (1−d) in the reference formula, (1−d)·1[t∈S]/|S|
      * personalized, (1−d)/n normalized. */
    def base(t: String): Double =
      if (seeds.isDefined) (1.0 - d) * start(t) else if (normalized) (1.0 - d) / n else 1.0 - d
    /** The cold start rank before rounding: 1/n, or 1[t∈S]/|S| personalized. */
    def start(t: String): Double =
      seeds.fold(1.0 / n) { case (bc, invS) => if (bc.value(t)) invS else 0.0 }
  }

  /** One loop partition, all primitive arrays: each local vertex's divisor
    * (its full out-degree, red links counted — or, normalized, its
    * resolved edge count), a CSR whose row v — edges off(v) until
    * off(v + 1) — holds each edge's message slot, the slots of
    * destination partition q at slotOff(q) until slotOff(q + 1), each
    * slot's destination-local index in outIdx, and each vertex's
    * teleport term and start rank. */
  private final case class LoopGraph(deg: Array[Int], off: Array[Int], slot: Array[Int],
      slotOff: Array[Int], outIdx: Array[Int], base: Array[Double], rank0: Array[Double])

  /** A resolution bucket's answer for one loop partition: resolved edges
    * (source-local index, destination id), or warm-start ranks
    * (local index, rank). */
  private type Resolved = Either[(Array[Int], Array[Long]), (Array[Int], Array[Double])]

  /** One sender's message to one destination partition: the slots'
    * destination-local indices, their sums, and the dangling mass it
    * spreads. */
  private type Msg = (Array[Int], Array[Double], Double)

  /** Stable counting sort of items by bucket `key(k)` in [0, nb): bucket b
    * holds sorted positions off(b) until off(b + 1), item k goes to
    * pos(k). */
  private def bucketSort(nb: Int, key: Array[Int]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](nb + 1)
    var k = 0
    while (k < key.length) { off(key(k) + 1) += 1; k += 1 }
    var b = 0
    while (b < nb) { off(b + 1) += off(b); b += 1 }
    val next = java.util.Arrays.copyOf(off, nb)
    val pos = new Array[Int](key.length)
    k = 0
    while (k < key.length) { pos(k) = next(key(k)); next(key(k)) += 1; k += 1 }
    (off, pos)
  }

  /** Items (a(k), b(k)) stably bucket-sorted by key(k) in [0, nb), one
    * chunk record (bucket, (a's slice, b's slice)) per non-empty bucket. */
  private def bucketed[@specialized(Int) A: ClassTag, @specialized(Long, Double) B: ClassTag](
      nb: Int, key: Array[Int], a: Array[A], b: Array[B]): Iterator[(Int, (Array[A], Array[B]))] = {
    val (off, pos) = bucketSort(nb, key)
    val sa = new Array[A](a.length)
    val sb = new Array[B](b.length)
    var k = 0
    while (k < key.length) { sa(pos(k)) = a(k); sb(pos(k)) = b(k); k += 1 }
    (0 until nb).iterator.filter(q => off(q + 1) > off(q))
      .map(q => (q, (sa.slice(off(q), off(q + 1)), sb.slice(off(q), off(q + 1)))))
  }

  /** `vals` keyed by title, bucketed to hash(title) mod nb. */
  private def byTitle[@specialized(Long, Double) B: ClassTag](part: HashPartitioner,
      titles: Array[String], vals: Array[B]): Iterator[(Int, (Array[String], Array[B]))] =
    bucketed(part.numPartitions, titles.map(part.getPartition), titles, vals)

  /** `vals` keyed by partition-encoded id (p&lt;&lt;32)|local, bucketed to
    * p as (locals, vals). */
  private def byPart[@specialized(Long, Double) B: ClassTag](parts: Int, ids: Array[Long],
      vals: Array[B]): Iterator[(Int, (Array[Int], Array[B]))] =
    bucketed(parts, partOf(ids), ids.map(_.toInt), vals)

  /** The partition half of each partition-encoded id (p&lt;&lt;32)|local. */
  private def partOf(ids: Array[Long]): Array[Int] = {
    val p = new Array[Int](ids.length)
    var k = 0
    while (k < ids.length) { p(k) = (ids(k) >>> 32).toInt; k += 1 }
    p
  }

  /** Distributed-loop partition sizing: ~50k vertices or ~150k edges per
    * partition, whichever needs more (the edge expansion is the
    * per-iteration cost: sized by vertices alone, the 300k-vertex/3.6M-
    * edge bench dump left 26 of 32 cores idle), with the session conf as
    * the ceiling. Below ~50k vertices per-task scheduling overhead
    * dominates (measured 2× at 16.5k vertices on 32 partitions). The
    * floor of 2 binds only under `GraphTier.distributedOnly` (a graph the
    * single task rejects sizes to ≥ 6), so tiny test graphs still route
    * messages across partitions. */
  private def sizeParts(n: Long, edges: Long, confParts: Int): Int =
    math.min(confParts.toLong,
      math.max(2L, math.max(1L + (n - 1).max(0L) / 50000L,
                            1L + (edges - 1).max(0L) / 150000L))).toInt

  /** ONE materializing pass over the fat cached relation computing both
    * sizing aggregates — r17 (guide §1.2 step 1): `count()` + a separate
    * edge-sum pass cost two full reads of the (title, outlinks) cache
    * before any ranking work started. */
  private def sizeCounts(raw: RDD[(String, Seq[String])]): (Long, Long) =
    raw.mapPartitions { it =>
      var n = 0L; var e = 0L
      while (it.hasNext) { n += 1L; e += it.next()._2.size }
      Iterator.single((n, e))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))

  /** Loop partition p's titles with their ids (p&lt;&lt;32)|local, bucketed
    * by title. */
  private def titleChunks(p: Int, vs: Array[(String, Seq[String])],
      part: HashPartitioner): Iterator[(Int, (Array[String], Array[Long]))] = {
    val ids = new Array[Long](vs.length)
    for (i <- ids.indices) ids(i) = (p.toLong << 32) | i
    byTitle(part, vs.map(_._1), ids)
  }

  /** Loop partition p's link occurrences with their source ids, bucketed
    * by target title. */
  private def linkChunks(p: Int, vs: Array[(String, Seq[String])],
      part: HashPartitioner): Iterator[(Int, (Array[String], Array[Long]))] = {
    val dsts = new Array[String](vs.iterator.map(_._2.size).sum)
    val srcs = new Array[Long](dsts.length)
    var k = 0
    for (i <- vs.indices; l <- vs(i)._2) { dsts(k) = l; srcs(k) = (p.toLong << 32) | i; k += 1 }
    byTitle(part, dsts, srcs)
  }

  /** One resolution bucket: a title → id table of the bucket's pages;
    * each link occurrence resolves to every page carrying its title (red
    * links drop here), each warm-start rank likewise, and both go back to
    * the owning loop partition, chunked. Only one occurrence chunk's
    * strings are live at a time. */
  private def resolve(titles: Iterator[(Array[String], Array[Long])],
      links: Iterator[(Array[String], Array[Long])],
      warm: Iterator[(Array[String], Array[Double])],
      loopParts: Int): Iterator[(Int, Resolved)] = {
    val tcs = titles.toArray
    // open addressing (id -1 = empty slot, load ≤ 1/2); Fibonacci
    // hashing takes the high bits, since a bucket's titles share
    // hashCode mod numParts; null matches null, as in a pair join
    var cap = 2
    while (cap < 2 * tcs.map(_._1.length).sum) cap <<= 1
    val shift = Integer.numberOfLeadingZeros(cap) + 1
    def home(t: String) = (java.util.Objects.hashCode(t) * 0x9E3779B9) >>> shift
    val tabTitle = new Array[String](cap)
    val tabId = new Array[Long](cap)
    java.util.Arrays.fill(tabId, -1L)
    for ((ts, is) <- tcs; j <- ts.indices) {
      var h = home(ts(j))
      while (tabId(h) >= 0) h = (h + 1) & (cap - 1)
      tabTitle(h) = ts(j); tabId(h) = is(j)
    }
    val src = new scala.collection.mutable.ArrayBuilder.ofLong
    val dst = new scala.collection.mutable.ArrayBuilder.ofLong
    for ((ds, ss) <- links; j <- ds.indices) {
      var h = home(ds(j))
      while (tabId(h) >= 0) {
        if (tabTitle(h) == ds(j)) { src += ss(j); dst += tabId(h) }
        h = (h + 1) & (cap - 1)
      }
    }
    val at = new scala.collection.mutable.ArrayBuilder.ofLong
    val rk = new scala.collection.mutable.ArrayBuilder.ofDouble
    for ((ts, rs) <- warm; j <- ts.indices) {
      var h = home(ts(j))
      while (tabId(h) >= 0) {
        if (tabTitle(h) == ts(j)) { at += tabId(h); rk += rs(j) }
        h = (h + 1) & (cap - 1)
      }
    }
    byPart(loopParts, src.result(), dst.result()).map { case (q, e) => (q, Left(e): Resolved) } ++
      byPart(loopParts, at.result(), rk.result()).map { case (q, w) => (q, Right(w): Resolved) }
  }

  /** A loop partition's static graph from its rows and resolved records:
    * a counting-sort CSR over the local vertices, one message slot per
    * distinct destination — the sorted distinct destination ids, so
    * slots group by destination partition and ascend in
    * destination-local index — and the recurrence's per-vertex divisor,
    * teleport term and start rank (a warm-start rank where one
    * resolved). */
  private def loopGraph(vs: Array[(String, Seq[String])], res: Iterator[Resolved],
      loopParts: Int, rec: Recurrence): LoopGraph = {
    val (es, ws) = res.toArray.partitionMap(identity)
    val (off, pos) = bucketSort(vs.length, Array.concat(es.map(_._1).toSeq: _*))
    val dst = Array.concat(es.map(_._2).toSeq: _*)
    val sorted = dst.clone()
    java.util.Arrays.sort(sorted)
    var u = 0; var k = 0
    while (k < sorted.length) {
      if (u == 0 || sorted(u - 1) != sorted(k)) { sorted(u) = sorted(k); u += 1 }
      k += 1
    }
    val uniq = java.util.Arrays.copyOf(sorted, u)
    val slot = new Array[Int](dst.length)
    k = 0
    while (k < dst.length) { slot(pos(k)) = java.util.Arrays.binarySearch(uniq, dst(k)); k += 1 }
    val (slotOff, _) = bucketSort(loopParts, partOf(uniq))
    val outIdx = new Array[Int](u)
    for (j <- outIdx.indices) outIdx(j) = uniq(j).toInt
    val deg = new Array[Int](vs.length)
    val base = new Array[Double](vs.length)
    val start = new Array[Double](vs.length)
    for (v <- vs.indices) {
      deg(v) = if (rec.normalized) off(v + 1) - off(v) else vs(v)._2.size
      base(v) = rec.base(vs(v)._1)
      start(v) = rec.start(vs(v)._1)
    }
    for ((at, rk) <- ws; j <- at.indices) start(at(j)) = rk(j)
    LoopGraph(deg, off, slot, slotOff, outIdx, base, start.map(rec.rnd))
  }

  /** The sender half of one iteration: each edge's share rank(v)/deg(v)
    * summed into its slot — per slot in vertex-then-edge order — and the
    * slots of destination partition q shipped as (q, (their outIdx, their
    * sums, D)). A vertex without a resolved edge is dangling; `spread`
    * ships the partition's dangling mass D to EVERY partition, otherwise
    * it (like each red-link share, the divisor being the full
    * out-degree) evaporates as the reference drops it (ref :369,
    * :392-394). */
  private def send(g: LoopGraph, rank: Array[Double],
      spread: Boolean): Iterator[(Int, Msg)] = {
    val LoopGraph(deg, off, slot, slotOff, outIdx, _, _) = g
    val out = new Array[Double](outIdx.length)
    var dangling = 0.0
    var v = 0
    while (v < deg.length) {
      var k = off(v)
      if (k < off(v + 1)) {
        val c = rank(v) / deg(v)
        while (k < off(v + 1)) { out(slot(k)) += c; k += 1 }
      } else dangling += rank(v)
      v += 1
    }
    val shipped = if (spread) dangling else 0.0
    (0 until slotOff.length - 1).iterator
      .filter(q => spread || slotOff(q + 1) > slotOff(q))
      .map(q => (q, (outIdx.slice(slotOff(q), slotOff(q + 1)),
        out.slice(slotOff(q), slotOff(q + 1)), shipped)))
  }

  /** The receiver half: the messages' sums per destination vertex, then
    * every vertex's [[Recurrence]] update; pages no link reaches rest at
    * their teleport term. */
  private def receive(g: LoopGraph, msgs: Iterator[(Int, Msg)], rec: Recurrence): Array[Double] = {
    val sums = new Array[Double](g.deg.length)
    var dangling = 0.0
    msgs.foreach { case (_, (idx, s, m)) =>
      var j = 0
      while (j < idx.length) { sums(idx(j)) += s(j); j += 1 }
      dangling += m
    }
    val dn = dangling / rec.n
    val (d, rnd, base) = (rec.d, rec.rnd, g.base)
    var v = 0
    while (v < sums.length) { sums(v) = rnd(d * (sums(v) + dn) + base(v)); v += 1 }
    sums
  }

  /** max |b(v) − a(v)| — the converged variant's stop measure. */
  private def maxDelta(a: Array[Double], b: Array[Double]): Double = {
    var m = 0.0
    var v = 0
    while (v < a.length) { val x = math.abs(b(v) - a(v)); if (x > m) m = x; v += 1 }
    m
  }

  /** @param vertices (title: String, outlinks: Array[String]) — one row
    *                 per page; outlinks may repeat and may self-reference.
    * @param roundTo  pin every iteration to the 10^-roundTo grid (-1: off)
    * @param seeds    PERSONALIZED variant (a broadcast-size seed set S):
    *                 r₀ = 1[v∈S]/|S|, r' = d·Σ shares + (1−d)·1[v∈S]/|S|.
    * @return (title, rank), one row per page. */
  def run(vertices: DataFrame, iters: Int = 10, d: Double = 0.85,
          checkpointEvery: Int = 3, roundTo: Int = -1,
          seeds: Option[Set[String]] = None): DataFrame =
    kernel(vertices, "PageRank.run", iters, d, roundTo, checkpointEvery, seeds = seeds)

  /** NORMALIZED PageRank — the textbook mass-conserving variant, built as
    * an extension beyond reference parity (SURVEY §7.6):
    *
    *   rᵢ₊₁(p) = (1−d)/N + d·(Σ_{q→p} rᵢ(q)/deg(q) + Dᵢ/N)
    *
    * with deg counting only RESOLVED links (red links pruned, so no mass
    * leaks to non-vertices) and Dᵢ the total rank of pages without a
    * resolved link, redistributed uniformly. Total mass is EXACTLY 1
    * after every iteration (Σr' = (1−d) + d·(Σ_{linked} r + D) = 1) —
    * the invariant the spec asserts — unlike the reference recurrence
    * where red-link and dangling mass evaporates. Each sender ships its
    * partition's D with the chunk records it already sends, so the
    * spread costs no job of its own. */
  def runNormalized(vertices: DataFrame, iters: Int = 10, d: Double = 0.85,
                    roundTo: Int = -1): DataFrame =
    kernel(vertices, "PageRank.runNormalized", iters, d, roundTo, checkpointEvery = 3,
      normalized = true)

  /** Fixed-point (converged) variant for incremental/streaming use.
    *
    * The recurrence `r' = d·M·r + (1−d)·1` is an affine map whose linear
    * part has spectral radius ≤ d < 1 (column sums of M are ≤ 1 — dangling
    * and red-link mass evaporates), so it is a CONTRACTION with a unique
    * fixed point independent of the start vector. That is what makes
    * warm-starting sound: iterating from the previous micro-batch's ranks
    * (`init`) converges to exactly the same answer as a cold 1/N start,
    * only in far fewer sweeps after a small graph delta.
    *
    * Stops when the max per-vertex delta < `eps` (checked every sweep:
    * one job per sweep materializes the new ranks and their delta, the
    * honest price of a convergence gate; the single task checks for
    * free) or at `maxIters`.
    *
    * @param init previous (title, rank) relation, resolved by title in
    *             the pass that resolves links; vertices absent from it
    *             start at 1/N, titles absent from the graph are dropped. */
  def runConverged(vertices: DataFrame, d: Double = 0.85, eps: Double = 1e-9,
                   maxIters: Int = 200, init: Option[DataFrame] = None): DataFrame =
    kernel(vertices, "PageRank.runConverged", maxIters, d, roundTo = -1,
      checkpointEvery = 1, init = init, eps = Some(eps))

  /** The one build and loop behind the three entry points: at most
    * `iters` iterations, each a [[send]] and a [[receive]]; with `eps`,
    * also stop once no rank moves by `eps` or more. */
  private def kernel(vertices: DataFrame, algorithm: String, iters: Int, d: Double,
      roundTo: Int, checkpointEvery: Int, normalized: Boolean = false,
      seeds: Option[Set[String]] = None, init: Option[DataFrame] = None,
      eps: Option[Double] = None): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    // The raw RDD is persisted before the sizing count so an expensive
    // upstream plan (e.g. wiki parse) is evaluated once, not twice.
    val raw = vertices.select("title", "outlinks").as[(String, Seq[String])]
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val (n, nEdges) = sizeCounts(raw)
    val confParts = spark.sessionState.conf.numShufflePartitions
    val singleTask = GraphTier.pageRankSingleTask(algorithm, n, nEdges, confParts)
    if (n == 0) {
      raw.unpersist(false)
      return Seq.empty[(String, Double)].toDF("title", "rank")
    }
    val numParts = if (singleTask) 1 else sizeParts(n, nEdges, confParts)
    val part = new HashPartitioner(numParts)
    val rec = Recurrence(n, d, graft.functions.GridRound.fn(roundTo), normalized,
      seeds.map(s => (spark.sparkContext.broadcast(s), 1.0 / s.size)))
    val warm = init.map(_.select("title", "rank").as[(String, Double)].rdd)
      .filter(_.getNumPartitions > 0)
    def warmChunks(it: Iterator[(String, Double)]) = {
      val ws = it.toArray
      byTitle(part, ws.map(_._1), ws.map(_._2))
    }
    val stop: Double => Boolean = delta => eps.exists(delta < _)

    // `release` frees the tier's loop state once the shared tail has
    // materialized the ranks
    val (ranks, release) =
      if (singleTask) {
        // SINGLE-TASK TIER: per-iteration job scheduling would dominate
        // milliseconds of arithmetic, so the build and every iteration run
        // inside ONE task over a narrow coalesce(1) of raw's cache (r17:
        // 0.24 s vs 0.9 s for a single-partition shuffle at sf0.1/32c);
        // one sender, so every sum keeps vertex-then-edge order, and the
        // `eps` check is a free local comparison.
        def oneTask(vs: Array[(String, Seq[String])], ws: Iterator[(String, Double)]) = {
          val res = resolve(titleChunks(0, vs, part).map(_._2),
            linkChunks(0, vs, part).map(_._2), warmChunks(ws).map(_._2), 1)
          val g = loopGraph(vs, res.map(_._2), 1, rec)
          var rank = g.rank0
          var i = 0
          var delta = Double.MaxValue
          while (i < iters && !stop(delta)) {
            val next = receive(g, send(g, rank, normalized), rec)
            if (eps.isDefined) delta = maxDelta(rank, next)
            rank = next
            i += 1
          }
          vs.iterator.zip(rank.iterator).map { case ((t, _), r) => (t, r) }
        }
        val links = raw.coalesce(1)
        warm.fold(links.mapPartitions(it => oneTask(it.toArray, Iterator.empty))) { w =>
          links.zipPartitions(w.coalesce(1))((lit, wit) => oneTask(lit.toArray, wit))
        } -> (() => ())
      } else {
        // ROUTING-TABLE loop: vertices get ids (p<<32)|localIndex on the
        // loop layout, every partition precomputes once where each of
        // its edges' contributions goes, and each iteration ships ONE
        // chunked message per (source, destination) partition pair. The
        // loop runs on the scan's own layout (coalesced under the conf
        // ceiling — narrow) unless the scan is severely under-split (one
        // gzip file feeding a big graph): only then are the fat
        // (title, outlinks) rows hash-shuffled onto numParts partitions.
        val nativeParts = raw.getNumPartitions
        val useNative = nativeParts >= math.max(1, numParts / 3)
        val links =
          if (useNative) {
            if (nativeParts > confParts) raw.coalesce(confParts) else raw
          } else {
            val l = raw.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
            l.count()
            raw.unpersist(false)
            l
          }
        val loopParts = links.getNumPartitions
        // Int keys hash to themselves: chunk record (p, _) goes to partition p
        val pPart = new HashPartitioner(loopParts)

        // 1. Title resolution: each loop partition sends its titles (with
        // their ids) and its link occurrences (with the source id) — and
        // each warm-start row — to bucket hash(title) mod numParts, one
        // chunk record per bucket; [[resolve]] answers each loop
        // partition with its resolved edges and warm ranks.
        val titles = links.mapPartitionsWithIndex((p, it) => titleChunks(p, it.toArray, part))
          .partitionBy(part)
        val occurrences = links.mapPartitionsWithIndex((p, it) => linkChunks(p, it.toArray, part))
          .partitionBy(part)
        val resolved = (warm match {
          case Some(w) =>
            titles.zipPartitions(occurrences,
                w.mapPartitions(warmChunks).partitionBy(part)) { (tit, lit, wit) =>
              resolve(tit.map(_._2), lit.map(_._2), wit.map(_._2), loopParts)
            }
          case None =>
            titles.zipPartitions(occurrences) { (tit, lit) =>
              resolve(tit.map(_._2), lit.map(_._2), Iterator.empty, loopParts)
            }
        }).partitionBy(pPart)

        // 2. Static graph, once per loop partition.
        val graph = links.zipPartitions(resolved, preservesPartitioning = true) { (lit, rit) =>
          Iterator.single(loopGraph(lit.toArray, rit.map(_._2), loopParts, rec))
        }.persist(StorageLevel.MEMORY_AND_DISK)
        graph.count()

        // 3. Iterations: one narrow sender pass, one shuffle of at most
        // P² chunk records, one narrow receiver pass.
        var r = graph.map(_.rank0)
        var lastCkpt: Option[RDD[Array[Double]]] = None
        var i = 0
        var delta = Double.MaxValue
        while (i < iters && !stop(delta)) {
          i += 1
          val prev = r
          val msgs = graph.zipPartitions(prev) { (git, rit) =>
            send(git.next(), rit.next(), normalized)
          }.partitionBy(pPart)
          r = graph.zipPartitions(msgs)((git, mit) => Iterator.single(receive(git.next(), mit, rec)))
          // with `eps`, one job per sweep materializes the new ranks and
          // their max delta; otherwise the last iteration needs no
          // checkpoint of its own: the shared tail's one job computes it
          // and materializes the named ranks
          if (eps.isDefined || (i % checkpointEvery == 0 && i < iters)) {
            r.localCheckpoint()
            if (eps.isDefined)
              delta = prev.zipPartitions(r)((a, b) => Iterator.single(maxDelta(a.next(), b.next()))).max()
            else r.count() // materialize NOW — truncation is real, not deferred
            lastCkpt.foreach(_.unpersist(false))
            lastCkpt = Some(r)
          }
        }
        // restore titles by partition-local position (no join needed —
        // links and the rank arrays share partitioning and order)
        val named = links.zipPartitions(r) { (lit, rit) =>
          val rank = rit.next()
          lit.zipWithIndex.map { case ((t, _), i) => (t, rank(i)) }
        }
        named -> { () =>
          graph.unpersist(false)
          if (!useNative) links.unpersist(false) // native layout = raw's cache
          lastCkpt.foreach(_.unpersist(false))
        }
      }
    // ONE job materializes either tier's result before the caches it
    // reads are released: the single task's ranks derive lazily from raw
    // through the coalesce, the distributed ranks from the loop graph and
    // the last checkpoint
    ranks.localCheckpoint()
    ranks.count()
    release()
    raw.unpersist(false)
    ranks.toDF("title", "rank")
  }

  /** Ranked output in the reference's sort-job shape (ref: :407-436) with
    * the deterministic title tie-break (SURVEY.md §7.5). */
  def ranked(vertices: DataFrame, iters: Int = 10, d: Double = 0.85): DataFrame =
    run(vertices, iters, d).orderBy(desc("rank"), asc("title"))

  /** WEIGHTED PageRank over an explicit edge relation —
    * `r'(v) = (1−d) + d·Σ_{(u,v)} (w(u,v)/W(u))·r(u)` with `W(u)` the
    * out-weight sum (the weighted generalization of the reference
    * recurrence; unit weights reduce to it exactly).
    *
    * Declarative DataFrame loop (SURVEY.md §7.3 composition-first): the
    * edge fractions are computed ONCE (exact long weights, one double
    * division both engines perform identically) and localCheckpointed;
    * each iteration is join → map-side-partial sum → left join from the
    * vertex set (contribution-less vertices rest at 1−d, unresolvable
    * targets drop — the reference's red-link semantics). Per-iteration
    * `roundTo` pinning keeps a recursive-CTE oracle in lockstep, the
    * [[run]] discipline. Meant for MODEST iteration counts on weighted
    * graphs; high-iteration unweighted runs take [[run]]'s Pregel loop.
    *
    * @param edges (src: String, dst: String, w: Long) — parallel edges
    *              allowed (weights add); zero/negative weights are the
    *              caller's responsibility to exclude
    */
  def weightedDataFrame(edges: DataFrame, iters: Int = 5, d: Double = 0.85,
                        roundTo: Int = 9, checkpointEvery: Int = 2): DataFrame = {
    val agg = edges.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    // r16 (guide §2.4 "remove shuffles outright"): the out-weight sum
    // W(u) is a WINDOW over the src partitioning instead of a
    // groupBy+self-join (one exchange fewer, exact same LONG sums),
    // and both static relations are PRE-PARTITIONED on their join key
    // and PERSISTED: InMemoryRelation preserves outputPartitioning
    // (localCheckpoint under AQE reports UnknownPartitioning and loses
    // it — measured in the tail plan),
    // so every iteration's e⋈ranks join reads the edge side's cached
    // hash(src) layout without re-exchanging it, and the verts left
    // join aligns with the contribution agg's hash(title): the loop
    // pays the contribution shuffle, not a re-shuffle of the static
    // sides — at 100 TB the edge relation is the heavy side, so this
    // is the scale shape; the explicit partition count keeps AQE from
    // re-coalescing the layout mid-loop.
    val nShuffle = edges.sparkSession.sessionState.conf.numShufflePartitions
    val e = agg
      .repartition(nShuffle, col("src"))
      .withColumn("wsum", sum(col("w"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wsum").cast("double")).as("frac"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = edges.select(col("src").as("title"))
      .union(edges.select(col("dst"))).distinct()
      .repartition(nShuffle, col("title"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = verts.count()
    var ranks = verts.select(col("title"),
      round(lit(1.0 / n), roundTo).as("rank"))
    for (i <- 1 to iters) {
      val contribs = e.join(ranks, e("src") === ranks("title"))
        .select(col("dst").as("title"), (col("frac") * col("rank")).as("c"))
        .groupBy("title").agg(sum(col("c")).as("s"))
      val next = verts
        .join(contribs, Seq("title"), "left")
        .select(col("title"),
          round(lit(d) * coalesce(col("s"), lit(0.0)) + lit(1.0 - d), roundTo)
            .as("rank"))
      // Checkpoint cadence knob: measured
      // NEUTRAL at 5 iterations (~5.3 s at sf0.1 whether every 1st or
      // 2nd) — the fixed cost is Catalyst planning + JIT of each
      // iteration's fresh codegen, which a cadence change cannot
      // remove; kept because higher iteration counts do hit
      // a superlinear plan-analysis regime without it.
      ranks = if (i % checkpointEvery == 0 && i < iters) next.localCheckpoint()
        else next
    }
    // r17 (VERDICT r16 item 4): materialize the final ranks, then release
    // the static caches — without this, repeated invocations in a
    // long-lived session accumulate MEMORY_AND_DISK blocks (the final
    // iteration's plan still references them, so the checkpoint must be
    // EAGER before the unpersist).
    val out = ranks.localCheckpoint()
    e.unpersist(false)
    verts.unpersist(false)
    out
  }
}
