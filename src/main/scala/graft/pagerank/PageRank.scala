package graft.pagerank

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.GraphTier

/** Iterative PageRank with the REFERENCE's exact semantics
  * (ref: PageRankAlgorithm.java:97-114, :323-399; SURVEY.md §2.10):
  *
  *  - `rank₀ = 1/N` (ref: :302);
  *  - fixed iteration count, default 10 (ref: :98, README.md:70);
  *  - `rankᵢ₊₁(p) = d · Σ_{q→p} rankᵢ(q)/outDeg(q) + (1−d)` with d = 0.85
  *    (ref: :395) — the UNNORMALIZED variant: no (1−d)/N, so total mass
  *    is not conserved;
  *  - contributions to red links (targets that are not pages) are DROPPED
  *    — the reference's marker-join `return` (ref: :392-394) is our
  *    left-join from the vertex set;
  *  - a page with no inbound contributions survives with rank = 1−d
  *    (accumulator init, ref: :369);
  *  - dangling pages (no outlinks) contribute nothing — their mass
  *    evaporates (explode of an empty array emits no rows);
  *  - self-loops and duplicate links kept: out-degree counts occurrences
  *    (ref: :339 `links.length`; README.md:62).
  *
  * Spark-first mechanics replacing the reference's 10 HDFS-materialized
  * MR jobs (SURVEY.md §4.3): one driver loop over immutable DataFrames;
  * the static vertex relation is persisted once and reused every
  * iteration (the reference re-reads + re-parses it from disk each job);
  * `localCheckpoint` every `checkpointEvery` iterations truncates the
  * logical plan (otherwise analysis time doubles per iteration); the
  * previous iteration unpersists eagerly — the in-memory analog of the
  * reference's delete-behind (ref: :112-113).
  *
  * At cluster scale the join and groupBy both shuffle on `title`;
  * hash-partitioning is stable across iterations so AQE reuses the
  * exchange layout, and the vertex side stays cached in executor memory.
  * Each entry point runs a small graph inside one task instead — the
  * tier is [[GraphTier.pageRankSingleTask]]'s decision.
  */
object PageRank {

  /** Maps key p (a partition index) to partition p — the carrier for
    * partition-encoded vertex ids ((p&lt;&lt;32)|local). */
  private final case class IndexPartitioner(numPartitions: Int)
      extends org.apache.spark.Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** One loop partition of [[run]]'s distributed tier, all primitive
    * arrays: the out-degree of each local vertex (red links counted), a
    * CSR whose row v — edges off(v) until off(v + 1) — holds each edge's
    * message slot, the slots of destination partition q at slotOff(q)
    * until slotOff(q + 1), each slot's destination-local index in outIdx,
    * and the teleport weights (null: the uniform reference formula). */
  private final case class LoopGraph(deg: Array[Int], off: Array[Int], slot: Array[Int],
      slotOff: Array[Int], outIdx: Array[Int], tele: Array[Double])

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

  /** The non-empty buckets of two bucket-sorted arrays as chunk records
    * (bucket, (a's slice, b's slice)). */
  private def chunks[A, B](off: Array[Int], a: Array[A],
      b: Array[B]): Iterator[(Int, (Array[A], Array[B]))] =
    (0 until off.length - 1).iterator.filter(q => off(q + 1) > off(q))
      .map(q => (q, (a.slice(off(q), off(q + 1)), b.slice(off(q), off(q + 1)))))

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
  private def sizeCounts(
      raw: org.apache.spark.rdd.RDD[(String, Seq[String])]): (Long, Long) =
    raw.mapPartitions { it =>
      var n = 0L; var e = 0L
      while (it.hasNext) { n += 1L; e += it.next()._2.size }
      Iterator.single((n, e))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))

  /** @param vertices (title: String, outlinks: Array[String]) — one row
    *                 per page; outlinks may repeat and may self-reference.
    * @return (title, rank), one row per page.
    *
    * Pregel-style RDD inner loop (the GraphX approach, and the one place
    * this engine drops below the DataFrame API): the iteration body is a
    * FIXED shape, so Catalyst re-planning + whole-stage codegen per
    * iteration buys nothing and costs a lot — measured ~10 s/iteration of
    * planning + JIT-compilation overhead at 165k vertices vs ~0.5 s of
    * actual work.
    *
    * The distributed tier works on primitive arrays after the row cache:
    * titles resolve to ids (p&lt;&lt;32)|local in one chunked hash-bucket
    * pass, each loop partition keeps a counting-sort CSR whose edges point
    * at slots of one outgoing `Array[Double]` (a slot per distinct
    * destination, grouped by destination partition — GraphX's routing
    * table), and each iteration is one narrow sender pass, one shuffle of
    * at most P² chunk records `(q, (destination indices, slot sums))` and
    * one narrow receiver pass. See `runDataFrame` for the Catalyst
    * formulation (kept for cross-checking; same semantics). */
  def run(vertices: DataFrame, iters: Int = 10, d: Double = 0.85,
          checkpointEvery: Int = 3, roundTo: Int = -1,
          seeds: Option[Set[String]] = None): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    // PERSONALIZED variant (seeds = Some(S)): teleport mass goes to the
    // seed set instead of uniformly — init r₀ = 1[v∈S]/|S|, recurrence
    // r' = d·Σ contributions + (1−d)·1[v∈S]/|S|. Same unnormalized
    // red-link semantics as the reference recurrence; `None` keeps the
    // reference formula (init 1/n, constant 1−d base) bit for bit.
    // Seeds are broadcast-size by definition (a query's seed set).
    val seedBc = seeds.map(s => (spark.sparkContext.broadcast(s), 1.0 / s.size))
    // The raw RDD is persisted before the sizing count so an expensive
    // upstream plan (e.g. wiki parse) is evaluated once, not twice.
    val raw = vertices.select("title", "outlinks").as[(String, Seq[String])]
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val (n, nEdges) = sizeCounts(raw)
    val confParts = spark.sessionState.conf.numShufflePartitions
    val singleTask = GraphTier.pageRankSingleTask("PageRank.run", n, nEdges, confParts)
    val numParts = if (singleTask) 1 else sizeParts(n, nEdges, confParts)
    val part = new org.apache.spark.HashPartitioner(numParts)

    // Optional per-iteration decimal rounding: pins every iteration's
    // state to the 10^-roundTo grid so an independent engine running the
    // same rounded recurrence (the DuckDB recursive-CTE oracle) carries
    // IDENTICAL values — cross-engine float drift cannot accumulate.
    // shared valueOf-semantics grid rounding (GridRound scaladoc)
    val rnd: Double => Double = graft.functions.GridRound.fn(roundTo)

    // `release` frees the tier's loop state once the shared tail has
    // materialized the ranks
    val (ranks, release) =
      if (singleTask) {
        // r17 (guide §2.4): coalesce(1) instead of partitionBy(1) — the
        // single task needs ONE partition, not a hash layout, and the
        // narrow coalesce reads raw's cache directly (measured 0.24 s vs
        // 0.9 s for the single-partition shuffle at sf0.1/32c, and one
        // materialization job fewer since nothing needs a second cache).
        // Row order changes once (parent-partition concatenation order —
        // deterministic), absorbed exactly like any other layout change
        // by the per-iteration rounding contract; all pagerank oracles
        // re-certified at sf0.001/0.01/0.1.
        val links = raw.coalesce(1)
        // SINGLE-TASK TIER: the whole vertex set fits one partition, so
        // per-iteration job scheduling (2 stages × iters roundtrips to
        // the scheduler for milliseconds of arithmetic) would dominate
        // the distributed loop. Run every iteration inside ONE task over
        // the single partition instead — identical semantics (red links
        // dropped via the index lookup, dangling contribute nothing,
        // contribution-less pages rest at 1−d, duplicates/self-loops
        // kept, same rnd pinning), ~20× less wall-clock at 16.5k
        // vertices. Summation order differs from the distributed loop
        // only within the float tolerance every consumer already absorbs
        // (specs compare at 1e-9; the oracle pins each iteration to the
        // 1e-9 grid).
        links.mapPartitions({ it =>
          val vertices = it.toArray
          val idx = new java.util.HashMap[String, Integer](vertices.length * 2)
          vertices.iterator.zipWithIndex.foreach { case ((t, _), i) =>
            idx.put(t, i)
          }
          val targets: Array[Array[Int]] = vertices.map(_._2.iterator.map { l =>
            val j = idx.get(l); if (j == null) -1 else j.intValue()
          }.toArray)
          val m = vertices.length
          // teleport weight per vertex: 1 for every vertex in the
          // reference formula, 1[v∈S]/|S| for the personalized variant
          val tele: Array[Double] = seedBc match {
            case Some((bc, invS)) =>
              vertices.map { case (t, _) => if (bc.value(t)) invS else 0.0 }
            case None => null
          }
          val rank =
            if (tele == null) Array.fill(m)(rnd(1.0 / n))
            else tele.map(rnd)
          val sums = new Array[Double](m)
          var it2 = 0
          while (it2 < iters) {
            java.util.Arrays.fill(sums, 0.0)
            var i = 0
            while (i < m) {
              val ts = targets(i)
              if (ts.length > 0) {
                val c = rank(i) / ts.length
                var k = 0
                while (k < ts.length) { if (ts(k) >= 0) sums(ts(k)) += c; k += 1 }
              }
              i += 1
            }
            i = 0
            while (i < m) {
              val base = if (tele == null) 1.0 - d else (1.0 - d) * tele(i)
              rank(i) = rnd(d * sums(i) + base); i += 1
            }
            it2 += 1
          }
          vertices.iterator.zipWithIndex.map { case ((t, _), i) => (t, rank(i)) }
        }, preservesPartitioning = true) -> (() => ())
      } else {
        // ROUTING-TABLE loop (GraphX's aggregateMessages shape, on
        // primitive arrays): vertices get ids (p<<32)|localIndex on the
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
        val pPart = IndexPartitioner(loopParts)

        // 1. Title resolution: each loop partition sends its titles (with
        // their ids) and its link occurrences (with the source id) to
        // bucket hash(title) mod numParts, one chunk record per bucket;
        // each bucket builds one title → id table and streams the
        // occurrence chunks through it — red links drop here, a
        // duplicated title resolves to every page carrying it — and sends
        // the resolved (src, dst) ids back to the source partition,
        // chunked. Only one occurrence chunk's strings are live at a time.
        val hPart = IndexPartitioner(numParts)
        val titleChunks = links.mapPartitionsWithIndex { (p, it) =>
          val ts = it.map(_._1).toArray
          val key = new Array[Int](ts.length)
          for (i <- ts.indices) key(i) = part.getPartition(ts(i))
          val (off, pos) = bucketSort(numParts, key)
          val titles = new Array[String](ts.length)
          val ids = new Array[Long](ts.length)
          for (i <- ts.indices) { titles(pos(i)) = ts(i); ids(pos(i)) = (p.toLong << 32) | i }
          chunks(off, titles, ids)
        }.partitionBy(hPart)
        val linkChunks = links.mapPartitionsWithIndex { (p, it) =>
          val vs = it.toArray
          val key = new Array[Int](vs.iterator.map(_._2.size).sum)
          var k = 0
          for (v <- vs; l <- v._2) { key(k) = part.getPartition(l); k += 1 }
          val (off, pos) = bucketSort(numParts, key)
          val dsts = new Array[String](key.length)
          val srcs = new Array[Long](key.length)
          k = 0
          for (i <- vs.indices; l <- vs(i)._2) {
            dsts(pos(k)) = l; srcs(pos(k)) = (p.toLong << 32) | i; k += 1
          }
          chunks(off, dsts, srcs)
        }.partitionBy(hPart)
        val resolved = titleChunks.zipPartitions(linkChunks) { (tit, lit) =>
          val tcs = tit.map(_._2).toArray
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
          for ((_, (ds, ss)) <- lit; j <- ds.indices) {
            var h = home(ds(j))
            while (tabId(h) >= 0) {
              if (tabTitle(h) == ds(j)) { src += ss(j); dst += tabId(h) }
              h = (h + 1) & (cap - 1)
            }
          }
          val (srcA, dstA) = (src.result(), dst.result())
          val (off, pos) = bucketSort(loopParts, partOf(srcA))
          val local = new Array[Int](srcA.length)
          val dstS = new Array[Long](srcA.length)
          for (j <- srcA.indices) { local(pos(j)) = srcA(j).toInt; dstS(pos(j)) = dstA(j) }
          chunks(off, local, dstS)
        }.partitionBy(pPart)

        // 2. Static graph: a counting-sort CSR over the local vertices,
        // and one message slot per distinct destination — the sorted
        // distinct destination ids, so slots group by destination
        // partition and ascend in destination-local index.
        val graph = links.zipPartitions(resolved, preservesPartitioning = true) { (lit, rit) =>
          val vs = lit.toArray
          val rcs = rit.map(_._2).toArray
          val (off, pos) = bucketSort(vs.length, Array.concat(rcs.map(_._1).toSeq: _*))
          val dst = Array.concat(rcs.map(_._2).toSeq: _*)
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
          var v = 0
          while (v < vs.length) { deg(v) = vs(v)._2.size; v += 1 }
          val tele = seedBc.map { case (bc, invS) =>
            vs.map(v => if (bc.value(v._1)) invS else 0.0) }.orNull
          Iterator.single(LoopGraph(deg, off, slot, slotOff, outIdx, tele))
        }.persist(StorageLevel.MEMORY_AND_DISK)
        graph.count()

        // 3. Iterations: the sender sums each edge's contribution into
        // its slot — per slot in vertex-then-edge order — and ships the
        // slots of destination partition q as (q, (their outIdx, their sums)).
        // The divisor is the full out-degree, so red-link shares vanish
        // as the reference drops them (ref :369, :392-394); dangling
        // pages send nothing and pages no link reaches rest at 1−d.
        var r = graph.mapPartitions(_.map { g =>
          if (g.tele != null) g.tele.map(rnd)
          else { val a = new Array[Double](g.deg.length); java.util.Arrays.fill(a, rnd(1.0 / n)); a }
        })
        var lastCkpt: Option[org.apache.spark.rdd.RDD[Array[Double]]] = None
        for (i <- 1 to iters) {
          val msgs = graph.zipPartitions(r) { (git, rit) =>
            val LoopGraph(deg, off, slot, slotOff, outIdx, _) = git.next()
            val rank = rit.next()
            val out = new Array[Double](slotOff(loopParts))
            var v = 0
            while (v < deg.length) {
              var k = off(v)
              if (k < off(v + 1)) {
                val c = rank(v) / deg(v)
                while (k < off(v + 1)) { out(slot(k)) += c; k += 1 }
              }
              v += 1
            }
            chunks(slotOff, outIdx, out)
          }.partitionBy(pPart)
          r = graph.zipPartitions(msgs) { (git, mit) =>
            val g = git.next()
            val sums = new Array[Double](g.deg.length)
            mit.foreach { case (_, (idx, s2)) =>
              var j = 0
              while (j < idx.length) { sums(idx(j)) += s2(j); j += 1 }
            }
            var v = 0
            while (v < sums.length) {
              sums(v) =
                if (g.tele == null) rnd(d * sums(v) + (1.0 - d))
                else rnd(d * sums(v) + (1.0 - d) * g.tele(v))
              v += 1
            }
            Iterator.single(sums)
          }
          // the last iteration needs no checkpoint of its own: the shared
          // tail's one job computes it and materializes the named ranks
          if (i % checkpointEvery == 0 && i < iters) {
            r.localCheckpoint()
            r.count() // materialize NOW — truncation is real, not deferred
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

  /** NORMALIZED PageRank — the textbook mass-conserving variant, built as
    * an extension beyond reference parity (SURVEY §7.6):
    *
    *   rᵢ₊₁(p) = (1−d)/N + d·(Σ_{q→p} rᵢ(q)/deg(q) + Dᵢ/N)
    *
    * with deg counting only RESOLVED links (red links pruned up front, so
    * no mass leaks to non-vertices) and Dᵢ the total rank of dangling
    * pages, redistributed uniformly. Total mass is EXACTLY 1 after every
    * iteration (Σr' = (1−d) + d·(Σ_{linked} r + D) = 1) — the invariant
    * the spec asserts — unlike the reference recurrence where red-link
    * and dangling mass evaporates.
    *
    * Same two execution tiers as [[run]]: single-task loop for small
    * graphs; for large ones the per-iteration dangling sum is one scalar
    * action over the co-partitioned join (the price of normalization). */
  def runNormalized(vertices: DataFrame, iters: Int = 10, d: Double = 0.85,
                    roundTo: Int = -1): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val raw0 = vertices.select("title", "outlinks").as[(String, Seq[String])]
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val (n, nEdges) = sizeCounts(raw0)
    if (n == 0) {
      raw0.unpersist(false)
      return Seq.empty[(String, Double)].toDF("title", "rank")
    }
    val confParts = spark.sessionState.conf.numShufflePartitions
    val singleTask =
      GraphTier.pageRankSingleTask("PageRank.runNormalized", n, nEdges, confParts)
    val numParts = if (singleTask) 1 else sizeParts(n, nEdges, confParts)
    // Only the DISTRIBUTED tier closes the graph relationally (explode +
    // vertex semi-join + regroup): the single task prunes red links for
    // free while building its target-index arrays, so the extra pass
    // would be pure overhead exactly where the graph is smallest.
    val raw =
      if (singleTask) raw0
      else {
        val v = vertices.select("title", "outlinks")
        val titles = v.select(col("title"))
        val resolved = v.select(col("title"), explode(col("outlinks")).as("link"))
          .join(titles.select(col("title").as("link")).distinct(), Seq("link"), "left_semi")
          .groupBy("title").agg(collect_list("link").as("outlinks"))
        val closed = titles.join(resolved, Seq("title"), "left")
          .select(col("title"),
            coalesce(col("outlinks"), array().cast("array<string>")).as("outlinks"))
        val r = closed.as[(String, Seq[String])]
          .rdd.persist(StorageLevel.MEMORY_AND_DISK)
        r.count()
        raw0.unpersist(false)
        r
      }
    val part = new org.apache.spark.HashPartitioner(numParts)
    // single task: a narrow single-partition view of raw's cache (r17 —
    // see run()); distributed tier keeps the hash layout its ids/join
    // machinery reuses, with raw released once links materializes
    val links =
      if (singleTask) raw.coalesce(1)
      else {
        val l = raw.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
        l.count()
        raw.unpersist(false)
        l
      }

    // shared valueOf-semantics grid rounding (GridRound scaladoc)
    val rnd: Double => Double = graft.functions.GridRound.fn(roundTo)
    val base = (1.0 - d) / n

    var ranks =
      if (singleTask) {
        links.mapPartitions({ it =>
          val vertices = it.toArray
          val m = vertices.length
          val idx = new java.util.HashMap[String, Integer](m * 2)
          vertices.iterator.zipWithIndex.foreach { case ((t, _), i) => idx.put(t, i) }
          // red links pruned HERE: unresolved targets simply don't make
          // it into the index arrays, and deg is the resolved count
          val targets: Array[Array[Int]] =
            vertices.map(_._2.iterator.flatMap { l =>
              val j = idx.get(l)
              if (j == null) Iterator.empty else Iterator.single(j.intValue())
            }.toArray)
          val rank = Array.fill(m)(rnd(1.0 / n))
          val sums = new Array[Double](m)
          var it2 = 0
          while (it2 < iters) {
            java.util.Arrays.fill(sums, 0.0)
            var dMass = 0.0
            var i = 0
            while (i < m) {
              val ts = targets(i)
              if (ts.length > 0) {
                val c = rank(i) / ts.length
                var k = 0
                while (k < ts.length) { sums(ts(k)) += c; k += 1 }
              } else dMass += rank(i)
              i += 1
            }
            i = 0
            while (i < m) {
              rank(i) = rnd(base + d * (sums(i) + dMass / n)); i += 1
            }
            it2 += 1
          }
          vertices.iterator.zipWithIndex.map { case ((t, _), i) => (t, rank(i)) }
        }, preservesPartitioning = true)
      } else {
        // Numeric-id loop, as in [[run]] (same measured ~1.6× shuffle
        // win). Red links are already pruned from `raw` on this path, so
        // every target resolves and deg == targets.length; dangling
        // detection stays deg == 0.
        val ids = links.keys.zipWithIndex()
          .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
        val resolvedTargets = links
          .flatMap { case (src, ls) => ls.iterator.map(dst => (dst, src)) }
          .join(ids, part)
          .map { case (_, (src, dstId)) => (src, dstId) }
          .groupByKey(part)
        val intLinks = ids.join(links.mapValues(_.size), part)
          .leftOuterJoin(resolvedTargets, part)
          .map { case (_, ((id, deg), ts)) =>
            (id, (deg, ts.fold(Array.empty[Long])(_.toArray))) }
          .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
        intLinks.count()

        var r = intLinks.mapValues(_ => rnd(1.0 / n))
        var lastCkpt: Option[org.apache.spark.rdd.RDD[(Long, Double)]] = None
        for (i <- 1 to iters) {
          val joined = intLinks.join(r, part) // narrow: co-partitioned
          val dMass = joined.values
            .map { case ((deg, _), rk) => if (deg == 0) rk else 0.0 }.sum()
          val contribs = joined.flatMap { case (_, ((deg, ts), rk)) =>
            if (deg == 0) Iterator.empty
            else { val c = rk / deg; ts.iterator.map(tg => (tg, c)) }
          }
          val sums = contribs.reduceByKey(part, _ + _)
          r = intLinks.leftOuterJoin(sums, part)
            .mapValues { case (_, s) =>
              rnd(base + d * (s.getOrElse(0.0) + dMass / n))
            }
          if (i % checkpointCadence == 0 || i == iters) {
            r.localCheckpoint()
            r.count()
            lastCkpt.foreach(_.unpersist(false))
            lastCkpt = Some(r)
          }
        }
        val named = r
          .join(ids.map(_.swap).partitionBy(part), part)
          .map { case (_, (rk, t)) => (t, rk) }
        named.localCheckpoint()
        named.count()
        ids.unpersist(false)
        intLinks.unpersist(false)
        lastCkpt.foreach(_.unpersist(false))
        named
      }
    ranks.localCheckpoint()
    ranks.count()
    links.unpersist(false) // no-op on the single task's unpersisted coalesce
    raw.unpersist(false)
    ranks.toDF("title", "rank")
  }

  private val checkpointCadence = 3

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
    * Stops when the max per-vertex delta < `eps` (checked every
    * iteration: the check is a narrow join — both sides share the
    * partitioner — feeding a max; one extra job per iteration, which is
    * the honest price of a convergence gate) or at `maxIters`.
    *
    * @param init previous (title, rank) relation; vertices absent from it
    *             start at 1/N, vertices absent from the graph are dropped. */
  def runConverged(vertices: DataFrame, d: Double = 0.85, eps: Double = 1e-9,
                   maxIters: Int = 200, init: Option[DataFrame] = None): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val raw = vertices.select("title", "outlinks").as[(String, Seq[String])]
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val (n, nEdges) = sizeCounts(raw)
    if (n == 0) {
      raw.unpersist(false)
      return Seq.empty[(String, Double)].toDF("title", "rank")
    }
    val confParts = spark.sessionState.conf.numShufflePartitions
    val singleTask =
      GraphTier.pageRankSingleTask("PageRank.runConverged", n, nEdges, confParts)
    val numParts = if (singleTask) 1 else sizeParts(n, nEdges, confParts)
    val part = new org.apache.spark.HashPartitioner(numParts)
    val links = raw.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    links.count()
    raw.unpersist(false)

    if (singleTask) {
      // Single-task tier (see `run`): sweep-to-convergence inside one
      // task, with the delta check a free local comparison instead of a
      // per-iteration distributed join — the difference between ~130
      // scheduler roundtrips and one job for a cold convergence, which is
      // what keeps streaming micro-batch latency flat.
      val prev = init match {
        case Some(df) => df.select("title", "rank").as[(String, Double)]
          .rdd.partitionBy(part)
        case None => spark.sparkContext.emptyRDD[(String, Double)].partitionBy(part)
      }
      val joined = links.leftOuterJoin(prev, part)
      val res = joined.mapPartitions({ it =>
        val vertices = it.toArray // (title, (links, Option[prevRank]))
        val m = vertices.length
        val idx = new java.util.HashMap[String, Integer](m * 2)
        vertices.iterator.zipWithIndex.foreach { case ((t, _), i) => idx.put(t, i) }
        val targets: Array[Array[Int]] = vertices.map(_._2._1.iterator.map { l =>
          val j = idx.get(l); if (j == null) -1 else j.intValue()
        }.toArray)
        val rank = vertices.map(_._2._2.getOrElse(1.0 / n))
        val sums = new Array[Double](m)
        var iter = 0
        var delta = Double.MaxValue
        while (iter < maxIters && delta >= eps) {
          java.util.Arrays.fill(sums, 0.0)
          var i = 0
          while (i < m) {
            val ts = targets(i)
            if (ts.length > 0) {
              val c = rank(i) / ts.length
              var k = 0
              while (k < ts.length) { if (ts(k) >= 0) sums(ts(k)) += c; k += 1 }
            }
            i += 1
          }
          delta = 0.0
          i = 0
          while (i < m) {
            val next = d * sums(i) + (1.0 - d)
            val dd = math.abs(next - rank(i))
            if (dd > delta) delta = dd
            rank(i) = next
            i += 1
          }
          iter += 1
        }
        vertices.iterator.zipWithIndex.map { case ((t, _), i) => (t, rank(i)) }
      }, preservesPartitioning = true)
      res.localCheckpoint()
      res.count()
      links.unpersist(false)
      return res.toDF("title", "rank")
    }

    // Numeric-id loop (see [[run]]). The warm-start init is (title, rank)
    // by nature — ids are NOT stable across graph deltas — so it joins
    // through the fresh title→id relation; absent vertices start at 1/N,
    // departed vertices drop out in the same join.
    val ids = links.keys.zipWithIndex()
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    val resolvedTargets = links
      .flatMap { case (src, ls) => ls.iterator.map(dst => (dst, src)) }
      .join(ids, part)
      .map { case (_, (src, dstId)) => (src, dstId) }
      .groupByKey(part)
    val intLinks = ids.join(links.mapValues(_.size), part)
      .leftOuterJoin(resolvedTargets, part)
      .map { case (_, ((id, deg), ts)) =>
        (id, (deg, ts.fold(Array.empty[Long])(_.toArray))) }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    intLinks.count()

    var ranks = init match {
      case Some(df) =>
        val prev = df.select("title", "rank").as[(String, Double)]
          .rdd.partitionBy(part)
        ids.leftOuterJoin(prev, part)
          .map { case (_, (id, r)) => (id, r.getOrElse(1.0 / n)) }
          .partitionBy(part)
      case None => intLinks.mapValues(_ => 1.0 / n)
    }
    ranks.localCheckpoint()
    ranks.count()
    var prevCkpt = ranks
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIters && delta >= eps) {
      val contribs = intLinks.join(ranks, part).flatMap { case (_, ((deg, ts), r)) =>
        if (deg == 0 || ts.isEmpty) Iterator.empty
        else { val c = r / deg; ts.iterator.map(tg => (tg, c)) }
      }
      val sums = contribs.reduceByKey(part, _ + _)
      val next = intLinks.leftOuterJoin(sums, part)
        .mapValues { case (_, s) => d * s.getOrElse(0.0) + (1.0 - d) }
      next.localCheckpoint()
      // the delta action materializes next's checkpoint in the same job
      delta = ranks.join(next, part)
        .map { case (_, (a, b)) => math.abs(a - b) }.max()
      prevCkpt.unpersist(false)
      prevCkpt = next
      ranks = next
      iter += 1
    }
    val named = ranks
      .join(ids.map(_.swap).partitionBy(part), part)
      .map { case (_, (rk, t)) => (t, rk) }
    named.localCheckpoint()
    named.count()
    ids.unpersist(false)
    intLinks.unpersist(false)
    prevCkpt.unpersist(false)
    links.unpersist(false)
    named.toDF("title", "rank")
  }

  /** The declarative Catalyst formulation of the same semantics — used by
    * tests to cross-check `run`; prefer `run` for iteration counts > 2. */
  def runDataFrame(vertices: DataFrame, iters: Int = 10, d: Double = 0.85,
                   checkpointEvery: Int = 1): DataFrame = {
    // Pre-partition the static vertex relation by the join key and cache
    // the PARTITIONED form: InMemoryRelation preserves outputPartitioning,
    // so none of the 10 iterations re-shuffles the vertex side — the
    // exchange happens exactly once (the reference instead re-read and
    // re-parsed the graph from HDFS in every one of its 10 jobs).
    val verts = vertices.select(col("title"), col("outlinks"))
      .repartition(col("title"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = verts.count() // also materializes the cache (ref job 1's counter)

    var ranks = verts.select(col("title"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iters) {
      val contribs = ranks.join(verts, "title")
        .filter(size(col("outlinks")) > 0)
        .select(explode(col("outlinks")).as("title"),
          (col("rank") / size(col("outlinks"))).as("c"))
      val summed = contribs.groupBy("title").agg(sum("c").as("s"))
      // left join FROM the vertex set: keeps contribution-less pages at
      // rank 1-d AND drops red-link targets in one step (ref :369,:392-394)
      val next = verts.select("title")
        .join(summed, Seq("title"), "left")
        .select(col("title"),
          (lit(d) * coalesce(col("s"), lit(0.0)) + lit(1.0 - d)).as("rank"))
      // Truncate lineage EVERY `checkpointEvery` iterations (default 1):
      // persist alone keeps the full logical plan, and Catalyst's
      // analysis + cache-substitution cost grows superlinearly with plan
      // depth (measured: ~5 s/iteration by depth 5 at sf0.1, vs ~1 s
      // flat with truncation). localCheckpoint rewrites the plan to a
      // materialized LogicalRDD — the in-memory analog of the
      // reference's per-job HDFS round-trip, minus the disk.
      ranks =
        if (i % checkpointEvery == 0 && i < iters) next.localCheckpoint()
        else next
    }
    ranks
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
    // and PERSISTED — runDataFrame's discipline: InMemoryRelation
    // preserves outputPartitioning (localCheckpoint under AQE reports
    // UnknownPartitioning and loses it — measured in the tail plan),
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
      // Checkpoint cadence knob (runDataFrame's contract): measured
      // NEUTRAL at 5 iterations (~5.3 s at sf0.1 whether every 1st or
      // 2nd) — the fixed cost is Catalyst planning + JIT of each
      // iteration's fresh codegen, which a cadence change cannot
      // remove; kept because higher iteration counts do hit
      // runDataFrame's superlinear-analysis regime without it.
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
