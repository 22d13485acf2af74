package graft

import org.apache.spark.sql.SparkSession

/** Benchmark surface (driver contract): one JSON line with the total
  * seconds over all passing query keys plus per-key detail.
  *
  * Robustness rules (VERDICT round 1, tasks 2–3):
  *  - A failing query NEVER contributes a sentinel to the total: it is
  *    reported under `"errors"` and excluded from `"queries"`/`"value"`.
  *  - The JSON line goes to stdout AND to a file
  *    (`$SPARK_GRAFT_BENCH_OUT`, default `/root/repo/BENCH_LAST.json`),
  *    because sbt's `[info]` stdout decoration made round 1's line
  *    unparseable for the driver (`"parsed": null`).
  *  - Best-of-3 per key, with per-key `[min, median, max]` under
  *    `"spread"` so a reader can tell host noise (wide spread) from a
  *    real regression (tight spread at a worse level).
  */
object Bench {

  /** Deterministic `</page>`-delimited dump, generated once and cached
    * (marker file records the page count; regeneration only on mismatch).
    * ~4.7 KB/page → 300k pages ≈ 1.4 GB. Content shape matches
    * what the pipelines stress: [[Pn]] links with ~9% red links (targets
    * beyond the page range, whose mass the recurrence drops), and a 50k-
    * word vocabulary so inverted-index posting lists stay thousands of
    * entries, not one degenerate multi-million-id list per stopword.
    *
    * Written as TWO files (`path` + `path.part2`, returned as the path
    * list) so the dump legs drive [[graft.sources.TextKV.readPages]]
    * through its comma-joined multi-path form — the reference's
    * `addInputPaths` behavior (ref: PageRankAlgorithm.java:66) exercised
    * at GB scale, not just in the unit spec. */
  private def ensureDump(path: String, pages: Int): Seq[String] = {
    import java.nio.file.{Files, Paths}
    val paths = Seq(path, path + ".part2")
    val marker = Paths.get(path + ".meta")
    // marker carries a layout tag so pre-two-file caches regenerate
    val want = s"$pages:2files"
    if (paths.forall(f => Files.exists(Paths.get(f))) && Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8") == want) return paths
    // Vocabulary words must be ALPHA-ONLY: the index pipeline keeps the
    // reference's lowercase-alpha-run tokenizer, so digits scrub to
    // separators — a digit-bearing vocabulary would collapse to a couple
    // of 10⁸-occurrence stopwords whose posting lists each sort+join in
    // ONE task (measured: 8 minutes of exactly that). Base-26 ids keep
    // the 50k words distinct through the scrub. The [[Pn]] link markup
    // still scrubs to a single hot "p" word — kept deliberately as the
    // documented stop-word-skew case at a realistic magnitude.
    def alpha(v0: Long): String = {
      var x = v0; val sb = new java.lang.StringBuilder(8)
      do { sb.append(('a' + (x % 26)).toChar); x /= 26 } while (x > 0)
      sb.toString
    }
    def writeRange(file: String, from: Int, until: Int): Unit = {
      val w = Files.newBufferedWriter(Paths.get(file),
        java.nio.charset.StandardCharsets.UTF_8)
      try {
        var i = from
        while (i < until) {
          w.write("<page><title>P"); w.write(i.toString)
          w.write("</title><id>"); w.write(i.toString)
          w.write("</id><text xml:space=\"preserve\">")
          var l = 0
          while (l < 12) {
            val t = (i * 31L + l * 9973L) % (pages + pages / 10)
            w.write("[[P"); w.write(t.toString); w.write("]] ")
            // 25 fat tokens per link block: index cost scales with TOKEN
            // COUNT (measured ~2 µs/occurrence through explode + shuffle +
            // posting build), scan cost with BYTES — long tokens buy scan
            // scale without blowing up the posting-list stage
            var k = 0
            while (k < 25) {
              w.write("w"); w.write(alpha((i + l * 7L + k * 13L) % 50000L))
              w.write("paddingpadding ")
              k += 1
            }
            l += 1
          }
          w.write("</text></page>\n")
          i += 1
        }
      } finally w.close()
    }
    writeRange(paths(0), 0, pages / 2)
    writeRange(paths(1), pages / 2, pages)
    Files.write(marker, want.getBytes("UTF-8"))
    paths
  }

  /** FIXED-WORK single-thread CPU calibration probe (round-12 VERDICT
    * item 4): 4×10⁸ xorshift64 steps — pure register work, zero
    * allocation, the same instruction count every run — so its wall
    * time measures the HOST's effective single-core speed at that
    * moment. The box's documented drift state degrades iterative keys
    * 1.3–2× at ZERO load with nothing visible in load_avg; recording
    * this probe at bench start AND end makes artifacts from different
    * windows NORMALIZABLE (divide key seconds by calib ratio) instead
    * of arguable. A short untimed burst first absorbs JIT compilation.
    * The clean-host reference value is recorded in BENCH_NOTES the
    * first time a verified-quiet window is captured with it. */
  private[graft] def calibProbe(): Double = {
    def burn(n: Long): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    val warm = burn(40000000L) // JIT warmup, untimed
    val t0 = System.nanoTime
    val r = burn(400000000L)
    val sec = (System.nanoTime - t0) / 1e9
    if (warm == 42 && r == 42) print("") // defeat dead-code elimination
    sec
  }

  /** Cumulative STEAL CPU-seconds from /proc/stat (field 8 of the
    * aggregate `cpu` line, USER_HZ ticks): time this guest's vCPUs
    * were runnable but the HYPERVISOR ran something else. The box is a
    * microVM, and the round-13 early capture showed the documented
    * "drift" is burst CPU-steal — min-of-3 walls 17× on trivial keys
    * while task_sec held, with load_avg clean — so artifacts now
    * record the steal DELTA across the run: ~0 ⇒ the window was truly
    * quiet; large ⇒ per-key walls are hypervisor noise, not code.
    * -1 when /proc/stat is unreadable (non-Linux). */
  private def stealCpuSec(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cols = src.getLines().next().trim.split("\\s+")
        if (cols.length > 8) cols(8).toDouble / 100.0 else -1.0
      } finally src.close()
    } catch { case _: Exception => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH_LAST.json")
    val calibStart = calibProbe()
    val stealStart = stealCpuSec()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the library's session integration (SQL functions + the txlog
      // DML rule) — table_log_sql_dml needs the DML rule registered
      .withExtensions(new GraftExtensions())
      // the session-catalog half of the deployment (SQL time travel +
      // CALL procedures on txlog tables), exactly Delta's two-conf shape
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.txlog.GraftCatalog")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Tungsten handles DataFrame exchanges; this is for the RDD loop
      // shuffles (PageRank, CC), where Java serialization of small tuples
      // is measurable overhead
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Self-describing environment (round-6 VERDICT item 8): cpus,
    // host processor count, and the 1-min load average at start AND end
    // so a "quiet window" claim is auditable from the artifact alone.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val hostProcs = Runtime.getRuntime.availableProcessors
    val loadStart = osBean.getSystemLoadAverage
    // JIT/codegen warmup: whichever query runs first otherwise absorbs
    // ~5s of one-off compilation that isn't its cost.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }

    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Truncate the RAW message first, then escape: truncating after
    // escaping could cut between `\` and `"` and emit invalid JSON
    // (exactly what made round 4's BENCH_LAST.json unparseable). All
    // control chars are spaced out, not just \n\r\t, so no raw <0x20
    // byte can survive into the JSON string.
    def esc(s: String): String =
      s.take(200).replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("\\p{Cntrl}", " ")

    val timings = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    // Per-key stage accounting for EVERY key (round-6 VERDICT item 1):
    // wall `sec` alone can't distinguish a contended host (scheduler
    // wait, other tenants) from a code regression. `stage_sec` sums
    // in-stage wall (completion - submission, excludes inter-stage
    // scheduler wait); `task_sec` sums executorRunTime across all tasks
    // (pure compute, stable under contention). A key whose wall spikes
    // while task_sec holds is host noise, not code. Snapshots bracket
    // each rep with a DETERMINISTIC listener-bus drain (no sleep races).
    val stageSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    val taskSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    val stageWallMs = new java.util.concurrent.atomic.AtomicLong(0)
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          for (s <- si.submissionTime; c <- si.completionTime)
            stageWallMs.addAndGet(c - s)
          taskTimeMs.addAndGet(si.taskMetrics.executorRunTime)
        }
      })
    // BEST-EFFORT: waitUntilEmpty throws TimeoutException after ~10 s
    // on a bus that can't drain (contended host) — attribution may then
    // bleed a stage into the next leg, but the bench must never abort
    // over it (all completed timings would be lost)
    def drain(): Unit =
      try org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      catch { case _: Exception => () }

    // dev knob: comma-separated key filter ("" / unset = all keys)
    val onlyKeys = sys.env.get("SPARK_GRAFT_BENCH_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // Per-key HYPERVISOR-STEAL attribution: the steal delta across the
    // min-wall rep, so a reader can dismiss a spiked key whose window
    // was stolen from without cross-referencing anything (the steal
    // bursts are the measured cause of the cross-round "drift" — see
    // stealCpuSec). One /proc/stat read per rep boundary, ~µs.
    val stealSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    SparkEntry.queries
      .filter { case (name, _) => onlyKeys.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // (wall, stage, task, steal) per rep; the MIN-WALL rep's
      // attribution is reported so it matches the same run as `queries`
      val runs = (1 to reps).flatMap { _ =>
        drain()
        val sw0 = stageWallMs.get(); val tt0 = taskTimeMs.get()
        val st0 = stealCpuSec()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          drain()
          Some((wall, (stageWallMs.get() - sw0) / 1e3,
            (taskTimeMs.get() - tt0) / 1e3,
            math.max(0.0, stealCpuSec() - st0)))
        } catch {
          case e: Throwable =>
            errors(name) = esc(Option(e.getMessage).getOrElse(e.getClass.getName))
            None
        }
      }
      if (runs.nonEmpty && !errors.contains(name)) {
        timings(name) = runs.map(_._1).sorted
        val best = runs.minBy(_._1)
        stageSec(name) = best._2
        taskSec(name) = best._3
        stealSec(name) = best._4
      }
    }

    // ---- end-to-end dump drive -------------------------------------
    // The reference's own entry points over ONE multi-GB `</page>`-
    // delimited dump file: exercises the SPLITTABLE ingest (a single
    // file fanning out to many tasks), the fused page parse, the
    // DISTRIBUTED PageRank loop (300k pages exceed GraphTier's bound)
    // and the inverted-index pipeline at a scale the parquet keys never
    // reach. One rep each — these are 10–100× the per-key cost
    // above, and the shared host makes single reps noisy anyway (see
    // BASELINE.md's spike note). SPARK_GRAFT_DUMP_PAGES=0 disables.
    val dumpPages = sys.env.getOrElse("SPARK_GRAFT_DUMP_PAGES", "300000").toInt
    if (dumpPages > 0) {
      val dumpPath = sys.env.getOrElse("SPARK_GRAFT_DUMP_PATH", "/tmp/graft_dump.xml")
      def timeOnce(name: String)(body: => Unit): Unit = {
        drain()
        val sw0 = stageWallMs.get(); val tt0 = taskTimeMs.get()
        val st0 = stealCpuSec()
        val t0 = System.nanoTime()
        try {
          body
          timings(name) = Seq((System.nanoTime() - t0) / 1e9)
          drain()
          stageSec(name) = (stageWallMs.get() - sw0) / 1e3
          taskSec(name) = (taskTimeMs.get() - tt0) / 1e3
          stealSec(name) = math.max(0.0, stealCpuSec() - st0)
        }
        catch { case e: Throwable =>
          errors(name) = esc(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      }
      val dumpFiles =
        try ensureDump(dumpPath, dumpPages)
        catch { case e: Throwable =>
          errors("dump_generate") = esc(Option(e.getMessage).getOrElse(e.getClass.getName))
          Seq.empty[String] }
      if (!errors.contains("dump_generate")) {
        // comma-joined multi-path spec: the reference's addInputPaths
        // form, driven at GB scale through every dump leg
        val dumpSpec = dumpFiles.mkString(",")
        timeOnce("dump_ingest") {
          require(dumpFiles.size >= 2,
            s"dump drive expects >= 2 input files, got ${dumpFiles.size}")
          val pages = graft.sources.TextKV.readPages(spark, dumpSpec)
          // the whole point is splittability: many tasks per file, and
          // at least one split from EACH comma path
          val parts = pages.rdd.getNumPartitions
          require(parts >= 2, s"dump ingest produced a single split ($parts)")
          pages.count()
        }
        timeOnce("dump_pagerank") {
          graft.pipelines.WikiPipelines.pageRank(spark, dumpSpec).count()
        }
        timeOnce("dump_index") {
          graft.pipelines.WikiPipelines.invertedIndex(spark, dumpSpec).count()
        }
        // the training-pipeline path at the same GB scale: single-scan
        // curation (quality + langid + dedup keeper) over 300k pages
        timeOnce("dump_curate") {
          graft.pipelines.WikiPipelines.curate(spark, dumpSpec).count()
        }
        // the TABLE-FORMAT maintenance tape at GB scale / 120 segments
        // (the sf0.1 keys never exceed 2-4 segments): bulk-load the
        // corpus into a txlog table, one optimize job range-clusters it
        // into 120 stats-recorded bucket slices, then the nightly tape
        // — CDF on, 8 slice deletes (crossing the checkpoint interval,
        // so the fold + replay run at 100+-segment state), a slice
        // backfill, a scoped re-cluster, vacuum, and a pruned read.
        // The require pins the 100×-scale property WHERE IT MATTERS:
        // one slice's delete reads ∝ slice (listener-counted records),
        // never ∝ table.
        timeOnce("dump_txlog") {
          import java.util.concurrent.atomic.AtomicLong
          import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
          import org.apache.spark.sql.functions.{col, lit, pmod}
          val dir = "/tmp/graft_dump_txlog"
          graft.sources.TxLog.deleteRecursively(java.nio.file.Paths.get(dir))
          val docs = graft.parse.WikiParser.docs(
            graft.parse.WikiParser.pagesFused(
              graft.sources.TextKV.readPages(spark, dumpSpec)))
            .select(pmod(col("doc_id"), lit(120)).cast("int").as("bucket"),
              col("doc_id"), col("text"))
          graft.sources.TxLog.append(docs, dir)
          graft.sources.TxLog.optimize(spark, dir, Seq("bucket"), 120,
            statsCols = Seq("bucket"))
          val segs = graft.sources.TxLog.liveSegments(dir).size
          require(segs >= 100, s"expected 100+ segments, got $segs")
          val total = graft.sources.TxLog.read(spark, dir).count()
          graft.sources.TxLog.enableChangeDataFeed(dir)
          val recs = new AtomicLong(0)
          val l = new SparkListener {
            override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
              if (t.taskMetrics != null)
                recs.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
          }
          spark.sparkContext.addSparkListener(l)
          try {
            graft.sources.TxLog.deleteRange(spark, dir, "bucket", "7", "7",
              statsCols = Seq("bucket"))
          } finally {
            Thread.sleep(300)
            spark.sparkContext.removeSparkListener(l)
          }
          require(recs.get() <= total / 10,
            s"one-slice delete read ${recs.get()} of $total records — " +
              "triage is not slice-proportional at 120 segments")
          (1 to 7).foreach(i =>
            graft.sources.TxLog.deleteRange(spark, dir,
              "bucket", (110 + i).toString, (110 + i).toString,
              statsCols = Seq("bucket")))
          val backfill = graft.sources.TxLog.readWhere(spark, dir, "bucket = 9")
          graft.sources.TxLog.replaceWhere(spark, dir, "bucket = 9",
            backfill, statsCols = Seq("bucket"))
          graft.sources.TxLog.optimizeWhere(spark, dir, "bucket", "20", "23",
            Seq("doc_id"), 2, statsCols = Seq("bucket"))
          graft.sources.TxLog.vacuum(dir, keepVersions = 2)
          // checkpoint-replayed, stats-pruned read is the measured tail
          val got = graft.sources.TxLog.readWhere(spark, dir, "bucket = 55")
            .count()
          require(got > 0, "pruned read of an untouched slice lost rows")
        }
      }
    }

    val qs = timings.map { case (k, rs) => s"\"$k\":${fmt(rs.head)}" }
      .mkString("{", ",", "}")
    val spread = timings.map { case (k, rs) =>
      val med = rs(rs.size / 2)
      s"\"$k\":[${fmt(rs.head)},${fmt(med)},${fmt(rs.last)}]"
    }.mkString("{", ",", "}")
    val errs = errors.map { case (k, m) => s"\"$k\":\"$m\"" }
      .mkString("{", ",", "}")
    val total = timings.values.map(_.head).sum
    def secMap(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => s"\"$k\":${fmt(v)}" }.mkString("{", ",", "}")
    // per-key steal: only keys whose min-wall rep actually lost CPU to
    // the hypervisor (≥10ms) — on a quiet window this map is empty
    val stealJson = {
      val hit = stealSec.filter(_._2 >= 0.01)
      if (hit.isEmpty) "" else s""","key_steal_sec":${secMap(hit)}"""
    }
    val stageJson =
      if (stageSec.isEmpty) ""
      else s""","stage_sec":${secMap(stageSec)},"task_sec":${secMap(taskSec)}"""
    val env =
      s""""cpus":$cpus,"host_procs":$hostProcs,"load_avg":[${fmt(loadStart)},${fmt(osBean.getSystemLoadAverage)}],"calib_sec":[${fmt(calibStart)},${fmt(calibProbe())}],"steal_sec":[${fmt(stealStart)},${fmt(stealCpuSec())}]"""
    // the BASELINE gate, one field (r13 VERDICT item 5): non-dump
    // seconds/key over all keys AND over the steal-free complement
    // (keys whose min-wall rep lost <10ms to the hypervisor) — a
    // reader compares the steal-free figure to BASELINE.md directly
    // instead of re-deriving the complement from key_steal_sec
    val nonDump = timings.filterNot(_._1.startsWith("dump_"))
    val stealFree = nonDump.filter(kv => stealSec.getOrElse(kv._1, 0.0) < 0.01)
    def perKey(m: scala.collection.Map[String, Seq[Double]]): Double =
      if (m.isEmpty) 0.0 else m.values.map(_.head).sum / m.size
    val gateJson =
      s""","nondump_s_per_key":${fmt(perKey(nonDump))},"nondump_s_per_key_steal_free":${fmt(perKey(stealFree))},"nondump_steal_free_n":${stealFree.size},"nondump_n":${nonDump.size}"""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"spread":$spread,"errors":$errs$stageJson$stealJson$gateJson,"reps":$reps,$env,"sf":"$sfDir"}"""
    // The driver captures only the LAST ~2000 chars of stdout; with 140+
    // keys the full line overflows that window and its parse records
    // `parsed: null` (observed in BENCH_r01..r03.json). Emit the full
    // line first (humans, logs), then a compact line that fits the tail
    // window: total + the slowest keys + a pointer to the full detail,
    // which always lands in `outPath` (BENCH_LAST.json) on disk.
    val slowTop = timings.toSeq.sortBy { case (_, rs) => -rs.head }.take(12)
    val slowest = slowTop
      .map { case (k, rs) => s"\"$k\":${fmt(rs.head)}" }
      .mkString("{", ",", "}")
    // The compact line must FIT the driver's ~2000-char stdout tail; the
    // full errors map (28 × 200-char messages in round 4) overflowed it
    // and produced `parsed: null` — carry only the error COUNT and the
    // first failing key; full detail is already in `outPath` on disk.
    val firstErr = errors.keys.headOption
      .map(k => s""","first_error":"${esc(k)}"""").getOrElse("")
    // stage/task detail now spans EVERY key — far over the driver's
    // ~2000-char stdout tail window, so the compact line carries it only
    // for the same slowest-key set; the full maps are in `outPath`.
    val slowKeys = slowTop.map(_._1).toSet
    val stageCompact =
      if (stageSec.isEmpty) ""
      else s""","stage_sec":${secMap(stageSec.filter(kv => slowKeys(kv._1)))},"task_sec":${secMap(taskSec.filter(kv => slowKeys(kv._1)))}"""
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${timings.size},"queries":$slowest,"n_errors":${errors.size}$firstErr$stageCompact$gateJson,"reps":$reps,$env,"detail":"$outPath","sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // stdout lines still emitted
    println(line)
    println(compact)
    spark.stop()
  }
}
