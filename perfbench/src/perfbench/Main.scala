package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's measuring process: one JVM, one client, one pass at a
  * time (a closed loop). See README.md for the workloads and metrics.
  *
  * Run: `Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * [--rev R] [--gen-s G]`. The inputs must already be generated under
  * `DIR/inputs/W` (see [[Gen]]). Prints one JSON object as its last line;
  * the run's detail (environment, every pass, every span) goes to
  * `DIR/runs/`. */
object Main {
  /** Set-up repetitions; `setup_s` is their median. */
  val SetupReps = 2

  final case class PassRecord(kind: String, wallS: Double, cpuS: Double, stealS: Double,
                              gcS: Double, error: Option[String])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(work: Path): SparkSession = {
    val cpus = Env.nproc.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions())
      .config("spark.sql.catalog.spark_catalog", "graft.sources.txlog.GraftCatalog")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The generator's facts about the inputs in `inDir`. */
  def factsOf(inDir: Path): java.util.Properties = {
    val facts = new java.util.Properties()
    val fin = Files.newInputStream(inDir.resolve("facts.properties"))
    try facts.load(fin) finally fin.close()
    facts
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val workload = Workload(workloadName)
    val inDir = work.resolve("inputs").resolve(workloadName)
    val facts = factsOf(inDir)
    val big = Input(inDir, "input", facts)
    val warm = Input(inDir, "warm", facts)
    val outDir = work.resolve("out").resolve(workloadName)
    Files.createDirectories(outDir.getParent)
    val loadStart = Env.loadAvg

    // set-up: session build plus one warm-up pass on the small input
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    val warmErrors = ArrayBuffer.empty[String]
    for (i <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      spark = session(work)
      val r = workload.pass(spark, warm, outDir, None)
      setupS += (System.nanoTime() - t0) / 1e9
      try workload.check(warm, outDir, r)
      catch { case e: Exception => warmErrors += s"warm-up $i: ${e.getMessage}" }
      if (i < SetupReps) spark.stop()
    }

    val passes = ArrayBuffer.empty[PassRecord]
    val listener = new SpanListener
    val tracer = new Tracer(spark.sparkContext)
    def runPass(kind: String): Unit = {
      val traced = kind == "traced"
      val cpu0 = Env.processCpuS; val steal0 = Env.stealS; val gc0 = Env.gcS
      val t0 = System.nanoTime()
      val res = try Right(if (traced) tracer("pass")(workload.pass(spark, big, outDir, Some(tracer)))
                          else workload.pass(spark, big, outDir, None))
                catch { case e: Exception => Left(s"pass threw: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Env.processCpuS - cpu0; val steal = Env.stealS - steal0; val gc = Env.gcS - gc0
      val err = res.flatMap { r =>
        try { workload.check(big, outDir, r); Right(()) }
        catch { case e: Exception => Left(e.getMessage) }
      }.left.toOption
      passes += PassRecord(kind, wall, cpu, steal, gc, err)
      if (traced) tracer.pass += 1
    }

    // one untimed pass on the timed input first: the first pass on it
    // runs while the JIT still compiles for its size, and is slow by
    // an amount that varies from run to run
    runPass("warmup")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    if (!trace) {
      do runPass("untraced") while (System.nanoTime() < deadline)
    } else {
      // alternate untraced and traced passes; the listener is attached
      // only while a traced pass runs
      var traced = false
      do {
        if (traced) spark.sparkContext.addSparkListener(listener)
        runPass(if (traced) "traced" else "untraced")
        if (traced) {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
        traced = !traced
      } while (System.nanoTime() < deadline || passes.count(_.kind == "traced") == 0)
    }
    spark.stop()

    val untraced = passes.filter(_.kind == "untraced")
    val failed = passes.count(_.error.nonEmpty) + warmErrors.size
    val attempted = passes.size + SetupReps
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      val jobS = median(untraced.map(_.wallS).toSeq)
      metrics("job_s") = (jobS, "s")
      metrics("pages_per_s") = (big.pages / jobS, "pages/s")
      metrics("cpu_s") = (median(untraced.map(_.cpuS).toSeq), "s")
      metrics("setup_s") = (median(setupS.toSeq), "s")
      metrics("peak_rss_mb") = (Env.peakRssMb, "MB")
      metrics("ok_frac") = (1.0 - failed.toDouble / attempted, "ratio")
    } else {
      Layers.metrics(tracer, listener, big, median(untraced.map(_.wallS).toSeq))
        .foreach { case (k, v) => metrics(k) = v }
    }

    val detail = Json.obj(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "env" -> Json.obj(
        "nproc" -> Env.nproc, "heap_mb" -> Env.heapMb, "rev" -> opts.getOrElse("rev", "unknown"),
        "load_avg" -> Seq(loadStart, Env.loadAvg),
        "inputs" -> Seq(big, warm).map(in => Json.obj(
          "name" -> in.name, "pages" -> in.pages, "bytes" -> in.fact("bytes"),
          "sha256" -> facts.getProperty(s"${in.name}.sha256"))),
        "gen_s" -> opts.getOrElse("gen-s", "-1").toDouble,
        "gen_s_when_generated" -> facts.getProperty("gen_s", "-1").toDouble),
      "setup_s" -> setupS.toSeq,
      "passes" -> passes.toSeq.map(p => Json.obj("kind" -> p.kind, "wall_s" -> p.wallS,
        "cpu_s" -> p.cpuS, "steal_s" -> p.stealS, "gc_s" -> p.gcS,
        "error" -> p.error.orNull)),
      "warm_errors" -> warmErrors.toSeq,
      "spans" -> tracer.spans.toIndexedSeq.zipWithIndex.map { case (s, i) => Json.obj(
        "name" -> s.name, "pass" -> s.pass, "parent" -> s.parent, "start_ns" -> s.start,
        "end_ns" -> s.end, "self_s" -> Intervals.selfNanos(tracer.spans.toIndexedSeq, i) / 1e9) },
      "metrics" -> metrics.toSeq.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) })
    val runs = work.resolve("runs")
    Files.createDirectories(runs)
    Files.write(runs.resolve(s"$workloadName-seed$seed-trace${if (trace) 1 else 0}.json"),
      detail.json.getBytes(UTF_8))

    passes.filter(_.error.nonEmpty).foreach(p => System.err.println(s"FAILED pass: ${p.error.get}"))
    warmErrors.foreach(e => System.err.println(s"FAILED $e"))
    metrics.foreach { case (k, (v, u)) => System.err.println(f"$k%-40s $v%.6g $u") }
    println(Json.obj(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }))
  }
}

/** The training run for the class-data-sharing archive the measuring JVMs
  * start from: one JVM generates every workload's inputs under
  * `DIR/inputs` (seed 1) and makes one checked set-up pass of each, so
  * the classes all three workloads load land in the archive.
  *
  * Run: `Train DIR` with `-XX:ArchiveClassesAtExit=<archive>`. */
object Train {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0)).toAbsolutePath
    val spark = Main.session(dir)
    try Seq("pagerank_wiki", "index_wiki", "txlog_wiki").foreach { name =>
      val inDir = dir.resolve("inputs").resolve(name)
      Gen.ensure(name, 1L, inDir)
      val warm = Input(inDir, "warm", Main.factsOf(inDir))
      val out = dir.resolve("out").resolve(name)
      Files.createDirectories(out.getParent)
      val w = Workload(name)
      w.check(warm, out, w.pass(spark, warm, out, None))
    } finally spark.stop()
  }
}

/** Minimal JSON writer for the result line and the run detail. */
object Json {
  final case class Obj(json: String) { override def toString: String = json }
  def obj(kvs: (String, Any)*): Obj =
    Obj(kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      obj(kv.map(_.asInstanceOf[(String, Any)]): _*).json
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
