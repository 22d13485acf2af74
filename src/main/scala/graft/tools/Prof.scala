package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc profiling entry: `tools/run.sh graft.tools.Prof <sfDir> <what>`.
  * Not part of the driver contract — a developer loop for plan tuning. */
object Prof {
  def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime; val r = f
    println(f"PROF $name: ${(System.nanoTime - t0) / 1e9}%.2f s"); r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "pagerank"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      // same session integration as Verify/Bench (SQL functions + the
      // txlog DML rule) — keys like table_log_sql_dml need it
      .withExtensions(new graft.GraftExtensions())
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.txlog.GraftCatalog")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer",
        sys.env.getOrElse("SPARK_GRAFT_PROF_SERIALIZER",
          "org.apache.spark.serializer.JavaSerializer"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    what match {
      // `Prof <sfDir> explain <key>`: formatted physical plan of any
      // declared query key — the .explain audit loop for new operators
      case "explain" =>
        val key = args(2)
        graft.SparkEntry.queries(key)(spark, sfDir).explain("formatted")
      case "entry" =>
        val df = t("entry")(graft.SparkEntry.entry(spark))
        df.show(5, false)
        println("rows=" + df.count())
      case "dedupstep" =>
        import org.apache.spark.sql.functions._
        val docs = graft.Tables.documents(spark, sfDir)
        val toks = docs.select(graft.ops.TextOps.tokenize(col("text")).as("w"))
        t("tokenize only")(toks.select(size(col("w"))).agg(sum("size(w)")).collect())
        val sgl = docs.select(graft.dedup.Dedup.shingles(
          graft.ops.TextOps.tokenize(col("text")), 3).as("s"))
        t("shingles")(sgl.select(size(col("s"))).agg(max("size(s)")).collect())
        val sigs = graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text")
        t("signatures")(sigs.count())
        t("signatures again")(sigs.count())
        val bands = graft.dedup.Dedup.lshBands(sigs)
        t("bands")(bands.count())
        val pairs = graft.dedup.Dedup.lshCandidatePairs(sigs)
        t("pairs")(pairs.count())
      case "sigdump" =>
        graft.dedup.Dedup.minhashSignatures(
            graft.Tables.documents(spark, sfDir), "doc_id", "text")
          .orderBy("doc_id").limit(3).collect()
          .foreach(r => println("SIG " + r.mkString("|")))
      case "prtwice" =>
        val g = graft.SparkEntry.pagerankGraph(spark, sfDir)
        t("pagerank run A")(graft.pagerank.PageRank.run(g, iters = 10).count())
        t("pagerank run B")(graft.pagerank.PageRank.run(g, iters = 10).count())
        t("pagerank run C")(graft.pagerank.PageRank.run(g, iters = 10).count())
      case s if s.startsWith("pr") && s.drop(2).forall(_.isDigit) =>
        val iters = s.drop(2).toInt
        val g = graft.SparkEntry.pagerankGraph(spark, sfDir)
        t(s"pagerank iters=$iters")(graft.pagerank.PageRank.run(g, iters = iters).count())
      case "fingerprint" =>
        // print ready-to-pin PlanFingerprint entries for the listed keys
        val keys = args.drop(2).flatMap(_.split(",")).filter(_.nonEmpty)
        keys.foreach { k =>
          val p = graft.SparkEntry.queries(k)(spark, sfDir)
            .queryExecution.executedPlan.toString
          println(s"""    "$k" -> ${PlanFingerprint.of(p)},""")
        }
      case "fingerprintall" =>
        // ready-to-pin entries for EVERY declared key (stream_* keys
        // run their bounded stream to produce the result plan — slow
        // but exactly what the spec will fingerprint)
        graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, fn) =>
          try {
            val p = fn(spark, sfDir).queryExecution.executedPlan.toString
            println(s"""    "$k" -> ${PlanFingerprint.of(p)},""")
          } catch { case e: Throwable =>
            println(s"""    // "$k" FAILED: ${e.getMessage}""")
          }
        }
      case "jobs" =>
        // `Prof <sf> jobs <key>`: run the key twice (cold, warm) and on
        // the warm rep print every Spark job's description + wall — the
        // "where do 3 s of wall go when task_sec is 1 s" drill for the
        // tape keys (many small sequential driver-issued jobs)
        val key = args(2)
        val q = graft.SparkEntry.queries(key)
        t(s"$key cold")(q(spark, sfDir).count())
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        val done = scala.collection.mutable.ArrayBuffer[(Int, Double, String)]()
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.put(j.jobId, (j.time,
              Option(j.properties.getProperty("spark.job.description"))
                .orElse(Option(j.properties.getProperty("callSite.short")))
                .getOrElse("?")))
          override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s = jobs.get(j.jobId)
            if (s != null) done.synchronized {
              done += ((j.jobId, (j.time - s._1) / 1e3, s._2)) }
          }
        }
        spark.sparkContext.addSparkListener(l)
        t(s"$key warm")(q(spark, sfDir).count())
        Thread.sleep(500)
        spark.sparkContext.removeSparkListener(l)
        val sorted = done.sortBy(_._1)
        println(s"JOBS n=${sorted.size} total=${sorted.map(_._2).sum}%.2f")
        sorted.foreach { case (id, sec, desc) =>
          println(f"JOB $id%4d ${sec}%7.3f s  ${desc.take(110)}") }
      case "auditall" =>
        // r16 plan audit over EVERY declared key: one line per key with
        // the shape signals the optimization guide says to read —
        // exchange count, join strategies, scans with/without pushed
        // filters, cartesian products, non-codegen spans. Output TSV to
        // stdout (AUDIT<tab>…); planning only, nothing executed (stream
        // keys are skipped: building their plan runs the stream).
        val skip = Set[String]()
        graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, fn) =>
          if (k.startsWith("stream_") || skip(k)) println(s"AUDIT\t$k\tSKIP_STREAM")
          else try {
            val df = fn(spark, sfDir)
            val p = df.queryExecution.executedPlan.toString
            def c(s: String) = s.r.findAllIn(p).size
            val exch = c("Exchange ")
            val bhj = c("BroadcastHashJoin"); val smj = c("SortMergeJoin")
            val shj = c("ShuffledHashJoin"); val bnl = c("BroadcastNestedLoopJoin")
            val cart = c("CartesianProduct")
            val scans = c("Scan parquet"); val pushed = c("PushedFilters: \\[[^\\]]")
            println(s"AUDIT\t$k\texch=$exch bhj=$bhj smj=$smj shj=$shj " +
              s"bnl=$bnl cart=$cart scans=$scans pushedScans=$pushed")
          } catch { case e: Throwable =>
            println(s"AUDIT\t$k\tERROR ${Option(e.getMessage).getOrElse("?").take(80)}")
          }
        }
      case "prefixstep" =>
        // stage-wise cost of prefixFilterPairs at the dedup_prefix /
        // dedup_eval settings: where do the seconds go — shingling,
        // df-count, prefix ranking, bucket expansion, or the verify?
        import org.apache.spark.sql.functions._
        val docs = graft.Tables.documents(spark, sfDir)
        val conf = spark.sessionState.conf
        val src = if (docs.rdd.getNumPartitions < conf.numShufflePartitions)
          docs.repartition(conf.numShufflePartitions) else docs
        val sh = src.select(col("doc_id").cast("long").as("doc_id"),
            explode(array(graft.ops.TextOps.tokenize(col("text")))).as("w"))
          .select(col("doc_id"), graft.dedup.Dedup.shingles(col("w"), 3).as("sgl"))
          .filter(size(col("sgl")) > 0)
        val shc = t("shingle+checkpoint")(sh.localCheckpoint())
        t("df count")(shc.select(explode(col("sgl")).as("s"))
          .groupBy("s").agg(count(lit(1))).agg(count(lit(1))).collect())
        for (r <- 1 to 2; th <- Seq(0.8, 0.5)) {
          t(s"full prefixFilterPairs t=$th r$r")(
            graft.dedup.Dedup.prefixFilterPairs(docs, "doc_id", "text",
              threshold = th, maxBucket = if (th == 0.5) 1 << 20 else 1000)
              .count())
        }
        t("lsh candidates (dedup_eval cand side)")(
          graft.dedup.Dedup.lshCandidatePairs(
            graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text"))
            .count())
      case "tokab" =>
        // r16 tokenizer-fusion A/B in ONE window (steal-proof): the
        // composed regex chains vs the fused byte-scan expressions, on
        // the GB dump (index occurrences) and the sf documents corpus
        // (whitespace tokenize — the dedup/text hot path)
        import org.apache.spark.sql.functions._
        val path = sys.env.getOrElse("SPARK_GRAFT_DUMP_PATH", "/tmp/graft_dump.xml")
        val docsDf = graft.parse.WikiParser.docs(
          graft.parse.WikiParser.pagesFused(
            graft.sources.TextKV.readPages(spark, path))).localCheckpoint()
        for (r <- 1 to 2) {
          t(s"occurrences composed r$r")(
            graft.index.InvertedIndex.occurrencesComposed(docsDf, "doc_id", "text")
              .agg(count(lit(1))).collect())
          t(s"occurrences fused r$r")(
            graft.index.InvertedIndex.occurrences(docsDf, "doc_id", "text")
              .agg(count(lit(1))).collect())
          t(s"postings salted fused r$r")(
            graft.index.InvertedIndex.postingsSalted(docsDf, "doc_id", "text").count())
        }
        val sfDocs = graft.Tables.documents(spark, sfDir)
        for (r <- 1 to 2) {
          t(s"ws composed r$r")(sfDocs.select(
            explode(graft.ops.TextOps.tokenizeComposed(col("text"))).as("w"))
            .agg(count(lit(1))).collect())
          t(s"ws fused r$r")(sfDocs.select(
            explode(graft.ops.TextOps.tokenize(col("text"))).as("w"))
            .agg(count(lit(1))).collect())
        }
      case "indexsalt" =>
        // skew drill (VERDICT r5 #6): plain two-level posting build vs
        // the range-salted three-level variant vs the streamed one-shuffle
        // build the dump_index path uses, on the bench dump with its
        // documented hot-"p" stop word.
        val path = sys.env.getOrElse("SPARK_GRAFT_DUMP_PATH", "/tmp/graft_dump.xml")
        val pages = graft.sources.TextKV.readPages(spark, path)
        val docsDf = graft.parse.WikiParser.docs(
          graft.parse.WikiParser.pagesFused(pages))
        for (r <- 1 to 2) {
          t(s"postings plain r$r")(
            graft.index.InvertedIndex.postings(docsDf, "doc_id", "text").count())
          t(s"postings salted r$r")(
            graft.index.InvertedIndex.postingsSalted(docsDf, "doc_id", "text").count())
          t(s"postingStrings streamed r$r")(
            graft.index.InvertedIndex.postingStrings(docsDf, "doc_id", "text").count())
        }
      case "dump" =>
        // stage-wise cost of the end-to-end dump drive (BENCH dump_* keys)
        val path = sys.env.getOrElse("SPARK_GRAFT_DUMP_PATH", "/tmp/graft_dump.xml")
        val pages = graft.sources.TextKV.readPages(spark, path)
        t("ingest count")(pages.count())
        val edges = graft.parse.WikiParser.linkGraphFused(pages)
        t("parse+links count")(edges.count())
        t("parse+links again")(edges.count())
        t("pagerank e2e")(graft.pipelines.WikiPipelines.pageRank(spark, path).count())
      case "triskew" =>
        // r17 VERDICT#7 fixture: hub graph (vertex 0 wired to 1..N, N =
        // 80k by default since a 40k hub does not show the hazard, plus
        // the ring i—i+1, so every hub edge closes a triangle) where the
        // pure intersection form pays Σ deg(hub)² merge visits and holds
        // the hub's full adjacency array. A/B: plain vs degreeCap=1000,
        // alternating in one JVM; then the UNIFORM co-purchase graph at
        // sf both ways (the "flat on uniform" check).
        import spark.implicits._
        val nHub = Integer.parseInt(sys.env.getOrElse("SPARK_GRAFT_TRI_N", "80000"))
        val hubEdges = (1 to nHub).map(i => (0L, i.toLong)) ++
          (1 until nHub).map(i => (i.toLong, (i + 1).toLong))
        val hubDf = hubEdges.toDF("a", "b").repartition(32).localCheckpoint()
        for (r <- 1 to 2) {
          t(s"skew plain r$r")(
            graft.graph.Triangles.perVertex(hubDf, "a", "b").count())
          t(s"skew capped r$r")(
            graft.graph.Triangles.perVertex(hubDf, "a", "b", degreeCap = 1000).count())
          t(s"skew jaccard plain r$r")(
            graft.graph.Triangles.edgeJaccard(hubDf, "a", "b").count())
          t(s"skew jaccard capped r$r")(
            graft.graph.Triangles.edgeJaccard(hubDf, "a", "b", degreeCap = 1000).count())
        }
        for (r <- 1 to 2) {
          t(s"uniform graph_triangles plain r$r")(
            graft.SparkEntry.queries("graph_triangles")(spark, sfDir).count())
          t(s"uniform graph_jaccard plain r$r")(
            graft.SparkEntry.queries("graph_jaccard")(spark, sfDir).count())
          spark.conf.set("graft.graph.degreeCap", "1000000000")
          try {
            // cap far above every degree: hybrid plan shape, zero hub rows
            t(s"uniform graph_triangles capped-shape r$r")(
              graft.SparkEntry.queries("graph_triangles")(spark, sfDir).count())
            t(s"uniform graph_jaccard capped-shape r$r")(
              graft.SparkEntry.queries("graph_jaccard")(spark, sfDir).count())
          } finally spark.conf.unset("graft.graph.degreeCap")
        }
      case "prbuild" =>
        // r17 VERDICT#5 drill: where does the pagerank-family setup go,
        // and does shuffling LONGS (concat after collect) or coalesce(1)
        // (vs partitionBy(1)) pay? Times the full input materialization
        // (build -> Dataset decode -> persist -> count) per variant, in
        // one JVM, alternating.
        import org.apache.spark.sql.functions._
        import org.apache.spark.storage.StorageLevel
        import spark.implicits._
        val oDf = graft.Tables.orders(spark, sfDir)
        val liDf = graft.Tables.lineitem(spark, sfDir)
        def current() = {
          val orderParts = liDf.groupBy(col("l_orderkey"))
            .agg(collect_list(concat(lit("p"), col("l_partkey"))).as("parts"))
          val orderVerts = oDf.join(orderParts, oDf("o_orderkey") === orderParts("l_orderkey"), "left")
            .select(concat(lit("o"), col("o_orderkey")).as("title"),
              concat(array(concat(lit("c"), col("o_custkey"))),
                coalesce(col("parts"), array().cast("array<string>"))).as("outlinks"))
          val custVerts = oDf.groupBy(col("o_custkey"))
            .agg(collect_list(concat(lit("o"), col("o_orderkey"))).as("outlinks"))
            .select(concat(lit("c"), col("o_custkey")).as("title"), col("outlinks"))
          orderVerts.unionByName(custVerts)
        }
        def longsFirst() = {
          val orderParts = liDf.groupBy(col("l_orderkey"))
            .agg(collect_list(col("l_partkey")).as("pkeys"))
          val orderVerts = oDf.join(orderParts, oDf("o_orderkey") === orderParts("l_orderkey"), "left")
            .select(concat(lit("o"), col("o_orderkey")).as("title"),
              concat(array(concat(lit("c"), col("o_custkey"))),
                transform(coalesce(col("pkeys"), array().cast("array<long>")),
                  x => concat(lit("p"), x))).as("outlinks"))
          val custVerts = oDf.groupBy(col("o_custkey"))
            .agg(collect_list(col("o_orderkey")).as("okeys"))
            .select(concat(lit("c"), col("o_custkey")).as("title"),
              transform(col("okeys"), x => concat(lit("o"), x)).as("outlinks"))
          orderVerts.unionByName(custVerts)
        }
        for (r <- 1 to 3) {
          for ((nm, mk) <- Seq("current" -> current _, "longsFirst" -> longsFirst _)) {
            val raw = t(s"$nm build+decode+persist r$r") {
              val rdd = mk().select("title", "outlinks").as[(String, Seq[String])]
                .rdd.persist(StorageLevel.MEMORY_AND_DISK)
              rdd.count(); rdd
            }
            t(s"$nm partitionBy(1) r$r") {
              val l = raw.partitionBy(new org.apache.spark.HashPartitioner(1))
                .persist(StorageLevel.MEMORY_AND_DISK)
              l.count(); l.unpersist(false)
            }
            t(s"$nm coalesce(1) r$r") {
              val l = raw.coalesce(1).persist(StorageLevel.MEMORY_AND_DISK)
              l.count(); l.unpersist(false)
            }
            raw.unpersist(false)
          }
        }
      case "dumpgc" =>
        // r17 anti-scaling drill: the three dump legs with WALL + task
        // CPU (executorRunTime) + JVM GC attribution per leg — the
        // one-number answer to "is the 32c task-sec blowup GC pressure
        // at the driver's heap size". Run with SPARK_DRIVER_MEM=8g and
        // =48g in the same window and compare.
        val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        def gcMs(): Long = {
          var s = 0L; gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime)); s
        }
        val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
        val gcTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
        val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              taskMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
              gcTaskMs.addAndGet(sc.stageInfo.taskMetrics.jvmGCTime)
              cpuNs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
            }
          })
        val path = sys.env.getOrElse("SPARK_GRAFT_DUMP_PATH", "/tmp/graft_dump.xml")
        val spec = path + "," + path + ".part2"
        def steal(): Double =
          try {
            val src = scala.io.Source.fromFile("/proc/stat")
            try {
              val cols = src.getLines().next().trim.split("\\s+")
              if (cols.length > 8) cols(8).toDouble / 100.0 else -1.0
            } finally src.close()
          } catch { case _: Exception => -1.0 }
        def leg(name: String)(body: => Unit): Unit = {
          org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
          val t0 = System.nanoTime; val g0 = gcMs(); val s0 = steal()
          val tk0 = taskMs.get(); val gt0 = gcTaskMs.get(); val cp0 = cpuNs.get()
          body
          val wall = (System.nanoTime - t0) / 1e9
          org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
          println(f"DUMPGC $name wall=${wall}%.2f s task=${(taskMs.get - tk0) / 1e3}%.1f s " +
            f"cpu=${(cpuNs.get - cp0) / 1e9}%.1f s " +
            f"taskGc=${(gcTaskMs.get - gt0) / 1e3}%.1f s jvmGc=${(gcMs() - g0) / 1e3}%.1f s " +
            f"steal=${steal() - s0}%.1f s " +
            f"heapMax=${Runtime.getRuntime.maxMemory / (1 << 20)}m")
        }
        leg("ingest")(graft.sources.TextKV.readPages(spark, spec).count())
        leg("pagerank")(graft.pipelines.WikiPipelines.pageRank(spark, spec).count())
        leg("index")(graft.pipelines.WikiPipelines.invertedIndex(spark, spec).count())
        leg("curate")(graft.pipelines.WikiPipelines.curate(spark, spec).count())
      case "deconstep" =>
        import org.apache.spark.sql.functions._
        val docs = graft.Tables.documents(spark, sfDir)
        val bucket = graft.ops.Sampling.hashBucket(col("doc_id"))
        val sgl = graft.dedup.Dedup.shingles(
          graft.ops.TextOps.tokenize(col("text")), 5)
        t("eval distinct shingles")(
          docs.filter(bucket < 8).select(explode(sgl).as("sgl")).distinct().count())
        t("train shingle explode")(
          docs.filter(bucket >= 8).select(col("doc_id"), explode(sgl).as("sgl")).count())
        t("train shingles no-distinct")(
          docs.filter(bucket >= 8).select(col("doc_id"),
            explode(transform(sequence(lit(1), size(graft.ops.TextOps.tokenize(col("text"))) - 4),
              i => concat_ws(" ", (0 until 5).map(k =>
                element_at(graft.ops.TextOps.tokenize(col("text")), i + lit(k))): _*))).as("s")).count())
      // `Prof <sfDir> explainfinal <key>`: run the query, then print the
      // FINAL adaptive plan (stage reuse, AQE join conversions) — what
      // actually executed, not the pre-execution estimate
      case "explainfinal" =>
        val df = graft.SparkEntry.queries(args(2))(spark, sfDir)
        df.collect()
        val exec = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        println(exec.toString)
      case key =>
        val q = graft.SparkEntry.queries(key)
        t(s"$key run1")(q(spark, sfDir).count())
        t(s"$key run2")(q(spark, sfDir).count())
    }
    spark.stop()
  }
}
