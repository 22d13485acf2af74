package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's I/O surface (SURVEY.md §2.1):
  *  - S1 line-oriented text scan, multi-path (ref: PageRankAlgorithm.java:66,
  *    :84, :102-103, :119-120 `addInputPaths`; InvertedIndex.java:51);
  *  - S2 `key \t value` text sink (TextOutputFormat default, ref: :67,
  *    :85-86, :104-105, :121-122; InvertedIndex.java:52).
  *
  * Spark-native: `spark.read.text` keeps the scan splittable (a 100 TB
  * text corpus splits on line boundaries across executors); the sink
  * formats rows to `k\tv` and writes partitioned text part-files —
  * byte-compatible with what the reference's reducers emit, without the
  * single-reducer bottleneck.
  */
object TextKV {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** S1 — line scan over one or more paths (the reference's comma-joined
    * `addInputPaths`). One `value: string` column, one row per line. */
  def readLines(spark: SparkSession, paths: String*): DataFrame =
    spark.read.textFile(paths: _*).toDF("value")

  /** S1 (page-level variant) — whole-file rows for WikiParser, which
    * needs `<page>` blocks intact rather than split on line boundaries.
    *
    * NOT splittable: one file = one row = one task. Fine for directories
    * of small files; for a single multi-GB dump use [[readPages]]. */
  def readWholeFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)

  /** S1 (page-level, SPLITTABLE) — one row per `</page>`-delimited record,
    * the scale path for a single large MediaWiki dump.
    *
    * `TextInputFormat` with `textinputformat.record.delimiter = "</page>"`
    * gives records the reference's line-split guarantee
    * (ref: PageRankAlgorithm.java:66 uses the default newline delimiter):
    * a record straddling an input-split boundary is read to completion by
    * the split that owns its start and skipped by the next, so a 100 GB
    * dump fans out across executors with every page attributed exactly
    * once — unlike `wholetext`, which would put the whole dump in one task.
    *
    * Each record carries everything since the previous `</page>` (at most
    * one page); the consumed delimiter is re-appended so the output feeds
    * `WikiParser.pages` unchanged. Header/trailer records contain no
    * `<page>` and parse to zero pages.
    *
    * Accepts COMMA-SEPARATED paths like the reference's `addInputPaths`
    * (ref: PageRankAlgorithm.java:66) — each path becomes its own
    * splittable Hadoop RDD and the union is a zero-shuffle concatenation
    * of their partitions.
    *
    * @param maxSplitSize optional `mapreduce.input.fileinputformat
    *                     .split.maxsize` override (tests use a small value
    *                     to force many splits on a small file). */
  /** Split a comma-joined path list on commas OUTSIDE `{}` braces only,
    * so Hadoop brace-glob paths (`/data/{a,b}.xml`) — which
    * `newAPIHadoopFile` accepts as a single path — survive intact while
    * the reference's comma-joined `addInputPaths` lists still split. */
  private[graft] def splitPaths(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    var depth = 0
    s.foreach {
      case '{' => depth += 1; sb.append('{')
      case '}' => depth = math.max(0, depth - 1); sb.append('}')
      case ',' if depth == 0 => out += sb.toString; sb.setLength(0)
      case c => sb.append(c)
    }
    out += sb.toString
    out.iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  def readPages(spark: SparkSession, path: String,
                maxSplitSize: Long = -1L): DataFrame = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", "</page>")
    val paths = splitPaths(path)
    require(paths.nonEmpty, s"readPages: no input path in '$path'")
    if (maxSplitSize > 0)
      conf.setLong("mapreduce.input.fileinputformat.split.maxsize", maxSplitSize)
    else {
      // SCALE-ADAPTIVE split sizing (r17, guide §2/§6): the default local
      // block size handed a multi-GB dump to ~10 map tasks, so the parse —
      // the dominant per-leg cost — used a third of a 32-core session.
      // Target ~2 waves of tasks per core, clamped to [16 MB, 128 MB] so
      // small inputs keep one split and huge ones keep split overhead
      // amortized. Derived from the INPUT size, not the core count alone —
      // the same formula yields the old behavior on sf-scale fixtures.
      val lens = paths.map(contentLength(conf, _))
      if (lens.forall(_.isDefined)) {
        val waves = 2L * math.max(1, spark.sparkContext.defaultParallelism)
        val adaptive = math.max(16L << 20, math.min(128L << 20, lens.flatten.sum / waves))
        conf.setLong("mapreduce.input.fileinputformat.split.maxsize", adaptive)
      }
    }
    val records = paths.map { p =>
      spark.sparkContext
        .newAPIHadoopFile(p, classOf[TextInputFormat],
          classOf[LongWritable], classOf[Text], conf)
        .map { case (_, t) => t.toString } // Text buffers are reused — copy out
    }.reduce(_ union _)
    import spark.implicits._
    records.toDF("value")
      .select(concat(col("value"), lit("</page>")).as("value"))
  }

  /** Bytes under `p` from its own filesystem, or None — logged, so the
    * fallback to default input splits is visible — when its metadata
    * cannot be read (a glob, a missing path, an unreachable store). */
  private def contentLength(conf: org.apache.hadoop.conf.Configuration,
                            p: String): Option[Long] =
    try {
      val hp = new org.apache.hadoop.fs.Path(p)
      Some(hp.getFileSystem(conf).getContentSummary(hp).getLength)
    } catch {
      case e: Exception =>
        log.warn(s"readPages: cannot size input '$p' ($e); using default input splits")
        None
    }

  /** S2 — `key \t value` text sink. Every column after the first is
    * concatenated into the value with the same tab separator the
    * reference's TextOutputFormat uses. */
  def writeKV(df: DataFrame, path: String): Unit = {
    val cols = df.columns
    require(cols.length >= 2, s"KV sink needs >= 2 columns, got ${cols.mkString(",")}")
    LocalFs.writer(df.select(concat_ws("\t", cols.map(c => col(c).cast("string")): _*).as("value")))
      .mode("overwrite").text(path)
  }

  /** S2 round-trip reader for two-column KV output (positional split on
    * the first tab, like the reference's own re-parse at
    * PageRankAlgorithm.java:326-341 — but schema-explicit). */
  def readKV(spark: SparkSession, path: String,
             keyName: String = "key", valueName: String = "value"): DataFrame =
    spark.read.text(path)
      .select(
        substring_index(col("value"), "\t", 1).as(keyName),
        expr("substring(value, instr(value, '\t') + 1)").as(valueName))
}
