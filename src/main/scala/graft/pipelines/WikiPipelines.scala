package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.InvertedIndex
import graft.pagerank.PageRank
import graft.parse.WikiParser
import graft.sources.TextKV

/** End-to-end pipelines mirroring the reference's two CLI entry points —
  * the surface a user of the reference would switch to:
  *
  *  - `PageRankAlgorithm <in> <out>` (ref: PageRankAlgorithm.java:43-134,
  *    13 MR jobs) → [[WikiPageRank]]: one Spark job graph, same output
  *    shape `<out>` of `title \t rank` sorted by rank descending;
  *  - `InvertedIndex <in> <out>` (ref: InvertedIndex.java:36-59) →
  *    [[WikiInvertedIndex]]: `word \t id1,id2,…` (ids per occurrence,
  *    sorted — SURVEY.md §7.5 determinism divergence).
  *
  * Argument validation replaces the reference's log-and-NPE behavior
  * (SURVEY.md §3.4) with a fail-fast message.
  */
object WikiPipelines {

  /** XML text → (title, rank) ranked relation (the 13-job pipeline as one
    * lazy plan + the iterative loop). Reads via the SPLITTABLE
    * `</page>`-delimited record reader, so a single multi-GB dump fans out
    * across executors (the reference's line-split property restored;
    * `TextKV.readWholeFiles` would make one task per file), and parses
    * with the fused Generator UDTF (one forward scan per page instead of
    * four regex re-scans; identical semantics, WikiPageParseSpec). */
  def pageRank(spark: SparkSession, inPath: String, iters: Int = 10,
               damping: Double = 0.85): DataFrame =
    PageRank.ranked(
      WikiParser.linkGraphFused(TextKV.readPages(spark, inPath)), iters, damping)

  /** XML text → (word, doc_ids) posting relation (splittable fused read).
    * Two shuffles: the posting build's hash repartition on word (one row
    * per distinct (word, doc) pair, a stop-word's run streamed rather
    * than collected — InvertedIndex.postingStrings) and the final range
    * sort on word. */
  def invertedIndex(spark: SparkSession, inPath: String): DataFrame = {
    val pages = WikiParser.pagesFused(TextKV.readPages(spark, inPath))
    InvertedIndex.postingStrings(WikiParser.docs(pages), "doc_id", "text")
      .orderBy("word")
  }

  /** XML text → curated-corpus relation: the TRAINING-PIPELINE path
    * (quality metrics + language ID + exact-dedup keeper in one scan —
    * `TextAnalysis.curate`) over the same splittable dump ingest the
    * reference pipelines use. The GB-scale form of the `curate_corpus`
    * key; driven by Bench's dump leg. */
  def curate(spark: SparkSession, inPath: String): DataFrame = {
    val pages = WikiParser.pagesFused(TextKV.readPages(spark, inPath))
    graft.text.TextAnalysis.curate(WikiParser.docs(pages), "doc_id", "text")
  }

  private[pipelines] def requireArgs(args: Array[String], usage: String): Unit =
    require(args.length >= 2, s"usage: $usage <input-path> <output-path>")

  private[pipelines] def session(app: String): SparkSession = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_GRAFT_MASTER",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"))
    .appName(app)
    .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    .getOrCreate()
}

/** CLI parity with `PageRankAlgorithm <in> <out>`. */
object WikiPageRank {
  /** The reference's sort job writes the final ranked output to
    * `<out>_sortedOutput` (ref: PageRankAlgorithm.java:121-122), with
    * `<out>_<i>` used only for the deleted inter-iteration dirs — a
    * switching user's downstream tooling globs that exact dir name. */
  private[pipelines] def sortedOutputDir(out: String): String =
    out + "_sortedOutput"

  def main(args: Array[String]): Unit = {
    WikiPipelines.requireArgs(args, "WikiPageRank")
    val spark = WikiPipelines.session("WikiPageRank")
    TextKV.writeKV(
      WikiPipelines.pageRank(spark, args(0))
        .select(col("title"), col("rank").cast("string")),
      sortedOutputDir(args(1)))
  }
}

/** CLI parity with `InvertedIndex <in> <out>`. */
object WikiInvertedIndex {
  def main(args: Array[String]): Unit = {
    WikiPipelines.requireArgs(args, "WikiInvertedIndex")
    val spark = WikiPipelines.session("WikiInvertedIndex")
    TextKV.writeKV(WikiPipelines.invertedIndex(spark, args(0)), args(1))
  }
}
