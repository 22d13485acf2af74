package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.index.InvertedIndex
import graft.pagerank.PageRank
import graft.parse.WikiParser
import graft.pipelines.WikiPipelines
import graft.sources.{TextKV, TxLog}

/** One generated input: `<dir>/<name>.xml` with its expected results. */
final case class Input(dir: Path, name: String, facts: java.util.Properties) {
  def xml: String = dir.resolve(s"$name.xml").toString
  def fact(k: String): Long = facts.getProperty(s"$name.$k").toLong
  def pages: Long = fact("pages")
}

/** A workload's pass, untraced (the library's entry points as a user
  * calls them) or traced (each layer called in turn and materialized),
  * and the check of the pass's output against the generator's oracle. */
trait Workload {
  def pass(spark: SparkSession, in: Input, out: Path, tr: Option[Tracer]): Any
  /** Throws with a description when the pass's output is wrong. */
  def check(in: Input, out: Path, result: Any): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "pagerank_wiki" => PageRankWiki
    case "index_wiki" => IndexWiki
    case "txlog_wiki" => TxLogWiki
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Caches `df` and counts it, so the next layer starts from rows. */
  def mat(tr: Tracer, df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    tr.out(p.count())
    p
  }

  /** Lines of a text sink's part files, in part order. */
  def outputLines(out: Path): Iterator[String] = {
    val parts = Files.list(out)
    val files = try parts.iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString) finally parts.close()
    files.iterator.flatMap { f =>
      val r = Files.newBufferedReader(f, UTF_8)
      Iterator.continually(r.readLine()).takeWhile { l =>
        if (l == null) r.close()
        l != null
      }
    }
  }

  def fail(msg: String): Nothing = throw new IllegalStateException(msg)
}

import Workload._

object PageRankWiki extends Workload {
  private val expected = scala.collection.mutable.HashMap.empty[String, java.util.HashMap[String, java.lang.Double]]

  private def expectedOf(in: Input) = expected.getOrElseUpdate(in.name, {
    val m = new java.util.HashMap[String, java.lang.Double]()
    Files.lines(in.dir.resolve(s"${in.name}.expected"), UTF_8).forEach { l =>
      val tab = l.lastIndexOf('\t')
      m.put(l.substring(0, tab), java.lang.Double.longBitsToDouble(
        java.lang.Long.parseUnsignedLong(l.substring(tab + 1), 16)))
    }
    m
  })

  def pass(spark: SparkSession, in: Input, out: Path, tr: Option[Tracer]): Any = tr match {
    case None =>
      TextKV.writeKV(WikiPipelines.pageRank(spark, in.xml)
        .select(col("title"), col("rank").cast("string")), out.toString)
    case Some(t) =>
      val raw = t("textkv.scan")(mat(t, TextKV.readPages(spark, in.xml)))
      val graph = t("wikiparser.parse")(mat(t, WikiParser.linkGraphFused(raw)))
      val ranks = t("pagerank.run")(mat(t, PageRank.run(graph)))
      val sorted = t("pipelines.sort")(mat(t, ranks.orderBy(desc("rank"), asc("title"))))
      t("textkv.write")(TextKV.writeKV(
        sorted.select(col("title"), col("rank").cast("string")), out.toString))
      Seq(sorted, ranks, graph, raw).foreach(_.unpersist())
  }

  /** Every page once, each rank within 1e-9 relative of the reference
    * recurrence, in rank-descending then title-ascending order. */
  def check(in: Input, out: Path, result: Any): Unit = {
    val exp = expectedOf(in)
    val seen = new java.util.HashSet[String]()
    var prevRank = Double.PositiveInfinity
    var prevTitle = ""
    outputLines(out).foreach { l =>
      val tab = l.lastIndexOf('\t')
      if (tab < 0) fail(s"pagerank: malformed line '$l'")
      val title = l.substring(0, tab)
      val rank = l.substring(tab + 1).toDouble
      val want = exp.get(title)
      if (want == null) fail(s"pagerank: unexpected title '$title'")
      if (!seen.add(title)) fail(s"pagerank: title '$title' written twice")
      if (math.abs(rank - want) > 1e-9 * math.abs(want))
        fail(s"pagerank: '$title' rank $rank, reference $want")
      if (rank > prevRank || (rank == prevRank && title <= prevTitle))
        fail(s"pagerank: '$title' ($rank) out of order after '$prevTitle' ($prevRank)")
      prevRank = rank; prevTitle = title
    }
    if (seen.size != exp.size) fail(s"pagerank: ${seen.size} titles written, ${exp.size} expected")
  }
}

object IndexWiki extends Workload {
  private val expected = scala.collection.mutable.HashMap.empty[String, java.util.HashMap[String, (Long, Long)]]

  private def expectedOf(in: Input) = expected.getOrElseUpdate(in.name, {
    val m = new java.util.HashMap[String, (Long, Long)]()
    Files.lines(in.dir.resolve(s"${in.name}.expected"), UTF_8).forEach { l =>
      val f = l.split('\t')
      m.put(f(0), (f(1).toLong, f(2).toLong))
    }
    m
  })

  def pass(spark: SparkSession, in: Input, out: Path, tr: Option[Tracer]): Any = tr match {
    case None =>
      TextKV.writeKV(WikiPipelines.invertedIndex(spark, in.xml), out.toString)
    case Some(t) =>
      val raw = t("textkv.scan")(mat(t, TextKV.readPages(spark, in.xml)))
      val docs = t("wikiparser.parse")(mat(t, WikiParser.docs(WikiParser.pagesFused(raw))))
      val post = t("index.postings")(mat(t,
        InvertedIndex.postingStrings(docs, "doc_id", "text", salted = true)))
      val sorted = t("pipelines.sort")(mat(t, post.orderBy("word")))
      t("textkv.write")(TextKV.writeKV(sorted, out.toString))
      Seq(sorted, post, docs, raw).foreach(_.unpersist())
  }

  /** Every word once, in ascending order, with its ids ascending and its
    * occurrence count and id sequence equal to the tokenizer oracle's. */
  def check(in: Input, out: Path, result: Any): Unit = {
    val exp = expectedOf(in)
    var prev = ""
    var n = 0
    outputLines(out).foreach { l =>
      val tab = l.indexOf('\t')
      if (tab < 0) fail(s"index: malformed line '${l.take(80)}'")
      val word = l.substring(0, tab)
      if (n > 0 && word <= prev) fail(s"index: '$word' out of order after '$prev'")
      val want = exp.get(word)
      if (want == null) fail(s"index: unexpected word '$word'")
      val p = new Reference.Posting
      var i = tab + 1
      while (i < l.length) {
        var j = l.indexOf(',', i)
        if (j < 0) j = l.length
        p.add(java.lang.Long.parseLong(l, i, j, 10))
        i = j + 1
      }
      if (!p.sorted) fail(s"index: ids of '$word' not ascending")
      if ((p.count, p.hash) != want)
        fail(s"index: '$word' has ${p.count} ids, oracle ${want._1} (or the ids differ)")
      prev = word; n += 1
    }
    if (n != exp.size) fail(s"index: $n words written, ${exp.size} expected")
  }
}

/** The txlog statement tape (see [[Reference.Tape]] for its arguments).
  * Each pass starts from an empty table. */
object TxLogWiki extends Workload {
  import Reference.Tape._

  final case class Result(slices: Int, segmentsAfterOptimize: Int, slice: Array[(Int, Long, Int, String)],
                          rows: Array[(Int, Long, Int, String)])

  private val stats = Seq("bucket")

  /** Table rows of parsed pages: (bucket, doc_id, rev, text). */
  private def rows(raw: DataFrame, rev: Int): DataFrame =
    WikiParser.docs(WikiParser.pagesFused(raw))
      .select(pmod(col("doc_id"), lit(Reference.Buckets)).cast("int").as("bucket"),
        col("doc_id"), lit(rev).as("rev"), col("text"))

  private def table(spark: SparkSession, xml: String, rev: Int): DataFrame =
    rows(TextKV.readPages(spark, xml), rev)

  private def rowsOf(df: DataFrame): Array[(Int, Long, Int, String)] =
    df.select("bucket", "doc_id", "rev", "text").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getString(3)))

  def pass(spark: SparkSession, in: Input, out: Path, tr: Option[Tracer]): Any = {
    val dir = out.toString
    Gen.deleteTree(out)
    def span[T](name: String)(body: => T): T = tr.fold(body)(t => t(name)(body))
    val cached = tr.toSeq.flatMap { t =>
      val raw = t("textkv.scan")(mat(t, TextKV.readPages(spark, in.xml)))
      Seq(t("wikiparser.parse")(mat(t, rows(raw, 0))), raw)
    }
    val docs = cached.headOption.getOrElse(table(spark, in.xml, 0))
    span("txlog.append")(TxLog.append(docs, dir))
    val slices = Reference.Tape.slices(in.fact("docs"))
    span("txlog.optimize")(TxLog.optimize(spark, dir, Seq("bucket"), slices, statsCols = stats))
    val segs = TxLog.liveSegments(dir).size
    TxLog.enableChangeDataFeed(dir)
    span("txlog.delete")(DeletedBuckets.foreach(b =>
      TxLog.deleteRange(spark, dir, "bucket", b.toString, b.toString, statsCols = stats)))
    val edits = table(spark, in.dir.resolve(s"${in.name}_edits.xml").toString, 1)
    span("txlog.merge")(TxLog.merge(spark, dir, edits, "doc_id", statsCols = stats))
    span("txlog.update")(TxLog.update(spark, dir, s"bucket = $UpdateBucket",
      Map("rev" -> s"rev + $UpdateAdd"), statsCols = stats))
    span("txlog.delete_mor")(TxLog.deleteMoR(spark, dir,
      s"bucket = $MorBucket AND doc_id % $MorMod = 0"))
    span("txlog.vacuum") {
      val reclaimed = TxLog.vacuum(dir, keepVersions = 2)
      tr.foreach(_.out(reclaimed.size.toLong))
    }
    val slice = span("txlog.read_pruned") {
      val s = rowsOf(TxLog.readWhere(spark, dir, s"bucket = $PrunedBucket"))
      tr.foreach(_.out(s.length.toLong))
      s
    }
    tr.foreach { t =>
      val segsRead = TxLog.readWhere(spark, dir, s"bucket = $PrunedBucket").inputFiles
        .map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).distinct.length
      t.note("txlog.read_pruned.files_frac", segsRead.toDouble / TxLog.liveSegments(dir).size)
    }
    cached.foreach(_.unpersist())
    Result(slices, segs, slice, rowsOf(TxLog.read(spark, dir)))
  }

  private def sum(rows: Array[(Int, Long, Int, String)]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map { case (b, id, rev, t) =>
      Reference.rowHash(b, id, rev, t) }.sum)

  /** At least 100 slices after optimize; the full read and the pruned
    * slice match the tape model's row counts and content checksums. */
  def check(in: Input, out: Path, result: Any): Unit = {
    val r = result.asInstanceOf[Result]
    if (r.segmentsAfterOptimize < math.min(100, r.slices))
      fail(s"txlog: optimize into ${r.slices} left ${r.segmentsAfterOptimize} slices")
    val got = sum(r.rows)
    val want = (in.fact("rows"), in.fact("checksum"))
    if (got != want) fail(s"txlog: table has (rows, checksum) $got, tape model $want")
    if (r.slice.exists(_._1 != PrunedBucket)) fail("txlog: pruned read returned rows of another bucket")
    val gotSlice = sum(r.slice)
    val wantSlice = (in.fact("slice_rows"), in.fact("slice_checksum"))
    if (gotSlice != wantSlice) fail(s"txlog: pruned slice $gotSlice, tape model $wantSlice")
  }
}
