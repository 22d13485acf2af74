package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog

/** Spark jobs per txlog statement on a 100-segment, change-feed-enabled
  * table shaped like the `txlog_wiki` tape: scans plan from the
  * schema and part files the log records, so building a scan starts no
  * listing job and no footer-inference job. The counts are pinned per
  * statement; a change that adds jobs to a statement shows here. */
class TxLogScanJobsSpec extends SparkTestBase {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-txjobs").toString

  /** (bucket, doc_id, rev, text) rows, bucket = doc_id mod 100. */
  private def docs(ids: Seq[Long], rev: Int) =
    spark.createDataFrame(ids.map(id => ((id % 100).toInt, id, rev, s"text $id")))
      .toDF("bucket", "doc_id", "rev", "text")

  test("per-statement job counts on a 100-segment CDF table; scan plans start none") {
    val dir = freshDir()
    val stats = Seq("bucket")
    TxLog.append(docs(0L until 5000L, 0).repartition(4), dir)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def count(name: String)(body: => Any): Unit = jobs(name) = countOwnJobs(body)._2
    count("optimize")(TxLog.optimize(spark, dir, Seq("bucket"), 100, statsCols = stats))
    assert(TxLog.liveSegments(dir).size == 100)
    TxLog.enableChangeDataFeed(dir)
    count("deleteRange")(
      TxLog.deleteRange(spark, dir, "bucket", "7", "7", statsCols = stats))
    // 60 edits of existing docs across 60 buckets plus 20 new docs
    val edits = docs((0L until 60L).map(_ * 83 % 5000) ++ (5000L until 5020L), 1)
      .filter(col("bucket") =!= 7)
    count("merge")(TxLog.merge(spark, dir, edits, "doc_id", statsCols = stats))
    count("update")(TxLog.update(spark, dir, "bucket = 42",
      Map("rev" -> "rev + 10"), statsCols = stats))
    count("deleteMoR")(TxLog.deleteMoR(spark, dir, "bucket = 77 AND doc_id % 3 = 0"))
    // building the scans every DML statement plans — the union-schema
    // DV-applied read of all live segments and the first-segment read —
    // reads nothing: no listing, no schema inference
    count("scan plans") {
      TxLog.read(spark, dir, mergeSchema = true).queryExecution.executedPlan
      TxLog.read(spark, dir).queryExecution.executedPlan
    }
    // so does building the change feeds over every commit: add sets,
    // cdc sidecars and deletion-vector pre-images plan from the log
    count("change feed plans") {
      TxLog.readChangeFeed(spark, dir, 0).queryExecution.executedPlan
      TxLog.readChangesSince(spark, dir, 0).queryExecution.executedPlan
    }
    // an update whose predicate the stats rule out entirely resolves
    // the table schema and triages from the log alone
    count("no-match update")(TxLog.update(spark, dir, "bucket = 1000",
      Map("rev" -> "rev + 1")))
    // before scans planned from the log (listing and footer-inference
    // jobs included): optimize 8, deleteRange 5, merge 33, update 12,
    // deleteMoR 6, scan plans 4, no-match update 2; merge then ran 23
    // while a limit(1).count() (two jobs) probed its insert sidecar for
    // rows, which the sidecar's footers now answer. The change feed
    // plans started 0 jobs before they planned from the log too: each
    // listing here stays under Spark's parallel-listing threshold
    val want = Map("optimize" -> 5, "deleteRange" -> 3, "merge" -> 21,
      "update" -> 7, "deleteMoR" -> 3, "scan plans" -> 0,
      "change feed plans" -> 0, "no-match update" -> 0)
    assert(jobs.toMap == want, s"jobs per statement: $jobs")
    // the statements did what the tape model says
    val got = TxLog.read(spark, dir)
    assert(got.filter("bucket = 7").isEmpty)
    assert(got.filter("doc_id >= 5000").count() == 19) // 5007 sits in bucket 7
    assert(got.filter("bucket = 42").agg(min("rev")).head().getInt(0) >= 10)
    assert(got.filter("bucket = 77 AND doc_id % 3 = 0").isEmpty)
  }

  test("the stream's added-column drift guard reads recorded schemas: no job") {
    val dir = freshDir()
    TxLog.append(docs(0L until 10L, 0), dir)
    TxLog.append(docs(10L until 20L, 0).withColumn("extra", lit("x")), dir)
    val segs = TxLog.liveSegments(dir)
    // the stream's start-time schema: the first segment's, no `extra`
    val start = TxLog.read(spark, dir).schema
    val guard = graft.sources.txlog.TxLogSource.addedColumnDriftGuard(
      spark, dir, TxLog.state(dir), _: Seq[String], start)
    val (_, quiet) = countOwnJobs(guard(segs.take(1)))
    val (e, drifted) = countOwnJobs(intercept[IllegalStateException](guard(segs)))
    assert(e.getMessage.contains("schema changed mid-stream") &&
      e.getMessage.contains("extra"), e.getMessage)
    // before the guard read the record: one footer-inference job each
    // (1, 1)
    assert((quiet, drifted) == ((0, 0)), s"jobs: $quiet, $drifted")
  }
}
