package graft

import graft.sources.TxLog

/** A table written before the log recorded scan metadata (the
  * `txlog_legacy` fixture, FIXTURES.md §4): three appended segments,
  * the third with an added column, and a merge-on-read delete whose
  * deletion vector names its rows by absolute file path. Its segments
  * carry no `schema=`/`file=` record, so every scan of them takes the
  * listing-and-inference path — per segment, next to recorded ones. */
class TxLogLegacySpec extends SparkTestBase {
  import spark.implicits._

  /** A fresh copy of the fixture. Its deletion vector names its rows by
    * the absolute paths of the directory the fixture was written in;
    * reads match them by segment and part file wherever the copy lives. */
  private def install(): String = {
    val src = new java.io.File(getClass.getResource("/txlog_legacy").toURI)
    val dir = java.nio.file.Files.createTempDirectory("graft-txlegacy").toFile
    org.apache.commons.io.FileUtils.copyDirectory(src, dir)
    dir.getPath
  }

  private def rows(dir: String, mergeSchema: Boolean) =
    TxLog.read(spark, dir, mergeSchema = mergeSchema).orderBy("id")
      .collect().map(_.toSeq).toSeq

  test("the legacy table reads unchanged: evolved schema, deletion vector applied") {
    val dir = install()
    assert(TxLog.headVersion(dir) == 3 && TxLog.liveSegments(dir).size == 3)
    assert(TxLog.recordedFilesOf(dir).isEmpty, "the fixture predates scan records")
    val base = Seq((1L, "a", 100L), (2L, "b", 200L), (3L, "c", 300L), (4L, "d", 400L),
      (5L, "e", 500L), (7L, "g", 700L), (8L, "h", 800L), (9L, "i", 900L),
      (10L, "j", 1000L))
    assert(rows(dir, mergeSchema = true) == base.map { case (i, n, c) =>
      Seq(i, n, c, if (i >= 9) "new" else null) })
    // without mergeSchema the first segment's schema decides
    assert(rows(dir, mergeSchema = false) == base.map { case (i, n, c) => Seq(i, n, c) })
    // the DSv2 read matches the copy's tombstones the same way
    assert(spark.read.format("txlog").load(dir).orderBy("id").collect()
      .map(_.toSeq).toSeq == rows(dir, mergeSchema = true))
    assert(TxLog.readRange(spark, dir, "id", Some("2"), Some("3")).count() == 2)
  }

  test("the change feeds and the stream's drift guard read the unrecorded segments") {
    val dir = install()
    val all = ('a' to 'j').zipWithIndex.map { case (n, i) => (i + 1L, n.toString, (i + 1L) * 100) }
    def version(id: Long) = if (id <= 4) 0L else if (id <= 8) 1L else 2L
    def note(id: Long) = if (id >= 9) "new" else null
    // add sets as written: the deletion vector does not apply to them
    val since = TxLog.readChangesSince(spark, dir, -1)
    assert(since.columns.toSeq ==
      Seq("id", "name", "cents", "_commit_version", "_commit_op", "note"))
    assert(since.orderBy("id").collect().map(_.toSeq).toSeq == all.map { case (i, n, c) =>
      Seq(i, n, c, version(i), "append", note(i)) })
    // the row-level feed adds the merge-on-read delete's pre-image
    val feed = TxLog.readChangeFeed(spark, dir, -1)
    assert(feed.columns.toSeq == Seq("id", "name", "cents", "note",
      "_commit_version", "_commit_op", "_change_type"))
    assert(feed.orderBy("id", "_commit_version").collect().map(_.toSeq).toSeq ==
      all.flatMap { case (i, n, c) =>
        Seq(Seq(i, n, c, note(i), version(i), "append", "insert")) ++
          (if (i == 6) Seq(Seq(i, n, c, null, 3L, "delete_mor", "delete")) else Nil)
      })
    // a stream started on the first segment's schema sees `note` arrive
    val e = intercept[IllegalStateException](
      graft.sources.txlog.TxLogSource.addedColumnDriftGuard(spark, dir,
        TxLog.state(dir), TxLog.liveSegments(dir), TxLog.read(spark, dir).schema))
    assert(e.getMessage.contains("schema changed mid-stream") &&
      e.getMessage.contains("note"), e.getMessage)
  }

  test("merge and update on a copy of the legacy table: recorded and legacy segments mix") {
    val dir = install()
    val legacy = TxLog.liveSegments(dir).toSet
    TxLog.merge(spark, dir,
      Seq((2L, "b", 250L), (11L, "k", 1100L)).toDF("id", "name", "cents"), "id")
    TxLog.update(spark, dir, "id = 5", Map("cents" -> "cents + 1"))
    val live = TxLog.liveSegments(dir)
    val recorded = TxLog.recordedFilesOf(dir)
    // the rewritten segments are recorded; the untouched legacy ones
    // still are not, and scans read both kinds together
    assert(recorded.nonEmpty && recorded.keySet == live.filterNot(legacy).toSet)
    assert(live.exists(legacy))
    val want = Seq((1L, "a", 100L), (2L, "b", 250L), (3L, "c", 300L), (4L, "d", 400L),
      (5L, "e", 501L), (7L, "g", 700L), (8L, "h", 800L), (9L, "i", 900L),
      (10L, "j", 1000L), (11L, "k", 1100L))
    assert(rows(dir, mergeSchema = true) == want.map { case (i, n, c) =>
      Seq(i, n, c, if (i == 9 || i == 10) "new" else null) })
    assert(TxLog.read(spark, dir).schema.fieldNames.toSeq ==
      spark.read.parquet(s"$dir/${live.head}").schema.fieldNames.toSeq)
    // a recorded scan names the files a listing names, so the legacy
    // deletion vector still lines up with the rows it deletes
    assert(TxLog.read(spark, dir).inputFiles.toSet ==
      spark.read.parquet(live.map(s => s"$dir/$s"): _*).inputFiles.toSet)
  }
}
