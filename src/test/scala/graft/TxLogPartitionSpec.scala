package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog

/** HIVE-STYLE PARTITIONED txlog tables (`CREATE TABLE … PARTITIONED
  * BY` / [[TxLog.setPartitionColumns]]): the spec is a log-recorded
  * governance commit; every row-adding write splits its batch into one
  * value-labeled segment per present partition tuple with exact
  * (min=max) stats, so the EXISTING stats triage gives exact partition
  * pruning, and partition-predicate DELETE / REPLACE WHERE drop whole
  * partitions from METADATA (zero rows rewritten — listener-pinned).
  * The partition column stays ordinary DATA in every file, so split
  * and unsplit segments (streaming ingest) co-scan in one job and
  * maintenance re-splits them. */
class TxLogPartitionSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-txpart").toString

  private def rows(days: Range, perDay: Int = 4): org.apache.spark.sql.DataFrame =
    days.flatMap(d => (0 until perDay).map(i =>
      (d.toLong * 100 + i, f"2024-01-$d%02d", i.toLong * 10)))
      .toDF("id", "day", "cents")

  private def content(dir: String): Seq[(Long, String, Long)] =
    TxLog.read(spark, dir).select("id", "day", "cents")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq

  test("the spec is set-once-on-empty, idempotent, and loud after data") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day"))
    assert(TxLog.partitionColumnsOf(dir) == Seq("day"))
    // idempotent re-declare (CREATE OR REPLACE replays it)
    TxLog.setPartitionColumns(dir, Seq("day"))
    val e = intercept[Exception](TxLog.setPartitionColumns(dir, Seq("id")))
    assert(e.getMessage.contains("immutable"))
    val d2 = freshDir()
    TxLog.append(rows(1 to 2), d2)
    val late = intercept[Exception](TxLog.setPartitionColumns(d2, Seq("day")))
    assert(late.getMessage.contains("before the first write"))
  }

  test("appends split per tuple: value-labeled segments, exact stats, read parity") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day"))
    TxLog.append(rows(1 to 3), dir)
    val segs = TxLog.liveSegments(dir)
    assert(segs.size == 3, s"one segment per day, got $segs")
    assert(segs.forall(_.matches("seg-[0-9a-f-]{36}-day=2024-01-0[123]")),
      s"value-labeled names, got $segs")
    // exact min=max partition stats → the triage prunes to one segment
    val (cands, pruned) = TxLog.pruneRange(dir, "day",
      Some("2024-01-02"), Some("2024-01-02"))
    assert(cands.size == 1 && pruned.size == 2,
      s"partition pruning must be exact, got cands=$cands")
    assert(cands.head.contains("day=2024-01-02"))
    // the partition column is DATA: content round-trips
    val twin = freshDir()
    TxLog.append(rows(1 to 3), twin)
    assert(content(dir) == content(twin))
    // a second append to an existing day adds a NEW segment (Delta's
    // file-per-partition granularity, not a partition rewrite)
    TxLog.append(rows(2 to 2), dir)
    assert(TxLog.liveSegments(dir).count(_.contains("day=2024-01-02")) == 2)
  }

  test("a batch missing the partition column fails loud") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day"))
    val e = intercept[Exception](
      TxLog.append(Seq((1L, 2L)).toDF("id", "cents"), dir))
    assert(e.getMessage.contains("partition column"))
  }

  test("a CHECK violation fails a partitioned append and leaves nothing behind") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day"))
    TxLog.append(rows(1 to 2, perDay = 3), dir) // cents 0, 10, 20
    TxLog.addConstraint(spark, dir, "cents_cap", "cents < 25")
    val head = TxLog.headVersion(dir)
    def dirs = new java.io.File(dir).list().toSet
    val before = dirs
    val e = intercept[IllegalArgumentException](TxLog.append(rows(3 to 4), dir))
    assert(e.getMessage.contains("cents_cap"), e.getMessage)
    assert(TxLog.headVersion(dir) == head, "no log entry for the failed append")
    assert(dirs == before, s"left behind: ${dirs -- before}")
    assert(content(dir).map(_._1) == Seq(100L, 101L, 102L, 200L, 201L, 202L))
  }

  test("partition-predicate DELETE drops whole segments: zero rows read, zero added") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day"))
    TxLog.append(rows(1 to 4), dir)
    val before = TxLog.liveSegments(dir)
    val doomed = before.filter(_.contains("day=2024-01-03"))
    val head = TxLog.headVersion(dir)
    val (_, read) = countRecordsRead {
      TxLog.delete(spark, dir, "day = '2024-01-03'")
    }
    assert(read == 0,
      s"an all-match partition drop must be metadata-only, read $read rows")
    assert(TxLog.headVersion(dir) == head + 1)
    val after = TxLog.liveSegments(dir)
    assert((before.toSet -- after.toSet) == doomed.toSet,
      "exactly the partition's segments drop")
    assert(after.toSet.subsetOf(before.toSet), "no rewrite segments added")
    assert(content(dir) == content(dir).filterNot(_._2 == "2024-01-03"))
    // a straddling predicate still rewrites, split per partition
    TxLog.delete(spark, dir, "day >= '2024-01-02' AND cents = 0")
    assert(content(dir).count(_._2 == "2024-01-02") == 3)
  }

  test("REPLACE WHERE on a partition: wholesale drop + split incoming") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day"))
    TxLog.append(rows(1 to 3), dir)
    val before = TxLog.liveSegments(dir)
    val incoming = Seq((999L, "2024-01-02", 7L)).toDF("id", "day", "cents")
    TxLog.replaceWhere(spark, dir, "day = '2024-01-02'", incoming)
    val after = TxLog.liveSegments(dir)
    assert(before.filter(_.contains("day=2024-01-02"))
      .forall(s => !after.contains(s)), "old partition segments drop")
    assert(after.exists(s => !before.contains(s) && s.contains("day=2024-01-02")),
      "incoming lands as a value-labeled segment")
    assert(content(dir).filter(_._2 == "2024-01-02") ==
      Seq((999L, "2024-01-02", 7L)))
  }

  test("streaming appends split too: the sink keeps the partition contract") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day"))
    // the foreachBatch-shaped API: each micro-batch splits per tuple
    TxLog.appendStream(rows(1 to 2), dir, batchId = 0L)
    assert(TxLog.liveSegments(dir).forall(_.contains("day=")),
      s"streamed batches must split, got ${TxLog.liveSegments(dir)}")
    // the DEFAULT (v2) sink through writeStream: same contract
    val feed = freshDir()
    rows(3 to 4).coalesce(1).write.mode("overwrite").parquet(feed)
    val q = spark.readStream.schema(spark.read.parquet(feed).schema)
      .parquet(feed + "/*.parquet")
      .writeStream.format("txlog").option("path", dir)
      .option("checkpointLocation", freshDir())
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(TxLog.liveSegments(dir).forall(_.contains("day=")),
      s"the v2 sink must split, got ${TxLog.liveSegments(dir)}")
    assert(content(dir).map(_._2).distinct.size == 4)
    // ...so a partition drop right after streaming ingest is
    // metadata-only, no OPTIMIZE needed first
    val (_, read) = countRecordsRead {
      TxLog.delete(spark, dir, "day = '2024-01-03'")
    }
    assert(read == 0, s"post-ingest partition drop read $read rows")
  }

  test("unsplit (MoR upsert) segments coexist; maintenance re-splits them") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day"))
    TxLog.append(rows(1 to 2), dir)
    // the MoR streaming upsert stays single-segment by design: its
    // appended updates frame spans two days in one unsplit segment
    TxLog.mergeStreamMoR(spark, dir, rows(3 to 4), "id", batchId = 0L)
    val mixed = TxLog.liveSegments(dir)
    assert(mixed.exists(s => !s.contains("day=")), s"unsplit present: $mixed")
    assert(content(dir).map(_._2).distinct.sorted ==
      Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"),
      "split and unsplit segments co-scan in one read")
    // a partition DELETE touching the unsplit segment still lands
    // correctly (it rewrites the straddler instead of metadata-drop)
    TxLog.delete(spark, dir, "day = '2024-01-03'")
    assert(!content(dir).exists(_._2 == "2024-01-03"))
    // compact re-splits to the declared layout
    TxLog.compact(spark, dir)
    val resplit = TxLog.liveSegments(dir)
    assert(resplit.size == 3 && resplit.forall(_.contains("day=")),
      s"maintenance must restore one-segment-per-tuple, got $resplit")
    // ...after which the partition drop is metadata-only again
    val (_, read) = countRecordsRead {
      TxLog.delete(spark, dir, "day = '2024-01-04'")
    }
    assert(read == 0, s"post-compact partition drop read $read rows")
  }

  test("UPDATE and MERGE rewrites preserve the split layout") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day"))
    TxLog.append(rows(1 to 3), dir)
    TxLog.update(spark, dir, "day = '2024-01-02'", Map("cents" -> "cents + 1"))
    assert(TxLog.liveSegments(dir).forall(_.contains("day=")),
      "the update rewrite must stay value-labeled")
    assert(content(dir).filter(_._2 == "2024-01-02").forall(_._3 % 10 == 1))
    // upsert across two partitions: both output segments labeled
    TxLog.merge(spark, dir,
      Seq((101L, "2024-01-01", 5L), (999L, "2024-01-03", 5L))
        .toDF("id", "day", "cents"), "id")
    assert(TxLog.liveSegments(dir).forall(_.contains("day=")))
    assert(content(dir).count(_._3 == 5L) == 2)
  }

  test("SQL: CTAS PARTITIONED BY + pruned SELECT + partition DELETE") {
    val dir = freshDir()
    spark.sql("DROP TABLE IF EXISTS part_sql")
    spark.sql(s"""CREATE TABLE part_sql USING txlog OPTIONS (path '$dir')
      PARTITIONED BY (day) AS
      SELECT id, concat('2024-01-0', CAST(id % 3 + 1 AS STRING)) AS day,
             id * 10 AS cents
      FROM range(30)""")
    assert(TxLog.partitionColumnsOf(dir) == Seq("day"))
    val segs = TxLog.liveSegments(dir)
    assert(segs.size == 3 && segs.forall(_.contains("day=")),
      s"CTAS must split, got $segs")
    // pruned SELECT: only the matching partition dir is scanned
    val (n, read) = countRecordsRead {
      spark.table("part_sql").filter(col("day") === "2024-01-02").count()
    }
    assert(n == 10 && read == 10,
      s"partition filter must scan one partition, read $read rows")
    // partition DELETE via SQL: metadata-only
    val (_, dread) = countRecordsRead {
      spark.sql("DELETE FROM part_sql WHERE day = '2024-01-03'")
    }
    assert(dread == 0, s"SQL partition drop read $dread rows")
    assert(spark.table("part_sql").count() == 20)
    // DESCRIBE surfaces the spec
    val desc = spark.sql("DESCRIBE TABLE part_sql").collect()
      .map(_.getString(0))
    assert(desc.contains("# Partition Information") ||
      desc.contains("Part 0"), s"got: ${desc.mkString("; ")}")
    // non-identity partitioning is loud
    val e = intercept[Exception](spark.sql(
      s"""CREATE TABLE part_bad USING txlog
         OPTIONS (path '${freshDir()}') PARTITIONED BY (bucket(4, id))
         AS SELECT id FROM range(5)"""))
    assert(e.getMessage.contains("identity"), s"got: ${e.getMessage}")
  }

  test("dynamic partition overwrite replaces exactly the batch's partitions") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day"))
    TxLog.append(rows(1 to 3), dir)
    val untouched = TxLog.liveSegments(dir).filter(_.contains("day=2024-01-01"))
    // API: backfill days 2 and 3 — day 1 untouched, segments included
    val batch = Seq((200L, "2024-01-02", 7L), (300L, "2024-01-03", 8L))
      .toDF("id", "day", "cents")
    val (_, read) = countRecordsRead {
      TxLog.overwriteDynamic(spark, dir, batch)
    }
    assert(content(dir) == Seq((100L, "2024-01-01", 0L),
      (101L, "2024-01-01", 10L), (102L, "2024-01-01", 20L),
      (103L, "2024-01-01", 30L), (200L, "2024-01-02", 7L),
      (300L, "2024-01-03", 8L)))
    assert(untouched.forall(TxLog.liveSegments(dir).contains),
      "untouched partitions carry by reference")
    // the only rows read are the batch itself (tuple probe + staging +
    // frame validation) — the dropped partitions never scan
    assert(read <= 3 * batch.count(),
      s"dynamic overwrite must not scan the table, read $read rows")
    // SQL: INSERT OVERWRITE under dynamic mode
    spark.sql("DROP TABLE IF EXISTS part_dyn")
    spark.sql(s"CREATE TABLE part_dyn USING txlog LOCATION '$dir'")
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(mode)
    try {
      spark.conf.set(mode, "dynamic")
      spark.sql("""INSERT OVERWRITE part_dyn
        SELECT 999L AS id, '2024-01-02' AS day, 42L AS cents""")
    } finally spark.conf.set(mode, prev)
    assert(content(dir).filter(_._2 == "2024-01-02") ==
      Seq((999L, "2024-01-02", 42L)))
    assert(content(dir).count(_._2 == "2024-01-01") == 4,
      "dynamic INSERT OVERWRITE must keep the other partitions")
    // static mode stays whole-table-replace (Spark's contract)
    spark.sql("""INSERT OVERWRITE part_dyn
      SELECT 1L AS id, '2024-01-09' AS day, 1L AS cents""")
    assert(content(dir) == Seq((1L, "2024-01-09", 1L)))
    // unpartitioned tables reject dynamic overwrite loud
    val flat = freshDir()
    TxLog.append(rows(1 to 1), flat)
    val e = intercept[Exception](TxLog.overwriteDynamic(spark, flat,
      rows(1 to 1)))
    assert(e.getMessage.contains("PARTITIONED"))
  }

  test("multi-column specs: nested split, conjunct drops, dynamic overwrite") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day", "grp"))
    val batch = Seq(
      (1L, "2024-01-01", "a", 10L), (2L, "2024-01-01", "b", 20L),
      (3L, "2024-01-02", "a", 30L), (4L, "2024-01-02", "b", 40L))
      .toDF("id", "day", "grp", "cents")
    TxLog.append(batch, dir)
    val segs = TxLog.liveSegments(dir)
    assert(segs.size == 4 && segs.forall(s =>
      s.contains("day=") && s.contains("grp=")),
      s"one segment per (day, grp) tuple, got $segs")
    // a full-tuple conjunct delete drops its segment from metadata
    val (_, read) = countRecordsRead {
      TxLog.delete(spark, dir, "day = '2024-01-01' AND grp = 'b'")
    }
    assert(read == 0, s"conjunct tuple drop must be metadata-only, read $read")
    assert(TxLog.liveSegments(dir).size == 3)
    // dynamic overwrite with two key columns: tuple-exact semantics —
    // (01,a) replaces, (02,b) replaces, (02,a) stays (the OR-of-ANDs
    // predicate is scan-classified for multi-column specs, still exact)
    TxLog.overwriteDynamic(spark, dir, Seq(
      (11L, "2024-01-01", "a", 1L), (44L, "2024-01-02", "b", 4L))
      .toDF("id", "day", "grp", "cents"))
    assert(TxLog.read(spark, dir).select("id").as[Long].collect().sorted
      .toSeq == Seq(3L, 11L, 44L),
      "only the touched (day,grp) tuples may be replaced")
  }

  test("defaults fill and clones carry the spec") {
    val dir = freshDir()
    TxLog.setPartitionColumns(dir, Seq("day"))
    TxLog.setColumnDefault(dir, "cents", "42")
    TxLog.append(Seq((1L, "2024-01-01")).toDF("id", "day"), dir)
    assert(content(dir) == Seq((1L, "2024-01-01", 42L)))
    val tgt = freshDir() + "/clone"
    TxLog.cloneShallow(dir, tgt)
    assert(TxLog.partitionColumnsOf(tgt) == Seq("day"),
      "a clone keeps the write-layout contract")
    TxLog.append(rows(2 to 2), tgt)
    assert(TxLog.liveSegments(tgt).exists(_.contains("day=2024-01-02")))
  }
}
