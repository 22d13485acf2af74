package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog

/** COLUMN MAPPING on the TxLog table (Delta's column-mapping mode):
  * rename/drop are metadata-only commits over stable PHYSICAL storage
  * names — reads re-label, writes un-label, and no segment byte ever
  * moves. The spec drives the mapping through every surface that keys
  * on a column name: scans, writes, stats/prune, MoR DML, the change
  * feed, the streaming source, restore, clone, and the checkpoint
  * fold. */
class TxLogRenameSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def sample(lo: Int, hi: Int) =
    spark.range(lo.toLong, hi.toLong).select(col("id"),
      (col("id") % 5).as("k"), (col("id") * 10).as("v"))

  test("rename is metadata-only: zero segments touched, reads re-label") {
    val dir = freshDir("graft-txren")
    TxLog.append(sample(0, 20), dir)
    val liveBefore = TxLog.liveSegments(dir).toSet
    val bytesBefore = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).count()
    TxLog.renameColumn(spark, dir, "v", "value")
    assert(TxLog.commitOp(dir, 1) == "rename_column")
    assert(TxLog.liveSegments(dir).toSet == liveBefore,
      "rename must not add or rewrite any segment")
    val bytesAfter = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(bytesAfter == bytesBefore, "rename must write zero data files")
    val out = TxLog.read(spark, dir)
    assert(out.columns.toSeq == Seq("id", "k", "value"))
    assert(out.agg(sum("value")).head().getLong(0) ==
      (0 until 20).map(_ * 10L).sum)
    // time travel: the PRE-rename version reads under its THEN-name
    assert(TxLog.read(spark, dir, asOf = 0).columns.toSeq ==
      Seq("id", "k", "v"))
  }

  test("writes after a rename store PHYSICAL names; logical round trip exact") {
    val dir = freshDir("graft-txren")
    TxLog.append(sample(0, 10), dir)
    TxLog.renameColumn(spark, dir, "v", "value")
    // append under the LOGICAL name
    TxLog.append(spark.range(10L, 20L).select(col("id"), (col("id") % 5).as("k"),
      (col("id") * 10).as("value")), dir)
    // the new segment's FOOTER must carry the physical name `v` — one
    // uniform physical schema across pre- and post-rename segments
    val newSeg = (TxLog.liveSegments(dir).toSet --
      TxLog.liveSegments(dir, 0).toSet).head
    val footer = spark.read.parquet(s"$dir/$newSeg").schema.fieldNames.toSeq
    assert(footer == Seq("id", "k", "v"),
      s"segment must store physical names, got $footer")
    val out = TxLog.read(spark, dir)
    assert(out.columns.toSeq == Seq("id", "k", "value"))
    assert(out.count() == 20 && out.agg(sum("value")).head().getLong(0) ==
      (0 until 20).map(_ * 10L).sum)
    // writing under the hidden PHYSICAL name fails loud
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark.range(0L, 1L).select(col("id"), (col("id") % 5).as("k"),
        lit(0L).as("v")), dir)
    }
    assert(e.getMessage.contains("physical"), s"wrong error: $e")
  }

  test("stats and pruning survive a rename (old and new segments, one index)") {
    val dir = freshDir("graft-txren")
    TxLog.appendWithStats(spark, sample(0, 100), dir, Seq("v"))
    TxLog.renameColumn(spark, dir, "v", "value")
    // post-rename stats recorded under the LOGICAL name map to the
    // same physical key as the pre-rename index
    TxLog.appendWithStats(spark,
      spark.range(100L, 200L).select(col("id"), (col("id") % 5).as("k"),
        (col("id") * 10).as("value")), dir, Seq("value"))
    val (kept, pruned) = TxLog.pruneRange(dir, "value", Some("0"), Some("990"))
    assert(pruned.nonEmpty && kept.nonEmpty,
      s"range prune on the renamed column must use both segments' stats " +
        s"(kept=${kept.size}, pruned=${pruned.size})")
    val got = TxLog.readRange(spark, dir, "value", Some("0"), Some("990"))
    assert(got.count() == 100)
  }

  test("MoR DML works in logical terms after a rename") {
    val dir = freshDir("graft-txren")
    TxLog.append(sample(0, 20), dir)
    TxLog.renameColumn(spark, dir, "v", "value")
    TxLog.deleteMoR(spark, dir, "value >= 150")          // ids 15..19
    TxLog.updateMoR(spark, dir, "id < 5", Map("value" -> "value + 1"))
    val rows = TxLog.read(spark, dir).select("id", "value")
      .as[(Long, Long)].collect().toMap
    assert(rows.size == 15)
    assert((0L until 5L).forall(i => rows(i) == i * 10 + 1))
    assert((5L until 15L).forall(i => rows(i) == i * 10))
    // CoW merge on the renamed column as key payload
    TxLog.merge(spark, dir,
      Seq((0L, 0L, 999L)).toDF("id", "k", "value"), "id")
    assert(TxLog.read(spark, dir).filter(col("id") === 0)
      .select("value").head().getLong(0) == 999L)
  }

  test("drop hides the column; restore resurrects it; same-name re-add is fresh") {
    val dir = freshDir("graft-txren")
    TxLog.append(sample(0, 10), dir)            // v0
    TxLog.dropColumn(spark, dir, "v")           // v1
    assert(TxLog.read(spark, dir).columns.toSeq == Seq("id", "k"))
    // time travel pre-drop still shows the data
    assert(TxLog.read(spark, dir, asOf = 0).columns.contains("v"))
    // a NEW column under the freed logical name is a fresh physical col
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark.range(10L, 12L).select(col("id"),
        (col("id") % 5).as("k"), lit(1L).as("v")), dir)
    }
    assert(e.getMessage.contains("physical"),
      s"re-using a dropped physical name must fail loud: $e")
    // restore to v0 undoes the drop
    TxLog.restore(dir, 0)
    val out = TxLog.read(spark, dir)
    assert(out.columns.toSeq == Seq("id", "k", "v"))
    assert(out.agg(sum("v")).head().getLong(0) == (0 until 10).map(_ * 10L).sum)
  }

  test("restore rolls a rename back; rename-to-original clears the mapping") {
    val dir = freshDir("graft-txren")
    TxLog.append(sample(0, 10), dir)            // v0
    TxLog.renameColumn(spark, dir, "v", "value") // v1
    TxLog.restore(dir, 0)                        // v2: label rolls back
    assert(TxLog.read(spark, dir).columns.toSeq == Seq("id", "k", "v"))
    TxLog.renameColumn(spark, dir, "v", "value2") // v3
    TxLog.renameColumn(spark, dir, "value2", "v") // v4: back to original
    assert(TxLog.read(spark, dir).columns.toSeq == Seq("id", "k", "v"))
    // cleared mapping = plain writes under the original name admit again
    TxLog.append(sample(10, 12), dir)
    assert(TxLog.read(spark, dir).count() == 12)
  }

  test("rename validation: unknown source, collision, self-rename fail loud") {
    val dir = freshDir("graft-txren")
    TxLog.append(sample(0, 5), dir)
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, dir, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, dir, "v", "k") // aliases two columns
    }
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, dir, "v", "v")
    }
    intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, dir, "nope")
    }
  }

  test("change feed and streaming source surface LOGICAL names after a rename") {
    val dir = freshDir("graft-txren")
    TxLog.append(sample(0, 10), dir)
    TxLog.renameColumn(spark, dir, "v", "value")
    TxLog.deleteMoR(spark, dir, "value >= 80")
    val cdf = TxLog.readChangeFeed(spark, dir, fromVersion = -1)
    assert(cdf.columns.contains("value") && !cdf.columns.contains("v"))
    val byType = cdf.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("insert" -> 10L, "delete" -> 2L))
    // streaming source (both modes) re-labels each batch
    val q = spark.readStream.format("txlog").option("path", dir)
      .option("changeFeed", "true").load()
      .groupBy("_change_type").agg(sum("value").as("sv"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("txren_cdf").start()
    try q.processAllAvailable() finally q.stop()
    val sv = spark.table("txren_cdf").as[(String, Long)].collect().toMap
    assert(sv("insert") == (0 until 10).map(_ * 10L).sum)
    assert(sv("delete") == 80L + 90L)
    val qa = spark.readStream.format("txlog").option("path", dir).load()
      .writeStream.format("memory").queryName("txren_adds").start()
    try qa.processAllAvailable() finally qa.stop()
    val adds = spark.table("txren_adds")
    assert(adds.columns.toSeq ==
      Seq("id", "k", "value", "_commit_version", "_commit_op"))
    assert(adds.agg(sum("value")).as[Long].head == (0 until 10).map(_ * 10L).sum)
    // the per-commit reads label like the feed, also for a commit
    // written after the rename, and hide a dropped column
    TxLog.append(sample(10, 12).withColumnRenamed("v", "value"), dir)
    val appended = TxLog.headVersion(dir)
    def perCommit() = Seq(TxLog.readCommit(spark, dir, 0),
      TxLog.readCommit(spark, dir, appended),
      TxLog.readChangesSince(spark, dir, fromVersion = -1)
        .drop("_commit_version", "_commit_op"))
    assert(perCommit().map(_.columns.toSeq) == Seq.fill(3)(Seq("id", "k", "value")))
    assert(perCommit().map(_.agg(sum("value")).as[Long].head) == Seq(
      (0 until 10).map(_ * 10L).sum, 100L + 110L, (0 until 12).map(_ * 10L).sum))
    TxLog.dropColumn(spark, dir, "k")
    assert(perCommit().map(_.columns.toSeq) == Seq.fill(3)(Seq("id", "value")))
  }

  test("clone carries the mapping; checkpoint fold preserves it") {
    val dir = freshDir("graft-txren")
    TxLog.append(sample(0, 10), dir)
    TxLog.renameColumn(spark, dir, "v", "value")
    TxLog.dropColumn(spark, dir, "k")
    val clone = freshDir("graft-txrenclone")
    TxLog.cloneShallow(dir, clone)
    assert(TxLog.read(spark, clone).columns.toSeq == Seq("id", "value"))
    // cross a checkpoint boundary (interval 10) with the mapping live
    (0 until 12).foreach(i => TxLog.append(
      spark.range(10L + i, 11L + i).select(col("id"),
        (col("id") * 10).as("value")), dir))
    assert(TxLog.headVersion(dir) >= TxLog.CheckpointInterval,
      "scenario must cross a checkpoint")
    val out = TxLog.read(spark, dir)
    assert(out.columns.toSeq == Seq("id", "value"),
      "mapping must survive the checkpoint fold")
    assert(out.count() == 22)
  }
}
