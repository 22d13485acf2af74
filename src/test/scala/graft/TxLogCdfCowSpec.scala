package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog

/** CHANGE DATA FEED for copy-on-write DML (Delta's CDC-file
  * mechanics): with `enableChangeDataFeed`, delete/update/replaceWhere
  * record their exact row-level changes as `cdc-*` sidecars in the
  * same commit (cost ∝ changed rows), and the CDF surfaces emit those
  * instead of op-tagged rewrite output — closing the CoW/MoR
  * asymmetry (MoR DML was already row-exact via deletion vectors). */
class TxLogCdfCowSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-txcdc").toString

  private def seed(dir: String): Unit = {
    TxLog.append((0L until 20L).map(i => (i, i * 10L)).toDF("id", "cents"), dir)
    TxLog.append((20L until 40L).map(i => (i, i * 10L)).toDF("id", "cents"), dir)
  }

  private def cdcFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("cdc-"))
      .map(_.getName)

  test("enable/disable is a metadata commit; the flag folds through checkpoints") {
    val dir = freshDir()
    seed(dir)
    assert(!TxLog.cdfEnabledOf(dir))
    val v = TxLog.enableChangeDataFeed(dir)
    assert(TxLog.commitOp(dir, v) == "set_cdf")
    assert(TxLog.cdfEnabledOf(dir))
    assert(TxLog.protocolOf(dir)._2 >= 3, "CDF raises the writer floor")
    // push past a checkpoint boundary: the flag must survive the fold
    (0 until TxLog.CheckpointInterval + 2).foreach(i =>
      TxLog.append(Seq((1000L + i, 1L)).toDF("id", "cents"), dir))
    assert(TxLog.cdfEnabledOf(dir), "flag lost in the checkpoint fold")
    TxLog.disableChangeDataFeed(dir)
    assert(!TxLog.cdfEnabledOf(dir))
  }

  test("CoW delete/update under CDF produce the SAME feed as their MoR twins") {
    val cow = freshDir(); val mor = freshDir()
    Seq(cow, mor).foreach(seed)
    TxLog.enableChangeDataFeed(cow) // v2 on the CoW table only
    TxLog.delete(spark, cow, "id % 7 = 3")
    TxLog.update(spark, cow, "id % 7 = 4", Map("cents" -> "cents + 111"))
    TxLog.deleteMoR(spark, mor, "id % 7 = 3")
    TxLog.updateMoR(spark, mor, "id % 7 = 4", Map("cents" -> "cents + 111"))
    def classes(dir: String, from: Int): Map[String, (Long, Long)] =
      TxLog.readChangeFeed(spark, dir, fromVersion = from)
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    val (c, m) = (classes(cow, 2), classes(mor, 1))
    assert(c == m, s"CoW CDF $c must equal MoR CDF $m")
    assert(c.keySet == Set("delete", "update_preimage", "update_postimage"))
    // head states agree too (sanity: the DML semantics were identical)
    val hc = TxLog.read(spark, cow).filter(col("id") < 1000)
      .agg(sum("cents")).head().getLong(0)
    val hm = TxLog.read(spark, mor).agg(sum("cents")).head().getLong(0)
    assert(hc == hm)
  }

  test("a failed replaceWhere reclaims its staged cdc sidecar too") {
    val dir = freshDir()
    seed(dir)
    TxLog.enableChangeDataFeed(dir)
    // incoming rows OUTSIDE the declared frame: the op must throw and
    // reclaim everything it staged — including the cdc delete sidecar
    intercept[IllegalArgumentException] {
      TxLog.replaceWhere(spark, dir, "id >= 10 AND id <= 29",
        Seq((100L, 7L), (101L, 9L)).toDF("id", "cents"))
    }
    assert(cdcFiles(dir).isEmpty, s"leaked: ${cdcFiles(dir)}")
    assert(TxLog.read(spark, dir).count() == 40, "nothing committed")
  }

  test("replaceWhere under CDF (valid frame): deletes + referenced inserts") {
    val dir = freshDir()
    seed(dir)
    TxLog.enableChangeDataFeed(dir) // v2
    TxLog.replaceWhere(spark, dir, "id >= 10 AND id <= 29",
      Seq((12L, 7L), (25L, 9L)).toDF("id", "cents")) // v3
    val feed = TxLog.readChangeFeed(spark, dir, fromVersion = 2)
    val byType = feed.groupBy("_change_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // replaced: ids 10..29 (20 rows, cents 10*(10+..+29)=3900); inserted: 2 rows, 16
    assert(byType("delete") == ((20L, 3900L)), s"got $byType")
    assert(byType("insert") == ((2L, 16L)), s"got $byType")
    // only ONE cdc sidecar was written (the deletes); the inserts ride
    // by reference to the staged data segment — no second copy
    assert(cdcFiles(dir).size == 1, s"files=${cdcFiles(dir)}")
  }

  test("without the flag, CoW DML keeps the documented op-tagged rewrite feed") {
    val dir = freshDir()
    seed(dir)
    TxLog.delete(spark, dir, "id % 7 = 3") // v2, no CDF
    val feed = TxLog.readChangeFeed(spark, dir, fromVersion = 1)
    val types = feed.select("_change_type").distinct().as[String].collect().toSet
    assert(types == Set("insert"), s"got $types")
    assert(cdcFiles(dir).isEmpty, "no sidecars without the flag")
  }

  test("streaming CDF delivers a CoW delete's pre-images row-level") {
    val dir = freshDir()
    seed(dir)
    TxLog.enableChangeDataFeed(dir)
    TxLog.delete(spark, dir, "id < 5")
    val q = spark.readStream.format("txlog")
      .option("path", dir).option("changeFeed", "true")
      .option("startingVersion", "2").load()
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("txcdc_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("txcdc_stream")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map("delete" -> ((5L, 100L))), s"got $got")
  }

  test("vacuum ages cdc sidecars out with the version horizon") {
    val dir = freshDir()
    seed(dir)
    TxLog.enableChangeDataFeed(dir)     // v2
    TxLog.delete(spark, dir, "id < 3")  // v3 + cdc sidecar
    assert(cdcFiles(dir).size == 1)
    val keep = TxLog.vacuum(dir, keepVersions = 2, dryRun = true)
    assert(!keep.exists(_.startsWith("cdc-")),
      "a cdc file inside retention must not be reclaimed")
    // push the horizon past v3
    TxLog.append(Seq((500L, 1L)).toDF("id", "cents"), dir) // v4
    TxLog.append(Seq((501L, 1L)).toDF("id", "cents"), dir) // v5
    val dry = TxLog.vacuum(dir, keepVersions = 2, dryRun = true)
    assert(dry.exists(_.startsWith("cdc-")), s"dry run must list it: $dry")
    TxLog.vacuum(dir, keepVersions = 2)
    assert(cdcFiles(dir).isEmpty, "aged-out cdc sidecar must be reclaimed")
    // the head table is untouched
    assert(TxLog.read(spark, dir).count() == 39)
  }

  test("deleteRange under CDF is delete-exact (same op name, same contract)") {
    val dir = freshDir()
    seed(dir)
    TxLog.enableChangeDataFeed(dir) // v2
    TxLog.deleteRange(spark, dir, "id", "5", "9") // v3
    val byType = TxLog.readChangeFeed(spark, dir, fromVersion = 2)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // ids 5..9: 5 rows, cents 50+60+70+80+90 = 350; NO phantom inserts
    assert(byType == Map("delete" -> ((5L, 350L))), s"got $byType")
  }

  test("merge under CDF decomposes into pre/post images + inserts") {
    val dir = freshDir()
    seed(dir)
    TxLog.enableChangeDataFeed(dir) // v2
    // ids 3 and 25 exist (matched → update); 900 does not (insert)
    TxLog.merge(spark, dir,
      Seq((3L, 1000L), (25L, 2000L), (900L, 3000L)).toDF("id", "cents"),
      "id") // v3
    val rows = TxLog.readChangeFeed(spark, dir, fromVersion = 2)
      .select("_change_type", "id", "cents")
      .as[(String, Long, Long)].collect().toSet
    assert(rows == Set(
      ("update_preimage", 3L, 30L), ("update_preimage", 25L, 250L),
      ("update_postimage", 3L, 1000L), ("update_postimage", 25L, 2000L),
      ("insert", 900L, 3000L)), s"got $rows")
  }

  test("an all-insert merge records the committed segment by reference") {
    val dir = freshDir()
    seed(dir)
    TxLog.enableChangeDataFeed(dir)
    TxLog.merge(spark, dir,
      Seq((900L, 1L), (901L, 2L)).toDF("id", "cents"), "id")
    val feed = TxLog.readChangeFeed(spark, dir, fromVersion = 2)
    assert(feed.groupBy("_change_type").count().as[(String, Long)]
      .collect().toMap == Map("insert" -> 2L))
    assert(cdcFiles(dir).isEmpty, "no sidecar copy for an all-insert merge")
  }

  test("a shallow clone keeps recording changes (the flag propagates)") {
    val src = freshDir(); val tgt = freshDir()
    seed(src)
    TxLog.enableChangeDataFeed(src)
    TxLog.cloneShallow(src, tgt)
    assert(TxLog.cdfEnabledOf(tgt), "clone must carry the CDF contract")
    TxLog.delete(spark, tgt, "id < 3")
    val types = TxLog.readChangeFeed(spark, tgt, fromVersion = 0)
      .groupBy("_change_type").count().as[(String, Long)].collect().toMap
    assert(types("delete") == 3L, s"got $types")
  }

  test("a feed read past cdc retention fails typed, not with FileNotFound") {
    val dir = freshDir()
    seed(dir)
    TxLog.enableChangeDataFeed(dir)     // v2
    TxLog.delete(spark, dir, "id < 3")  // v3 + sidecar
    TxLog.append(Seq((500L, 1L)).toDF("id", "cents"), dir) // v4
    TxLog.append(Seq((501L, 1L)).toDF("id", "cents"), dir) // v5
    TxLog.vacuum(dir, keepVersions = 2) // ages the v3 sidecar out
    val e = intercept[IllegalStateException] {
      TxLog.readChangeFeed(spark, dir, fromVersion = 2).count()
    }
    assert(e.getMessage.contains("vacuumed"), s"wrong error: ${e.getMessage}")
    // inside retention the feed still reads
    assert(TxLog.readChangeFeed(spark, dir, fromVersion = 4).count() == 1)
  }

  test("a change read past segment retention fails typed: vacuumed adds and DV pre-images") {
    val dir = freshDir()
    seed(dir)                              // v0, v1
    TxLog.deleteMoR(spark, dir, "id = 3")  // v2: a deletion vector on v0's segment
    TxLog.compact(spark, dir)              // v3: every segment rewritten
    TxLog.append(Seq((500L, 1L)).toDF("id", "cents"), dir) // v4
    TxLog.vacuum(dir, keepVersions = 2)    // reclaims v0-v2's segments and sidecar
    def vacuumed(feed: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[IllegalStateException](feed.count())
      assert(e.getMessage.contains("was vacuumed"), s"wrong error: ${e.getMessage}")
    }
    vacuumed(TxLog.readChangesSince(spark, dir, fromVersion = -1)) // v0's add set
    vacuumed(TxLog.readChangeFeed(spark, dir, fromVersion = -1))
    vacuumed(TxLog.readChangeFeed(spark, dir, fromVersion = 1))    // v2's pre-images
    // inside retention both feeds still read
    assert(TxLog.readChangesSince(spark, dir, fromVersion = 3).count() == 1)
    assert(TxLog.readChangeFeed(spark, dir, fromVersion = 3).count() == 1)
  }

  test("restore rolls the CDF flag back with the rest of governance") {
    val dir = freshDir()
    seed(dir)                        // v0, v1
    TxLog.enableChangeDataFeed(dir)  // v2
    TxLog.restore(dir, toVersion = 1)
    assert(!TxLog.cdfEnabledOf(dir), "restore must roll the flag back")
    TxLog.restore(dir, toVersion = 2)
    assert(TxLog.cdfEnabledOf(dir))
  }

  test("a feed range spanning pre-enablement CoW DML fails typed, not mixed") {
    val dir = freshDir()
    seed(dir)                                            // v0, v1
    TxLog.delete(spark, dir, "id < 3")                   // v2: PRE-flag rewrite
    TxLog.enableChangeDataFeed(dir)                      // v3
    TxLog.delete(spark, dir, "id >= 38")                 // v4: exact cdc
    // range spanning the flag: v2's add set is rewrite OUTPUT (the 37
    // kept rows) — emitting it beside v4's exact rows would feed
    // phantom inserts; refuse typed with both remedies named
    val e = intercept[IllegalStateException] {
      TxLog.readChangeFeed(spark, dir, fromVersion = 1).collect()
    }
    assert(e.getMessage.contains("changes content") &&
      e.getMessage.contains("fromVersion >= 2") &&
      e.getMessage.contains("coarseRewrites"), e.getMessage)
    // explicit opt-in degrades to op-tagged output, documented: v2's
    // add set = the dirty segment's 17 kept rows (v1 carried by ref)
    val coarse = TxLog.readChangeFeed(spark, dir, fromVersion = 1,
      coarseRewrites = true)
    assert(coarse.filter(col("_commit_version") === 2L).count() == 17)
    // a post-flag range is exact and needs no opt-in
    assert(TxLog.readChangeFeed(spark, dir, fromVersion = 3)
      .select("_change_type").distinct().as[String].collect().toSet ==
      Set("delete"))
    // a NEVER-enabled table keeps the documented op-tagged contract
    val plain = freshDir()
    seed(plain)
    TxLog.delete(spark, plain, "id < 3")
    assert(TxLog.readChangeFeed(spark, plain, fromVersion = 1).count() == 17)
  }

  test("disabling CDF after exact commits cannot re-open the mixed feed") {
    val dir = freshDir()
    seed(dir)                               // v0, v1
    TxLog.enableChangeDataFeed(dir)         // v2
    TxLog.delete(spark, dir, "id >= 38")    // v3: exact cdc
    TxLog.disableChangeDataFeed(dir)        // v4: head flag now OFF
    TxLog.delete(spark, dir, "id < 3")      // v5: coarse rewrite, no cdc
    // the head flag is off, but the range still mixes v3's exact rows
    // with v5's rewrite output — must fail typed all the same
    val e = intercept[IllegalStateException] {
      TxLog.readChangeFeed(spark, dir, fromVersion = 2).collect()
    }
    assert(e.getMessage.contains("changes content"), e.getMessage)
    assert(TxLog.readChangeFeed(spark, dir, fromVersion = 2,
      coarseRewrites = true).filter(col("_commit_version") === 5L)
      .count() == 17) // v5 rewrote only v0's segment: its 20 - 3 deleted
  }

  test("nondeterministic SET/predicate under CDF is rejected, never mis-recorded") {
    val dir = freshDir()
    seed(dir)
    TxLog.enableChangeDataFeed(dir)
    // rand(): catalyst-nondeterministic — two evaluations, two answers
    val e1 = intercept[UnsupportedOperationException] {
      TxLog.update(spark, dir, "id = 5",
        Map("cents" -> "CAST(rand() * 100 AS BIGINT)"))
    }
    assert(e1.getMessage.contains("nondeterministic"), e1.getMessage)
    // current_timestamp(): folded per ACTION — stable within one query,
    // different across the rewrite and the sidecar
    val e2 = intercept[UnsupportedOperationException] {
      TxLog.update(spark, dir, "id = 5",
        Map("cents" -> "unix_timestamp(current_timestamp())"))
    }
    assert(e2.getMessage.contains("enableChangeDataFeed"), e2.getMessage)
    // TIME-DEPENDENT predicates are the guard's real coverage for
    // delete/replaceWhere: catalyst-NONDETERMINISTIC predicates (rand)
    // never get this far — Spark rejects them inside the triage
    // aggregate — but current_timestamp() is deterministic-flagged and
    // sails through, then folds to a different instant in the cdc
    // sidecar's own action
    intercept[UnsupportedOperationException] {
      TxLog.delete(spark, dir, "id < unix_timestamp(current_timestamp())")
    }
    intercept[UnsupportedOperationException] {
      TxLog.replaceWhere(spark, dir,
        "id < unix_timestamp(current_timestamp())",
        Seq((1L, 1L)).toDF("id", "cents"))
    }
    // deterministic DML is unaffected, and WITHOUT the flag there is
    // no sidecar to diverge from — time-dependent stays allowed
    TxLog.update(spark, dir, "id = 5", Map("cents" -> "cents + 1"))
    val plain = freshDir()
    seed(plain)
    TxLog.delete(spark, plain, "id > unix_timestamp(current_timestamp())")
    assert(TxLog.read(spark, plain).count() == 40)
  }
}
