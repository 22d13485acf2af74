package graft

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Row}
import graft.sources.TxLog

/** The session-catalog half of the deployment
  * ([[graft.sources.txlog.GraftCatalog]], installed by the shared
  * test session as `spark.sql.catalog.spark_catalog` — the
  * configuration a library user deploys): SQL time travel
  * (`VERSION AS OF` / `TIMESTAMP AS OF` and the reader-option twins)
  * and the `CALL system.*` maintenance procedures, plus the
  * conversion invariant that makes the extension safe at all — with a
  * custom session catalog, `V2SessionCatalog` returns raw `V1Table`s
  * and plain reads of provider tables only work because the extension
  * converts them (the DeltaCatalog contract). */
class TxLogCatalogSpec extends SparkTestBase {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-txcat").toString

  private def mk(tbl: String, rows: Seq[(String, Int)]*): String = {
    val dir = freshDir()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    rows.foreach { r =>
      import spark.implicits._
      TxLog.append(r.toDF("k", "v"), dir)
    }
    spark.sql(s"CREATE TABLE $tbl USING txlog LOCATION '$dir'")
    dir
  }

  private def ks(df: DataFrame): Seq[String] =
    df.orderBy("k").collect().map(_.getString(0)).toSeq

  test("plain reads of txlog catalog tables survive the custom catalog") {
    // the load-bearing conversion: with spark_catalog replaced,
    // V2SessionCatalog hands back V1Table (its builtin provider unwrap
    // is gated on hasCustomSessionCatalog) — without GraftCatalog's
    // loadTable override this SELECT dies in the V1 DataSource path
    // with "txlog is not a valid Spark SQL Data Source"
    mk("cat_plain", Seq("a" -> 1, "b" -> 2))
    assert(ks(spark.sql("SELECT * FROM cat_plain")) == Seq("a", "b"))
    // and CTAS + INSERT INTO still route through the commit machinery
    val dir2 = freshDir()
    spark.sql("DROP TABLE IF EXISTS cat_plain2")
    spark.sql(s"CREATE TABLE cat_plain2 USING txlog OPTIONS (path '$dir2') " +
      "AS SELECT * FROM cat_plain")
    spark.sql("INSERT INTO cat_plain2 VALUES ('c', 3)")
    assert(ks(spark.table("cat_plain2")) == Seq("a", "b", "c"))
    assert(TxLog.headVersion(dir2) == 1)
  }

  test("readStream.table streams a txlog catalog table as the path stream does") {
    val dir = mk("cat_stream", Seq("a" -> 1, "b" -> 2), Seq("c" -> 3))
    def drain(name: String, df: DataFrame): Seq[Row] = {
      val q = df.select("k", "v", "_commit_version").writeStream
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).orderBy("k").collect().toSeq
    }
    val byName = drain("cat_stream_by_name", spark.readStream.table("cat_stream"))
    val byPath = drain("cat_stream_by_path",
      spark.readStream.format("txlog").option("path", dir).load())
    assert(byName == byPath)
    assert(byName.map(_.getString(0)) == Seq("a", "b", "c"))
  }

  test("SQL VERSION AS OF pins the snapshot; stale/fresh agree with the API") {
    val dir = mk("cat_vao", Seq("a" -> 1, "b" -> 2), Seq("c" -> 3))
    assert(ks(spark.sql("SELECT * FROM cat_vao VERSION AS OF 0")) == Seq("a", "b"))
    assert(ks(spark.sql("SELECT * FROM cat_vao VERSION AS OF 1")) == Seq("a", "b", "c"))
    // bit-identical to the programmatic pinned read
    assert(spark.sql("SELECT * FROM cat_vao VERSION AS OF 0").collect().toSet ==
      TxLog.read(spark, dir, 0).collect().toSet)
    // beyond head is loud
    val e = intercept[Exception](
      spark.sql("SELECT * FROM cat_vao VERSION AS OF 9").collect())
    assert(e.getMessage != null)
    // non-integer version is loud with the contract named
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM cat_vao VERSION AS OF 'x'").collect())
    assert(e2.getMessage.contains("integer commit version"))
  }

  test("SQL TIMESTAMP AS OF resolves at-or-before, loud before first commit") {
    val dir = mk("cat_tao", Seq("a" -> 1), Seq("b" -> 2))
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(ZoneOffset.UTC) // session timezone is UTC
    def tsOf(v: Int): String =
      fmt.format(Instant.ofEpochMilli(TxLog.commitTimestamp(dir, v)))
    // the commit clock is strictly monotonic, so the exact commit
    // instant resolves to exactly that version
    assert(ks(spark.sql(
      s"SELECT * FROM cat_tao TIMESTAMP AS OF '${tsOf(0)}'")) == Seq("a"))
    assert(ks(spark.sql(
      s"SELECT * FROM cat_tao TIMESTAMP AS OF '${tsOf(1)}'")) == Seq("a", "b"))
    // far future = head
    assert(ks(spark.sql(
      "SELECT * FROM cat_tao TIMESTAMP AS OF '2100-01-01'")) == Seq("a", "b"))
    // before the first commit is loud (Delta's rule)
    intercept[Exception](spark.sql(
      "SELECT * FROM cat_tao TIMESTAMP AS OF '1990-01-01'").collect())
  }

  test("reader-option twins: versionAsOf/timestampAsOf on table and path") {
    val dir = mk("cat_opt", Seq("a" -> 1), Seq("b" -> 2))
    assert(ks(spark.read.option("versionAsOf", "0").table("cat_opt")) == Seq("a"))
    assert(ks(spark.read.option("timestampAsOf", "2100-01-01").table("cat_opt"))
      == Seq("a", "b"))
    assert(ks(spark.read.format("txlog").option("versionAsOf", "0").load(dir))
      == Seq("a"))
    assert(ks(spark.read.format("txlog").option("timestampAsOf", "2100-01-01")
      .load(dir)) == Seq("a", "b"))
    // both spellings of the version option mean the same thing
    assert(ks(spark.read.format("txlog").option("asOf", "0").load(dir)) == Seq("a"))
    // version + timestamp together is a contradiction — loud
    val e = intercept[Exception](spark.read.format("txlog")
      .option("versionAsOf", "0").option("timestampAsOf", "2100-01-01")
      .load(dir).collect())
    assert(e.getMessage.contains("mutually exclusive"))
    // unparseable timestamp is loud with the option named
    val e2 = intercept[Exception](spark.read.format("txlog")
      .option("timestampAsOf", "not-a-time").load(dir).collect())
    assert(e2.getMessage.contains("timestampAsOf"))
  }

  test("time travel keeps segment pruning (stats triage intact through the catalog)") {
    val dir = freshDir()
    spark.sql("DROP TABLE IF EXISTS cat_prune")
    import spark.implicits._
    TxLog.appendWithStats(spark, (1 to 100).map(i => (i, s"x$i")).toDF("id", "s"),
      dir, Seq("id"))
    TxLog.appendWithStats(spark, (101 to 200).map(i => (i, s"x$i")).toDF("id", "s"),
      dir, Seq("id"))
    TxLog.appendWithStats(spark, (201 to 300).map(i => (i, s"x$i")).toDF("id", "s"),
      dir, Seq("id"))
    spark.sql(s"CREATE TABLE cat_prune USING txlog LOCATION '$dir'")
    // time-travel to v1 (200 rows live), filter to the second segment:
    // stats triage must open ONE segment, not both
    val (rows, read) = countRecordsRead {
      spark.sql("SELECT * FROM cat_prune VERSION AS OF 1 WHERE id > 150")
        .collect()
    }
    assert(rows.length == 50)
    assert(read <= 100, s"expected one pruned segment read, got $read records")
  }

  test("non-txlog tables keep Spark's stock time-travel error (delegation intact)") {
    val pq = freshDir()
    import spark.implicits._
    Seq((1, 2)).toDF("x", "y").write.mode("overwrite").parquet(pq)
    spark.sql("DROP TABLE IF EXISTS cat_pq")
    spark.sql(s"CREATE TABLE cat_pq USING parquet LOCATION '$pq'")
    val e = intercept[Exception](
      spark.sql("SELECT * FROM cat_pq VERSION AS OF 0").collect())
    assert(e.getMessage.contains("TIME_TRAVEL") ||
      e.getMessage.contains("Time travel"))
    assert(ks(spark.sql("SELECT CAST(x AS STRING) AS k FROM cat_pq")) == Seq("1"))
  }

  test("CALL system.history mirrors the API frame; table arg takes a raw dir too") {
    val dir = mk("cat_hist", Seq("a" -> 1), Seq("b" -> 2))
    val viaCall = spark.sql("CALL system.history(table => 'cat_hist')").collect()
    val viaApi = TxLog.history(spark, dir).collect()
    assert(viaCall.toSeq == viaApi.toSeq)
    assert(viaCall.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "append"), (1L, "append")))
    // raw dir addressing, and positional args
    assert(spark.sql(s"CALL system.history('$dir')").collect().toSeq ==
      viaCall.toSeq)
  }

  test("CALL system.optimize / compact rewrite without changing content") {
    val dir = mk("cat_opz", Seq("b" -> 2, "a" -> 1), Seq("d" -> 4, "c" -> 3))
    val before = spark.table("cat_opz").collect().toSet
    val r = spark.sql(
      "CALL system.optimize(table => 'cat_opz', sort_cols => 'k', " +
        "num_segments => 2)").collect()
    assert(r.head.getLong(0) == 2L && r.head.getBoolean(1))
    assert(TxLog.liveSegments(dir).size == 2)
    assert(spark.table("cat_opz").collect().toSet == before)
    val c = spark.sql("CALL system.compact('cat_opz')").collect()
    assert(c.head.getLong(0) == 3L && c.head.getBoolean(1))
    assert(TxLog.liveSegments(dir).size == 1)
    assert(spark.table("cat_opz").collect().toSet == before)
    // compactSmall with nothing under the threshold: a no-op, reported
    // as such (version null, rewritten false) — not an empty commit
    val n = spark.sql(
      "CALL system.compact(table => 'cat_opz', small_bytes => 1)").collect()
    assert(n.head.isNullAt(0) && !n.head.getBoolean(1))
    assert(TxLog.headVersion(dir) == 3)
  }

  test("CALL system.restore rolls back as a new commit; vacuum trims history") {
    // v0 = {a,b} in one segment, v1 = {c}: the partial delete below
    // CoW-rewrites v0's segment to {b}, so v2 owns a segment no other
    // snapshot references — the one vacuum must reclaim after restore
    val dir = mk("cat_rst", Seq("a" -> 1, "b" -> 2), Seq("c" -> 3))
    spark.sql("DELETE FROM cat_rst WHERE k = 'a'") // v2
    assert(ks(spark.table("cat_rst")) == Seq("b", "c"))
    val r = spark.sql("CALL system.restore('cat_rst', 1)").collect()
    assert(r.head.getLong(0) == 1L && r.head.getLong(1) == 3L)
    assert(ks(spark.table("cat_rst")) == Seq("a", "b", "c"))
    // dry-run vacuum deletes nothing: the pre-restore snapshot stays
    val d = spark.sql(
      "CALL system.vacuum(table => 'cat_rst', keep_versions => 1, " +
        "dry_run => true)").collect()
    assert(d.head.getLong(0) >= 1,
      "dry-run must see v2's orphaned rewrite segment")
    assert(ks(spark.sql("SELECT * FROM cat_rst VERSION AS OF 2")) ==
      Seq("b", "c"))
    // real vacuum to 1 kept version drops what only old snapshots
    // reference; the head read survives, the pre-restore snapshot dies
    val v = spark.sql(
      "CALL system.vacuum(table => 'cat_rst', keep_versions => 1)").collect()
    assert(v.head.getLong(0) >= d.head.getLong(0),
      "real vacuum must remove at least what dry-run predicted")
    assert(ks(spark.table("cat_rst")) == Seq("a", "b", "c"))
    intercept[Exception](
      spark.sql("SELECT * FROM cat_rst VERSION AS OF 2").collect())
  }

  test("CALL rejections: unknown procedure, non-txlog table, bad namespace") {
    val e1 = intercept[Exception](spark.sql("CALL system.nope('x')").collect())
    assert(e1.getMessage.contains("nope"))
    val pq = freshDir()
    import spark.implicits._
    Seq((1, 2)).toDF("x", "y").write.mode("overwrite").parquet(pq)
    spark.sql("DROP TABLE IF EXISTS cat_pq2")
    spark.sql(s"CREATE TABLE cat_pq2 USING parquet LOCATION '$pq'")
    val e2 = intercept[Exception](
      spark.sql("CALL system.history('cat_pq2')").collect())
    assert(e2.getMessage.contains("not a txlog table"))
    val e3 = intercept[Exception](spark.sql("CALL other.history('x')").collect())
    assert(e3.getMessage != null)
  }

  test("the procedure inventory lists under system") {
    val cat = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager.catalog("spark_catalog")
      .asInstanceOf[graft.sources.txlog.GraftCatalog]
    assert(cat.listProcedures(Array("system")).map(_.name()).toSet ==
      Set("history", "vacuum", "optimize", "compact", "restore",
        "analyze", "clone", "dv_coalesce"))
    assert(cat.listProcedures(Array("nosuch")).isEmpty)
  }

  test("CALL system.analyze / clone / dv_coalesce bridge the remaining maintenance") {
    val dir = mk("cat_mx", Seq("a" -> 1, "b" -> 2), Seq("c" -> 3))
    // analyze records stats that make the layout prunable
    val an = spark.sql(
      "CALL system.analyze(table => 'cat_mx', stats_cols => 'v')").collect()
    assert(an.head.getBoolean(1))
    val (_, read) = countRecordsRead {
      TxLog.readWhere(spark, dir, "v >= 3").collect()
    }
    assert(read <= 1, s"post-analyze stats must prune, read $read rows")
    // shallow clone: new log, zero data copied, same content
    val tgt = freshDir() + "/cloned"
    spark.sql(s"CALL system.clone('cat_mx', '$tgt')")
    assert(ks(TxLog.read(spark, tgt)) == Seq("a", "b", "c"))
    // dv_coalesce folds MoR tombstone sidecars
    TxLog.deleteMoR(spark, dir, "k = 'a'")
    TxLog.deleteMoR(spark, dir, "k = 'b'")
    val dv = spark.sql("CALL system.dv_coalesce('cat_mx')").collect()
    assert(dv.head.getBoolean(1), "two sidecars on one segment must fold")
    assert(ks(spark.table("cat_mx")) == Seq("c"))
  }

  test("bare OPTIMIZE / VACUUM / DESCRIBE HISTORY statements are CALL sugar") {
    val dir = mk("cat_stmt", Seq("a" -> 1, "b" -> 2), Seq("c" -> 3))
    // DESCRIBE HISTORY ≡ CALL system.history, row for row
    val viaStmt = spark.sql("DESCRIBE HISTORY cat_stmt").collect().toSeq
    val viaCall = spark.sql("CALL system.history('cat_stmt')").collect().toSeq
    assert(viaStmt == viaCall)
    // plain OPTIMIZE consolidates (compact); ZORDER re-clusters
    spark.sql("OPTIMIZE cat_stmt")
    assert(TxLog.commitOp(dir, 2) == "compact")
    assert(TxLog.liveSegments(dir).size == 1)
    spark.sql("OPTIMIZE cat_stmt ZORDER BY (k)")
    assert(TxLog.commitOp(dir, 3) == "optimize")
    assert(ks(spark.table("cat_stmt")) == Seq("a", "b", "c"),
      "maintenance statements must be content-neutral")
    // the path spelling reaches the same procedures; DRY RUN deletes
    // nothing, the real run reclaims the reported segments from disk
    val preSegs = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("seg-"))
    val dry = spark.sql(s"VACUUM '$dir' KEEP 1 VERSIONS DRY RUN").collect()
    assert(dry.head.getLong(0) > 0)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("seg-")) == preSegs, "DRY RUN must not delete")
    spark.sql(s"VACUUM txlog.`$dir` KEEP 1 VERSIONS")
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("seg-")) ==
        preSegs - dry.head.getLong(0).toInt,
      "real VACUUM must reclaim exactly what DRY RUN reported")
    // Delta's hour-based retention maps to the engine's vacuumRetain:
    // everything is younger than 168h, so nothing reclaims
    assert(spark.sql("VACUUM cat_stmt RETAIN 168 HOURS DRY RUN")
      .collect().head.getLong(0) == 0)
    val both = intercept[Exception](
      spark.sql("VACUUM cat_stmt KEEP 1 VERSIONS RETAIN 1 HOURS"))
    assert(both.getMessage.contains("not both"), s"got: ${both.getMessage}")
    val e2 = intercept[Exception](
      spark.sql("OPTIMIZE cat_stmt WHERE k > 'a' ZORDER BY (k)"))
    assert(e2.getMessage.contains("BETWEEN"), s"got: ${e2.getMessage}")
    // unclaimed statements pass through the delegate untouched
    assert(spark.sql("SELECT 'OPTIMIZE t' AS s").head().getString(0)
      == "OPTIMIZE t")
  }

  test("TBLPROPERTIES dmlMode=mor routes SQL DML through deletion vectors") {
    val dir = freshDir()
    spark.sql("DROP TABLE IF EXISTS cat_mor")
    import spark.implicits._
    TxLog.append(Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)).toDF("k", "v"), dir)
    spark.sql(s"CREATE TABLE cat_mor USING txlog LOCATION '$dir' " +
      "TBLPROPERTIES ('dmlMode'='mor')")
    spark.sql("DELETE FROM cat_mor WHERE k = 'a'")          // native route
    assert(TxLog.commitOp(dir, 1) == "delete_mor",
      "filter-translatable DELETE must take the MoR path")
    spark.sql("DELETE FROM cat_mor WHERE length(k) + v = 3") // rule route (b)
    assert(TxLog.commitOp(dir, 2) == "delete_mor")
    spark.sql("UPDATE cat_mor SET v = v + 10 WHERE k = 'c'")
    assert(TxLog.commitOp(dir, 3) == "update_mor")
    spark.sql("""MERGE INTO cat_mor t USING (SELECT 'd' AS k, 40 AS v) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(TxLog.commitOp(dir, 4) == "merge_mor",
      "the upsert fast path must honor dmlMode=mor")
    assert(spark.table("cat_mor").orderBy("k").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq("c" -> 13, "d" -> 40))
    // a bad mode value is loud at use
    spark.sql("DROP TABLE IF EXISTS cat_badmode")
    spark.sql(s"CREATE TABLE cat_badmode USING txlog LOCATION '$dir' " +
      "TBLPROPERTIES ('dmlMode'='sideways')")
    val e = intercept[Exception](
      spark.sql("DELETE FROM cat_badmode WHERE k = 'x'"))
    assert(e.getMessage.contains("dmlMode"))
  }

  test("ALTER TABLE RENAME/DROP COLUMN commit to the log, versioned like the API") {
    val dir = mk("cat_alt", Seq("a" -> 1, "b" -> 2))
    spark.sql("ALTER TABLE cat_alt RENAME COLUMN v TO amount")
    assert(spark.table("cat_alt").columns.toSeq == Seq("k", "amount"))
    // column mapping is snapshot-versioned: time travel shows the old name
    assert(spark.sql("SELECT * FROM cat_alt VERSION AS OF 0").columns.toSeq ==
      Seq("k", "v"))
    // and the rename is a LOG commit, not a metastore edit
    assert(TxLog.headVersion(dir) == 1)
    spark.sql("ALTER TABLE cat_alt DROP COLUMN amount")
    assert(spark.table("cat_alt").columns.toSeq == Seq("k"))
    assert(ks(spark.table("cat_alt")) == Seq("a", "b"))
    // unsupported shapes are loud and name the evolution route
    val e = intercept[Exception](
      spark.sql("ALTER TABLE cat_alt ADD COLUMNS (z INT)"))
    assert(e.getMessage.contains("mergeSchema"))
  }

  test("a multi-change ALTER validates ALL changes before committing any") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    val dir = mk("cat_atomic", Seq("a" -> 1, "b" -> 2))
    val head = TxLog.headVersion(dir)
    // SQL reaches alterTable one action kind at a time, so drive the
    // catalog contract directly: a valid log-side change FOLLOWED by a
    // statically-invalid one must reject as a whole — the earlier
    // change must not have committed first (the pre-fix behavior)
    val cat = spark.sessionState.catalogManager.currentCatalog
      .asInstanceOf[TableCatalog]
    val ident = Identifier.of(Array("default"), "cat_atomic")
    val e = intercept[Exception](cat.alterTable(ident,
      TableChange.renameColumn(Array("v"), "amount"),
      TableChange.setProperty("changeDataFeed", "maybe")))
    assert(e.getMessage.contains("true/false"), s"got: ${e.getMessage}")
    assert(TxLog.headVersion(dir) == head,
      "a statement with a late-invalid change must commit nothing")
    assert(spark.table("cat_atomic").columns.toSeq == Seq("k", "v"),
      "the earlier valid rename must not have applied")
    val e2 = intercept[Exception](cat.alterTable(ident,
      TableChange.renameColumn(Array("v"), "amount"),
      TableChange.deleteColumn(Array("nested", "field"), false)))
    assert(e2.getMessage.contains("top-level"), s"got: ${e2.getMessage}")
    assert(TxLog.headVersion(dir) == head)
    assert(spark.table("cat_atomic").columns.toSeq == Seq("k", "v"))
  }

  test("ALTER TABLE SET DEFAULT / TBLPROPERTIES bridge to the governance commits") {
    val dir = mk("cat_gov", Seq("a" -> 1))
    spark.sql("ALTER TABLE cat_gov ALTER COLUMN v SET DEFAULT 7")
    assert(TxLog.defaultsOf(dir) == Map("v" -> "7"))
    // a write omitting the column gets the default materialized
    import spark.implicits._
    TxLog.append(Seq("z").toDF("k"), dir)
    assert(spark.table("cat_gov").orderBy("k").collect().map(_.getInt(1))
      .toSeq == Seq(1, 7))
    spark.sql("ALTER TABLE cat_gov ALTER COLUMN v DROP DEFAULT")
    assert(TxLog.defaultsOf(dir).isEmpty)
    // CDF toggles through the table property (Delta's spelling)
    spark.sql("ALTER TABLE cat_gov SET TBLPROPERTIES ('changeDataFeed'='true')")
    assert(TxLog.cdfEnabledOf(dir))
    spark.sql("ALTER TABLE cat_gov SET TBLPROPERTIES ('changeDataFeed'='false')")
    assert(!TxLog.cdfEnabledOf(dir))
    // properties the log does not own still reach the metastore
    spark.sql("ALTER TABLE cat_gov SET TBLPROPERTIES ('note'='hello')")
    val meta = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("cat_gov"))
    assert(meta.properties.get("note").contains("hello"))
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT enforce on writes through the log") {
    val dir = mk("cat_ck", Seq("a" -> 1, "b" -> 2))
    spark.sql("ALTER TABLE cat_ck ADD CONSTRAINT pos CHECK (v > 0)")
    assert(TxLog.constraintsOf(dir).keySet == Set("pos"))
    // a violating write is rejected pre-commit by the shared staged scan
    import spark.implicits._
    val e = intercept[Exception](TxLog.append(Seq(("x", -5)).toDF("k", "v"), dir))
    assert(e.getMessage.contains("pos"))
    // adding a constraint existing rows violate is refused up front
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE cat_ck ADD CONSTRAINT big CHECK (v > 100)"))
    assert(e2.getMessage.contains("violate"))
    spark.sql("ALTER TABLE cat_ck DROP CONSTRAINT pos")
    assert(TxLog.constraintsOf(dir).isEmpty)
    TxLog.append(Seq(("x", -5)).toDF("k", "v"), dir)
    assert(ks(spark.table("cat_ck")) == Seq("a", "b", "x"))
  }

  test("MANAGED tables (no LOCATION) create under the warehouse; DROP reclaims") {
    // V2SessionCatalog probes getTable BEFORE assigning the managed
    // path — the create-time descriptor (TxLogPendingTable) carries the
    // declared columns through; post-create resolutions see the
    // catalog-assigned location
    // the in-memory catalog dies with the JVM but the warehouse DIRS
    // survive — a rerun must clear the assigned locations or managed
    // CREATE fails with LOCATION_ALREADY_EXISTS
    def clearLoc(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      TxLog.deleteRecursively(new java.io.File(java.net.URI.create(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.catalog.defaultTablePath(
            org.apache.spark.sql.catalyst.TableIdentifier(t)).toString))
        .toPath)
    }
    clearLoc("cat_mg")
    spark.sql("CREATE TABLE cat_mg (k STRING, v INT) USING txlog")
    spark.sql("INSERT INTO cat_mg VALUES ('a', 1), ('b', 2)")
    assert(ks(spark.table("cat_mg")) == Seq("a", "b"))
    val loc = new java.io.File(java.net.URI.create(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("cat_mg"))
        .location.toString))
    assert(loc.exists, s"managed table data must live at $loc")
    spark.sql("DROP TABLE cat_mg")
    assert(!loc.exists, "dropping a MANAGED table must reclaim its dir")
    // CTAS without LOCATION takes the same route
    clearLoc("cat_mg2")
    spark.sql("CREATE TABLE cat_mg2 USING txlog AS SELECT 'c' AS k, 3 AS v")
    assert(ks(spark.table("cat_mg2")) == Seq("c"))
    // a MANAGED PARTITIONED table (r15): the spec lands in the log at
    // create, so the first INSERT already splits per tuple
    clearLoc("cat_pt")
    spark.sql("CREATE TABLE cat_pt (k STRING, v INT) USING txlog " +
      "PARTITIONED BY (k)")
    spark.sql("INSERT INTO cat_pt VALUES ('a', 1), ('b', 2)")
    val ptLoc = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier("cat_pt")).getPath
    assert(TxLog.partitionColumnsOf(ptLoc) == Seq("k"))
    assert(TxLog.liveSegments(ptLoc).size == 2 &&
      TxLog.liveSegments(ptLoc).forall(_.contains("k=")),
      s"managed partitioned insert must split, got ${TxLog.liveSegments(ptLoc)}")
    spark.sql("DROP TABLE cat_pt")
  }

  test("path-addressed SQL: SELECT / time travel / DML / ALTER on txlog.`/dir`") {
    import spark.implicits._
    val dir = freshDir()
    TxLog.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"), dir)
    TxLog.append(Seq(("c", 3)).toDF("k", "v"), dir)
    // Delta's delta.`/path` spelling: the catalog answers namespace
    // ["txlog"] + a path name directly (stock ResolveSQLOnFile rejects
    // non-file sources for direct queries)
    assert(ks(spark.sql(s"SELECT * FROM txlog.`$dir`")) == Seq("a", "b", "c"))
    assert(ks(spark.sql(s"SELECT * FROM txlog.`$dir` VERSION AS OF 0")) ==
      Seq("a", "b"))
    spark.sql(s"DELETE FROM txlog.`$dir` WHERE k = 'a'")
    spark.sql(s"INSERT INTO txlog.`$dir` VALUES ('d', 4)")
    assert(ks(spark.sql(s"SELECT * FROM txlog.`$dir`")) == Seq("b", "c", "d"))
    spark.sql(s"ALTER TABLE txlog.`$dir` RENAME COLUMN v TO amount")
    assert(spark.sql(s"SELECT * FROM txlog.`$dir`").columns.toSeq ==
      Seq("k", "amount"))
    // a non-path name under the txlog namespace keeps Spark's stock
    // direct-query rejection (no database shadowing)
    intercept[Exception](spark.sql("SELECT * FROM txlog.nosuch").collect())
  }

  test("empty declared-schema table resolves, scans empty, accepts first INSERT") {
    val dir = freshDir()
    spark.sql("DROP TABLE IF EXISTS cat_empty")
    spark.sql(s"CREATE TABLE cat_empty (k STRING, v INT) USING txlog " +
      s"LOCATION '$dir'")
    assert(spark.table("cat_empty").collect().isEmpty)
    spark.sql("INSERT INTO cat_empty VALUES ('z', 9)")
    assert(spark.table("cat_empty").collect().toSeq == Seq(Row("z", 9)))
  }
}
