package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.ColumnShim
import graft.Tables._
import graft.dedup.Dedup
import graft.functions.GridRound
import graft.graph.ConnectedComponents
import graft.index.InvertedIndex
import graft.ops.{Features, Relational, TextOps}
import graft.pagerank.PageRank
import graft.parse.WikiParser
import graft.similarity.Similarity
import graft.sources.LocalFs
import graft.text.TextAnalysis

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in `queries` is an operator from SURVEY.md §2's inventory (or a
  * training-data-pipeline extension); `oracleSql` carries the DuckDB-dialect
  * equivalent the driver hash-checks at sf0.01.
  *
  * Determinism rules (SURVEY.md §5.2.3) applied to every oracle-checked key:
  *  - ends in a full ORDER BY over a unique key (or total grouping key);
  *  - float aggregates rounded on BOTH sides; monetary sums round(2)
  *    (inputs are on the 0.01 grid so true sums are on-grid — driver data
  *    verified), products round(4);
  *  - collect_list always sorted before concat;
  *  - regex restricted to the Java∩RE2 subset;
  *  - integer-typed outputs cast to BIGINT on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue by nation: scan → pushdown filter → broadcast-joined dims →
    * agg → sort (a miniature of the whole engine).
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = lineitem(spark, d)
    val o  = orders(spark, d)
    val c  = customer(spark, d)
    val n  = nation(spark, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  // ---------------------------------------------------------------------
  // Query registry. One entry per implemented operator from SURVEY.md §2.
  // ---------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 S1 — scan + projection + pushdown-friendly predicate
    "scan_project" -> ((s, d) =>
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .filter(col("l_quantity") >= 30)
        .orderBy("l_orderkey", "l_linenumber")),

    // §2.2 P1 — regex match filter (mapper-side title filter analog)
    "filter_rlike" -> ((s, d) =>
      TextOps.filterMatching(documents(s, d), col("text"), "spark (join|merge)")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    // §2.2 P2 — regex group extract (title/id extract analog)
    "regex_extract" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          TextOps.extractGroup(col("props"), "\"k\": ([0-9]+)", 1)
            .cast("long").as("k_val"))
        .orderBy("event_id")),

    // §2.2 P5 — character-class scrub / regexp_replace
    "regex_replace" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), regexp_replace(col("text"), "[aeiou]", "").as("scrubbed"))
        .orderBy("doc_id")),

    // §2.2 P6 — lower + trim normalization
    "project_lower_trim" -> ((s, d) =>
      customer(s, d)
        .select(col("c_custkey"), lower(col("c_name")).as("lname"),
          trim(col("c_mktsegment")).as("seg"))
        .orderBy("c_custkey")),

    // §2.2 P7 — numeric parse / cast
    "cast_numeric" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity")).cast("long").as("qty_int"),
          col("l_partkey").cast("string").as("part_str"))
        .orderBy("l_orderkey", "l_linenumber")),

    // §2.2 P8 — scalar arithmetic (d·Σ+(1−d) analog shapes)
    "scalar_arith" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          // 2dp·2dp·2dp inputs → true value on the 1e-6 grid; round AT the
          // grid (6), never coarser — coarser hits exact halfway points
          // where Spark (HALF_UP) and DuckDB (binary) disagree.
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("charge"),
          round(-col("l_extendedprice") / lit(100.0), 4).as("neg_centi"))
        .orderBy("l_orderkey", "l_linenumber")),

    // §2.2 P10 — string concat / format
    "string_concat" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"),
          concat(col("o_orderstatus"), lit("#"), col("o_orderpriority")).as("tag"))
        .orderBy("o_orderkey")),

    // §2.3 F1 — regex find-all + explode (the [[link]] fan-out analog)
    "explode_links" -> ((s, d) =>
      documents(s, d)
        .select(explode(TextOps.extractAll(col("text"), "spark [a-z]+")).as("link"))
        .groupBy("link").agg(count(lit(1)).as("cnt"))
        .orderBy("link")),

    // §2.3 F2 — tokenize + explode (word-occurrence fan-out)
    "tokenize_explode" -> ((s, d) =>
      TextOps.explodeTokens(documents(s, d).select(col("text")), col("text"), "word")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy("word")),

    // positional explode: token + 1-based position in one Generate —
    // the ordinal the plain explode discards (n-gram/window builders
    // downstream need it)
    "explode_pos" -> ((s, d) =>
      documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(graft.ops.TextOps.tokenize(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("word"))
        .orderBy("doc_id", "pos")),

    // CSV source: schema-declared header CSV scan (quoting exercised by
    // the comment column). The file is the parquet table round-tripped
    // once through Spark's CSV writer (cached per sf-dir), so the oracle
    // — reading the PARQUET truth — certifies the whole parse path
    "scan_csv" -> ((s, d) => {
      val cache = cachedDir(
        s"/tmp/graft_csv_${new java.io.File(d).getName}", d, Seq("nation")) { out =>
        LocalFs.writer(nation(s, d).coalesce(1)).mode("overwrite")
          .option("header", "true").csv(out)
      }
      s.read.option("header", "true")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, n_comment STRING")
        .csv(cache)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    // Malformed-ingest robustness: JSONL where every 13th record is
    // broken; PERMISSIVE parse routes them to _corrupt_record instead
    // of failing the job (the reference NPEs on its first malformed
    // line — SURVEY.md §3.4). The oracle derives the expected split
    // from the parquet truth and the injection rule.
    "scan_json_corrupt" -> ((s, d) => {
      val cache = cachedDir(
        s"/tmp/graft_jsonbad_${new java.io.File(d).getName}", d, Seq("documents")) { out =>
        LocalFs.writer(documents(s, d).select(
          when(col("doc_id") % 13 === 0,
            concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"n_chars\": oops}")))
          .otherwise(concat(lit("{\"doc_id\": "), col("doc_id"),
            lit(", \"n_chars\": "), col("n_chars"), lit("}"))).as("value"))
          .coalesce(1)).mode("overwrite").text(out)
      }
      // Parsed/corrupt split derives from _corrupt_record ONLY: with
      // spark.sql.json.enablePartialResults (default true since 3.4) a
      // corrupt row can still carry the fields parsed before the bad
      // token (doc_id here), so count(doc_id) would be version- and
      // flag-sensitive (ADVICE r3). A row is "parsed" iff it routed
      // nothing to _corrupt_record — stable under either setting.
      s.read
        .schema("doc_id BIGINT, n_chars BIGINT, _corrupt_record STRING")
        .json(cache)
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("_corrupt_record").isNull, lit(1))).as("n_parsed"),
          count(col("_corrupt_record")).as("n_corrupt"),
          sum(when(col("_corrupt_record").isNull, col("n_chars"))).as("sum_chars"))
    }),

    // ORC source (columnar sibling; orc-core ships with Spark): same
    // round-trip-certification trick — supplier parquet → ORC once,
    // scanned back with pushdown; the oracle reads the parquet truth.
    // Completes the source matrix: text/KV, parquet, CSV, JSONL, ORC.
    "scan_orc" -> ((s, d) => {
      val cache = cachedDir(
        s"/tmp/graft_orc_${new java.io.File(d).getName}", d, Seq("supplier")) { out =>
        LocalFs.writer(supplier(s, d).coalesce(1)).mode("overwrite").orc(out)
      }
      s.read.orc(cache)
        .filter(col("s_acctbal") > 0)
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_suppkey")
    }),

    // HIVE-PARTITIONED layout + partition PRUNING: orders written
    // partitionBy(order year) once into a /tmp cache, read back with a
    // partition-column predicate — the scan must touch ONLY the 1996
    // directory (PartitionFilters, zero data-file reads elsewhere; the
    // plan guard asserts it). At 100 TB partition layout is the first
    // and cheapest pruning lever, before any row-group statistics.
    "scan_partitioned" -> ((s, d) => {
      val cache = cachedDir(
        s"/tmp/graft_part_${new java.io.File(d).getName}", d, Seq("orders")) { out =>
        LocalFs.writer(orders(s, d)
          .withColumn("yr", year(to_date(col("o_orderdate"))).cast("int")))
          .mode("overwrite").partitionBy("yr").parquet(out)
      }
      s.read.parquet(cache)
        .filter(col("yr") === 1996)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // transaction-log table (TxLog — the Delta/Iceberg log mechanics
    // over parquet segments): a 4-commit scenario (append, append,
    // copy-on-write delete, compact), read back AS OF every version —
    // time travel through log replay. The oracle recomputes each
    // version's logical contents from the same deterministic filters,
    // so the hash-match proves commit atomicity bookkeeping, COW
    // delete, and compaction's no-logical-change contract at once.
    "table_log_timetravel" -> ((s, d) => {
      val dir = txLogCache(s, d)
      (0 to 3).map { v =>
        graft.sources.TxLog.read(s, dir, v)
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
          .select(lit(v.toLong).as("version"), col("n"), col("cents"))
      }.reduce(_ unionByName _).orderBy("version")
    }),

    // schema evolution on the log table: v4 appended a NEW o_channel
    // column; a mergeSchema head read unions segment schemas, old rows
    // surface null — add-column semantics without any segment rewrite
    "table_log_evolve" -> ((s, d) => {
      val dir = txLogCache(s, d)
      graft.sources.TxLog.read(s, dir, mergeSchema = true)
        .groupBy(coalesce(col("o_channel"), lit("pre_evolution")).as("channel"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .orderBy("channel")
    }),

    // incremental (commit-granular) consumption of the same log table:
    // read ONLY what commit 1 added — the CDC pattern for append-only
    // tables; row-level oracle (the second append's exact quarter)
    "table_log_incremental" -> ((s, d) => {
      val dir = txLogCache(s, d)
      graft.sources.TxLog.readCommit(s, dir, version = 1)
        .select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .orderBy("o_orderkey")
    }),

    // DATA SKIPPING on the log table: four appends with disjoint
    // o_orderdate ranges record per-segment min/max in the commit log;
    // a 1996 range read must prune the other three segments from LOG
    // METADATA ALONE (no file opened — the require asserts it) before
    // scanning. At 100 TB this is the file-skipping lever of the log
    // formats: a time-range query touches the segments the range lives
    // in, not the table. Reads AS OF v3 (pre-merge) so the ranged
    // layout is what the pruner sees.
    "table_log_skipping" -> ((s, d) => {
      val dir = txStatsCache(s, d)
      val (kept, pruned) = graft.sources.TxLog.pruneRange(
        dir, "o_orderdate", Some("1996-01-01"), Some("1996-12-31"), asOf = 3)
      require(kept.size == 1 && pruned.size == 3,
        s"stats pruning regressed: kept=$kept pruned=$pruned")
      graft.sources.TxLog.readRange(s, dir, "o_orderdate",
          Some("1996-01-01"), Some("1996-12-31"), asOf = 3)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // OPTIMIZE (range re-cluster) on the log table: v5 rewrote the
    // table as 8 segments range-clustered on o_orderkey, so a key-range
    // query at head prunes most segments from log metadata — the
    // layout was DATE-clustered before the optimize (key ranges spanned
    // every segment) and KEY-clustered after. Skipping on the new
    // cluster dimension is asserted, and the result must equal the
    // merge-replayed truth for the key band.
    "table_log_optimize" -> ((s, d) => {
      val dir = txStatsCache(s, d)
      val (kept, pruned) = graft.sources.TxLog.pruneRange(
        dir, "o_orderkey", Some("300"), Some("499"))
      require(pruned.nonEmpty,
        s"optimize clustering not skippable: kept=$kept pruned=$pruned")
      graft.sources.TxLog.readRange(s, dir, "o_orderkey",
          Some("300"), Some("499"))
        .groupBy(substring(col("o_orderdate"), 1, 4).as("yr"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("yr")
    }),

    // ANALYZE on the log table: the restore-scenario table was written
    // with PLAIN appends (no stats), so nothing prunes; a metadata-only
    // analyze commit backfills min/max for the live set — after it the
    // same range read skips from log metadata without a byte of data
    // rewritten (the require pins before-nothing/after-something).
    // Separate /tmp table: built fresh per run, ~3 tiny commits.
    "table_log_analyze" -> ((s, d) => {
      val dir = s"/tmp/graft_txanalyze_${new java.io.File(d).getName}"
      val root = new java.io.File(dir)
      if (root.isDirectory)
        graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("o_orderdate"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(
        o.filter(col("o_orderdate") < "1998-01-01"), dir)
      graft.sources.TxLog.append(
        o.filter(col("o_orderdate") >= "1998-01-01"), dir)
      require(graft.sources.TxLog.pruneRange(dir, "o_orderdate",
          Some("1996-01-01"), Some("1996-12-31"))._2.isEmpty,
        "statless table must not prune")
      require(graft.sources.TxLog.analyze(s, dir,
          Seq("o_orderdate")).contains(2),
        "analyze must commit metadata version 2")
      val (kept, pruned) = graft.sources.TxLog.pruneRange(dir, "o_orderdate",
        Some("1996-01-01"), Some("1996-12-31"))
      require(kept.size == 1 && pruned.size == 1,
        s"backfilled stats must prune: kept=$kept pruned=$pruned")
      graft.sources.TxLog.readRange(s, dir, "o_orderdate",
          Some("1996-01-01"), Some("1996-12-31"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // LOG CHECKPOINTING: 12 commits cross the checkpoint cadence (the
    // v9 commit folds live set + stats into _txlog/00000009.checkpoint
    // and advances _last_checkpoint), so the head read resolves from
    // ONE checkpoint plus a 2-entry tail — the require counts metadata
    // file reads through LogStore and pins the O(checkpoint + tail)
    // contract that keeps a busy table's driver-side log replay flat as
    // commit count grows (the Delta _last_checkpoint mechanics). Built
    // fresh per run: the checkpoint write path IS the thing measured.
    "table_log_checkpoint" -> ((s, d) => {
      val dir = s"/tmp/graft_txcp_${new java.io.File(d).getName}"
      val root = new java.io.File(dir)
      if (root.isDirectory)
        graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      (0 until 12).foreach(i =>
        graft.sources.TxLog.append(o.filter(col("o_orderkey") % 12 === i), dir))
      val before = graft.sources.LogStore.metaReads.get()
      val segs = graft.sources.TxLog.liveSegments(dir)
      val reads = graft.sources.LogStore.metaReads.get() - before
      require(segs.size == 12 &&
          reads <= 2 + graft.sources.TxLog.CheckpointInterval,
        s"checkpointed head read regressed: segs=${segs.size} metaReads=$reads")
      graft.sources.TxLog.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // SHALLOW CLONE of the log table (zero-copy): v0 of the clone
    // REFERENCES the source's segments in place — the require pins
    // that not one data directory was copied — then a CoW delete on
    // the CLONE diverges it (rewrites land in the clone's dir; the
    // source head and contents stay untouched, also require-pinned).
    // The dev/test-sandbox primitive at 100 TB: a full logical copy
    // for the cost of one metadata commit.
    "table_log_clone" -> ((s, d) => {
      val src = txStatsCache(s, d)
      val dir = s"/tmp/graft_txclone_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val srcHead = graft.sources.TxLog.headVersion(src)
      graft.sources.TxLog.cloneShallow(src, dir)
      require(!new java.io.File(dir).listFiles.exists(f =>
          f.isDirectory && f.getName != "_txlog"),
        "shallow clone must copy zero data bytes")
      graft.sources.TxLog.delete(s, dir, "o_orderkey % 1000 = 1")
      require(graft.sources.TxLog.headVersion(src) == srcHead,
        "clone DML must not move the source head")
      graft.sources.TxLog.read(s, dir)
        .groupBy(substring(col("o_orderdate"), 1, 4).as("yr"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          sum(when(col("o_orderkey") < 0, 1L).otherwise(0L)).as("inserted"))
        .orderBy("yr")
    }),

    // TARGETED CLONE LOCALIZATION: a shallow clone of the MoR table
    // (every data segment AND dv sidecar is an external absolute-path
    // ref into the source) plus one owned appended tail; localize()
    // rewrites ONLY the borrowed set into owned storage — the owned
    // tail carries by reference (require-pinned), and afterwards no
    // external ref survives, so a source-side vacuum can no longer
    // break the clone. The sever-the-dependency op whose cost is the
    // borrowed bytes, never the whole table.
    "table_log_localize" -> ((s, d) => {
      val src = txMorCache(s, d)
      val dir = s"/tmp/graft_txloc_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      graft.sources.TxLog.cloneShallow(src, dir)
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 500 === 9)
        .withColumn("o_orderkey", -col("o_orderkey")), dir)
      val owned = graft.sources.TxLog.liveSegments(dir)
        .filterNot(_.startsWith("/"))
      require(owned.size == 1, s"scenario: one owned segment, got $owned")
      val v = graft.sources.TxLog.localize(s, dir)
      require(v.nonEmpty &&
          graft.sources.TxLog.commitOp(dir, v.get) == "localize",
        s"expected a localize commit, got $v")
      val live = graft.sources.TxLog.liveSegments(dir)
      require(live.forall(!_.startsWith("/")),
        s"external refs survived localize: $live")
      require(live.contains(owned.head),
        "owned segments must carry by reference, not rewrite")
      require(graft.sources.TxLog.localize(s, dir).isEmpty,
        "nothing borrowed left: localize must be a no-op now")
      graft.sources.TxLog.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          sum(when(col("o_orderkey") < 0, 1L).otherwise(0L)).as("inserted"))
        .orderBy("o_orderstatus")
    }),

    // SMALL-FILE COMPACTION on the log table (OPTIMIZE bin-packing
    // mode): one big append + three micro-batch-sized appends, then
    // compactSmall coalesces ONLY the small tail — the big segment
    // survives by reference (require-pinned), sizes decided from
    // filesystem metadata without reading data. The maintenance op
    // that keeps a streaming-ingest table's file count bounded without
    // ever rewriting the bulk. Built fresh per run: the op IS the
    // thing measured.
    "table_log_compact_small" -> ((s, d) => {
      val dir = s"/tmp/graft_txsmall_${new java.io.File(d).getName}"
      val root = new java.io.File(dir)
      if (root.isDirectory)
        graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 4 =!= 3), dir)
      Seq(3, 7, 11).foreach(r =>
        graft.sources.TxLog.append(o.filter(col("o_orderkey") % 12 === r), dir))
      val big = graft.sources.TxLog.liveSegments(dir, 0).head
      def bytes(seg: String): Long =
        new java.io.File(dir, seg).listFiles.map(_.length).sum
      val v = graft.sources.TxLog.compactSmall(s, dir, smallBytes = bytes(big))
      require(v.contains(4) &&
          graft.sources.TxLog.commitOp(dir, 4) == "compact_small",
        s"expected compact_small at v4, got $v")
      val live = graft.sources.TxLog.liveSegments(dir).toSet
      require(live.contains(big) && live.size == 2,
        s"big segment must carry by reference; live=$live")
      graft.sources.TxLog.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // RESTORE on the log table: v3 reset the head to v1's segment set
    // (undoing v2's delete by RE-REFERENCE, no data copied); the head
    // read must equal the full pre-delete table, while the deleted
    // state stays time-travelable at v2 (the require pins both, and
    // that restore moved the head instead of rewriting history).
    "table_log_restore" -> ((s, d) => {
      val dir = txRestoreCache(s, d)
      require(graft.sources.TxLog.headVersion(dir) == 3 &&
          graft.sources.TxLog.commitOp(dir, 3) == "restore",
        "restore must be a new commit, not history rewrite")
      require(graft.sources.TxLog.liveSegments(dir, 3).toSet ==
          graft.sources.TxLog.liveSegments(dir, 1).toSet,
        "restored head must re-reference v1's exact segment set")
      graft.sources.TxLog.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // MERGE-ON-READ DELETE (deletion vectors) on the log table: v2
    // tombstoned o_custkey%7=3 in a dv-* sidecar WITHOUT rewriting a
    // segment — the requires pin exactly that (live set unchanged from
    // v1, op = delete_mor, and the commit entry records per-segment
    // tombstone counts so the read-side broadcast decision is pure
    // metadata). The read subtracts tombstones via a broadcast anti
    // join; the narrow-DML answer for wide tables at 100 TB, where a
    // 1-row delete must not cost a segment-sized rewrite.
    "table_log_dv" -> ((s, d) => {
      val dir = txMorCache(s, d)
      require(graft.sources.TxLog.commitOp(dir, 2) == "delete_mor",
        "v2 must be the merge-on-read delete")
      require(graft.sources.TxLog.liveSegments(dir, 2).toSet ==
          graft.sources.TxLog.liveSegments(dir, 1).toSet,
        "deleteMoR must not add or rewrite any segment")
      graft.sources.TxLog.read(s, dir, asOf = 2)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // MERGE-ON-READ UPDATE on the log table: v3 appended ONE segment
    // of new images (cents += 111 where o_custkey%7=4) and tombstoned
    // the old images — write cost ∝ matched rows, not dirty segments
    // (the require pins exactly one added segment over v1's unchanged
    // set). The head read proves tombstone subtraction composes across
    // two stacked MoR commits (v2's delete + v3's update).
    "table_log_update_mor" -> ((s, d) => {
      val dir = txMorCache(s, d)
      require(graft.sources.TxLog.commitOp(dir, 3) == "update_mor",
        "v3 must be the merge-on-read update")
      val v1 = graft.sources.TxLog.liveSegments(dir, 1).toSet
      val v3 = graft.sources.TxLog.liveSegments(dir, 3).toSet
      require(v1.subsetOf(v3) && (v3 -- v1).size == 1,
        "updateMoR must append exactly one new-image segment")
      graft.sources.TxLog.read(s, dir, asOf = 3)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // MERGE-ON-READ MERGE (upsert) on the log table — the MoR triad's
    // third leg: v4 tombstoned the matched o_orderkey%500=7 old rows
    // and added ONE segment that IS the updates frame (replacements +
    // the inserted negative keys) — no target segment rewritten, no
    // byte written twice (the require pins exactly one added segment
    // over v3's unchanged set). The head read stacks three MoR commits'
    // tombstones; the oracle replays delete+update+merge relationally.
    "table_log_merge_mor" -> ((s, d) => {
      val dir = txMorCache(s, d)
      require(graft.sources.TxLog.commitOp(dir, 4) == "merge_mor",
        "v4 must be the merge-on-read upsert")
      val v3 = graft.sources.TxLog.liveSegments(dir, 3).toSet
      val v4 = graft.sources.TxLog.liveSegments(dir, 4).toSet
      require(v3.subsetOf(v4) && (v4 -- v3).size == 1,
        "mergeMoR must append exactly the updates segment")
      graft.sources.TxLog.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          sum(when(col("o_orderkey") < 0, 1L).otherwise(0L)).as("inserted"))
        .orderBy("o_orderstatus")
    }),

    // DELETION-VECTOR SIDECAR COALESCING — the MoR maintenance op:
    // three narrow deletes pile one dv-* sidecar each onto BOTH order
    // halves (every scan of a segment reads ALL of its sidecars);
    // coalesceDvs rewrites the crowded mappings into ONE
    // distinct-coordinate sidecar per table as a METADATA-ONLY commit —
    // the live segment set is untouched (require-pinned) and a second
    // call finds nothing crowded. Bounds read amplification under
    // sustained narrow DML; cost ∝ tombstone coordinates, never data.
    "table_log_dv_coalesce" -> ((s, d) => {
      val dir = s"/tmp/graft_txdvc_${new java.io.File(d).getName}"
      val root = new java.io.File(dir)
      if (root.isDirectory)
        graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 0), dir)
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 1), dir)
      Seq(1, 2, 3).foreach(r =>
        graft.sources.TxLog.deleteMoR(s, dir, s"o_custkey % 100 = $r"))
      require(root.listFiles.count(_.getName.startsWith("dv-")) == 3,
        "scenario: three narrow deletes must leave three sidecars")
      val liveBefore = graft.sources.TxLog.liveSegments(dir).toSet
      val v = graft.sources.TxLog.coalesceDvs(s, dir, maxSidecars = 1)
      require(v.nonEmpty &&
          graft.sources.TxLog.commitOp(dir, v.get) == "dv_coalesce",
        s"expected a dv_coalesce commit, got $v")
      require(graft.sources.TxLog.liveSegments(dir).toSet == liveBefore,
        "metadata-only: the live segment set must be untouched")
      require(graft.sources.TxLog.coalesceDvs(s, dir, maxSidecars = 1).isEmpty,
        "sidecar counts must now be bounded")
      graft.sources.TxLog.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // ROW-LEVEL CHANGE DATA FEED across the MoR stack: every change of
    // commits v2..v4 with its _change_type — v2's tombstoned rows
    // surface as `delete` PRE-IMAGES (resolved from the deletion
    // vector's row coordinates against the immutable segment bytes),
    // v3 as update_preimage/update_postimage pairs, v4's merge as
    // delete+insert pairs — the downstream-sync surface that replays a
    // table's DML without rescanning it. Aggregated per (version,
    // change_type); the oracle recomputes every class relationally.
    "table_log_cdf_rich" -> ((s, d) => {
      val dir = txMorCache(s, d)
      graft.sources.TxLog.readChangeFeed(s, dir, fromVersion = 1)
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("version", "change_type")
    }),

    // INCREMENTAL MATERIALIZED-VIEW maintenance from the CHANGE FEED —
    // what the row-level CDF is FOR: the standing per-status aggregate
    // (materialized at v1, before any DML) absorbs v2's MoR delete,
    // v3's MoR update, and v4's MoR merge as SIGNED DELTAS
    // (insert/update_postimage +1, delete/update_preimage −1) without
    // ever rescanning the base table — refresh cost is |changes| +
    // |MV|, so a 100 TB fact table refreshes in O(day's DML). The
    // oracle recomputes the head state from scratch: the hash match IS
    // the proof that signed-delta maintenance ≡ full recompute across
    // all three MoR DML shapes. The require pins that only logical
    // changes feed the algebra (a rewrite commit would double-count).
    "table_log_mv_refresh" -> ((s, d) => {
      val dir = txMorCache(s, d)
      val mv = graft.sources.TxLog.read(s, dir, asOf = 1)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      val changes = graft.sources.TxLog.readChangeFeed(s, dir, fromVersion = 1)
      val dmlOps = Set("delete_mor", "update_mor", "merge_mor")
      require(Range(2, graft.sources.TxLog.headVersion(dir) + 1)
          .forall(v => dmlOps(graft.sources.TxLog.commitOp(dir, v))),
        "mv refresh scenario must contain only logical-change commits")
      Relational.mvRefresh(mv, changes, Seq("o_orderstatus"), Seq("cents"))
        .orderBy("o_orderstatus")
    }),

    // COLUMN MAPPING (metadata-only RENAME + DROP): cents is renamed to
    // `revenue` in a one-line commit — segment bytes keep the PHYSICAL
    // name forever; reads re-label, writes un-label — then the odd half
    // is appended UNDER the new name (its footer stores the physical
    // name: one uniform storage schema), an MoR update runs in logical
    // terms, o_custkey is dropped metadata-only, and the final
    // aggregate proves the logical view exact. The requires pin the
    // zero-rewrite property (rename/drop commits add no segments), that
    // the stats index unifies across pre-/post-rename segments (an
    // impossible range prunes EVERY segment via stats recorded under
    // both labels), and that the dropped column is gone. At 100 TB:
    // renaming or dropping a column is one tiny log entry, never a
    // table rewrite.
    "table_log_rename" -> ((s, d) => {
      val dir = txRenameCache(s, d)
      require(graft.sources.TxLog.commitOp(dir, 1) == "rename_column" &&
          graft.sources.TxLog.commitOp(dir, 4) == "drop_column",
        "rename/drop must be their own commits")
      require(graft.sources.TxLog.liveSegments(dir, 1).toSet ==
          graft.sources.TxLog.liveSegments(dir, 0).toSet,
        "rename must not touch the live set")
      val (kept, _) = graft.sources.TxLog.pruneRange(
        dir, "revenue", Some("99999999999"), None)
      require(kept.isEmpty,
        "stats under the logical name must prune every segment")
      val out = graft.sources.TxLog.read(s, dir)
      require(!out.columns.contains("o_custkey") &&
          !out.columns.contains("cents"),
        "dropped and renamed-away labels must not surface")
      out.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("revenue")).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // copy-on-write UPDATE on the log table — the DML triad's third
    // leg (DELETE / MERGE / UPDATE): cents bumped where o_custkey%10=3,
    // only match-bearing segments rewritten. Reads AS OF the update
    // commit so the later z-order rewrite stays out of frame.
    "table_log_update" -> ((s, d) => {
      val dir = txDmlCache(s, d)
      graft.sources.TxLog.read(s, dir, asOf = 2)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // OPTIMIZE WHERE (Delta's predicate-scoped OPTIMIZE): v4
    // re-clustered ONLY the segments whose [min,max] date stats
    // intersect the 1996-1998 frame — selected from log metadata, no
    // data read to decide — into 4 date-ordered segments; the 1995
    // and 1999-2001 slices carried by reference. The nightly shape
    // for date-sliced ingest at 100 TB: re-cluster yesterday without
    // touching the other 99.9%.
    "table_log_optimize_where" -> ((s, d) => {
      val dir = txOptWhereCache(s, d)
      require(graft.sources.TxLog.commitOp(dir, 4) == "optimize_where",
        "v4 must be the OPTIMIZE WHERE commit")
      val before = graft.sources.TxLog.liveSegments(dir, 3).toSet
      val after = graft.sources.TxLog.liveSegments(dir, 4).toSet
      require((before intersect after).size == 2,
        "exactly the out-of-frame 1995 and 1999+ slices carry by reference")
      require(after.size == 6, s"2 carried + 4 re-clustered, got ${after.size}")
      // fresh stats on the rewritten segments keep the frame skippable
      val (kept, _) = graft.sources.TxLog.pruneRange(
        dir, "o_orderdate", Some("1996-06-01"), Some("1996-06-30"))
      require(kept.size < after.size,
        "re-clustered segments must remain range-skippable")
      graft.sources.TxLog.read(s, dir)
        .groupBy(substring(col("o_orderdate"), 1, 4).as("yr"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("yr")
    }),

    // GENERATED COLUMNS (Delta's GENERATED ALWAYS AS): v1 recorded the
    // bucket = cents DIV 1000 contract after validating every existing
    // row satisfies it; the odd half, appended WITHOUT bucket, got it
    // computed at staging, and a wrong-valued batch is refused by the
    // same single staged scan that enforces CHECK constraints. Writer
    // floor 3; readers untouched.
    "table_log_generated" -> ((s, d) => {
      val dir = txGenCache(s, d)
      require(graft.sources.TxLog.commitOp(dir, 1) == "add_generated",
        "v1 must be the ADD GENERATED commit")
      require(graft.sources.TxLog.generatedOf(dir) ==
          Map("bucket" -> "CAST(cents DIV 1000 AS BIGINT)"),
        "generated contract must be table metadata")
      require(graft.sources.TxLog.protocolOf(dir) == ((1, 3)),
        "generated columns raise the writer floor only")
      graft.sources.TxLog.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          sum(col("bucket")).as("buckets"))
        .orderBy("o_orderstatus")
    }),

    // COLUMN DEFAULTS (Delta's defaultColumns writer feature): v1
    // recorded SET DEFAULT in one metadata commit; the odd-half batch
    // appended WITHOUT the column got it materialized at staging,
    // while the even half keeps its explicit values. Writer floor
    // rises to 3 (an older writer would silently append nulls where
    // the table promises a default); readers untouched. Rewrites
    // never back-fill — pre-default rows keep reading null.
    "table_log_default" -> ((s, d) => {
      val dir = txDefCache(s, d)
      require(graft.sources.TxLog.commitOp(dir, 1) == "set_default",
        "v1 must be the SET DEFAULT commit")
      require(graft.sources.TxLog.defaultsOf(dir) ==
          Map("src" -> "'defaulted'"), "default must be table metadata")
      require(graft.sources.TxLog.protocolOf(dir) == ((1, 3)),
        "defaults raise the writer floor only")
      graft.sources.TxLog.read(s, dir)
        .groupBy("src")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("src")
    }),

    // PERSISTENT CHECK CONSTRAINTS (Delta's ALTER TABLE ADD
    // CONSTRAINT — metadata-recorded, vs table_log_constraints'
    // per-call form): v1 validated every existing row then recorded
    // the predicate; from then on EVERY row-adding write (append /
    // overwrite / update / merge / streaming) is enforced at the one
    // segment-staging choke point, and the WRITER floor rises to 3 so
    // a pre-constraint client refuses to append rows it never knew to
    // check. Readers are untouched (floor stays 1).
    "table_log_add_constraint" -> ((s, d) => {
      val dir = txConsCache(s, d)
      require(graft.sources.TxLog.commitOp(dir, 1) == "add_constraint",
        "v1 must be the ADD CONSTRAINT commit")
      require(graft.sources.TxLog.constraintsOf(dir) ==
          Map("cents_nonneg" -> "cents >= 0"),
        "constraint must be table metadata")
      require(graft.sources.TxLog.protocolOf(dir) == ((1, 3)),
        "constraints raise the writer floor only")
      graft.sources.TxLog.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // PROTOCOL versioning (Delta's reader/writer protocol): v1 raised
    // the table's format floor to 2|2 in one metadata-only commit;
    // feature commits (DVs, column mapping) record the same bump
    // automatically. A client below the floor fails loud instead of
    // misreading — the safety latch that lets a 1000-reader fleet roll
    // format upgrades without a flag day. The floor is versioned
    // state: time travel before v1 still reads as 1|1.
    "table_log_protocol" -> ((s, d) => {
      val dir = txProtoCache(s, d)
      require(graft.sources.TxLog.commitOp(dir, 1) == "upgrade_protocol",
        "v1 must be the upgrade commit")
      require(graft.sources.TxLog.protocolOf(dir) == ((2, 2)),
        "head floor must be 2|2")
      require(graft.sources.TxLog.protocolOf(dir, asOf = 0) == ((1, 1)),
        "pre-upgrade snapshots must still read as 1|1")
      graft.sources.TxLog.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // REPLACE WHERE (predicate-scoped atomic overwrite — Delta's
    // replaceWhere, the general form of dynamic partition overwrite):
    // v3 restated the 1996-01..1997-06 frame with cents+1000 in ONE
    // commit. The all-match 1996 segment dropped WHOLESALE (metadata
    // removal, bytes never read for rewrite), the no-match 1995
    // segment carried by reference, only the straddling 1997-2001
    // segment was rewritten. At 100 TB: a one-day backfill removes
    // that day's segments by name and never touches the other 99.9%.
    "table_log_replace_where" -> ((s, d) => {
      val dir = txReplaceCache(s, d)
      require(graft.sources.TxLog.commitOp(dir, 3) == "replace_where",
        "v3 must be the replaceWhere commit")
      val v0segs = graft.sources.TxLog.liveSegments(dir, 0).toSet
      val v1new = graft.sources.TxLog.liveSegments(dir, 1).toSet -- v0segs
      val live = graft.sources.TxLog.liveSegments(dir, 3).toSet
      require((v1new -- live).isEmpty,
        "the no-match segment must carry over by reference")
      require((v0segs & live).isEmpty,
        "the all-match segment must drop wholesale")
      // both replace-written segments carry stats: a 1995 range query
      // prunes them from metadata and keeps only the 1995 append
      val (kept, pruned) = graft.sources.TxLog.pruneRange(
        dir, "o_orderdate", Some("1995-01-01"), Some("1995-12-31"))
      require(kept.size == 1 && pruned.size == 2,
        s"replace-written segments must be stats-prunable: kept=$kept")
      graft.sources.TxLog.read(s, dir)
        .groupBy(substring(col("o_orderdate"), 1, 4).as("yr"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("yr")
    }),

    // Z-ORDER OPTIMIZE on the log table: v3 re-clustered 16 segments by
    // zorder2(o_custkey, o_orderkey DIV 4) — interleaved bits give BOTH
    // dimensions partial locality, so single-column range queries on
    // EITHER dimension prune from log metadata (a plain sort clusters
    // one and leaves the other unprunable; the requires assert both).
    "table_log_zorder" -> ((s, d) => {
      val dir = txDmlCache(s, d)
      val (_, pc) = graft.sources.TxLog.pruneRange(dir, "o_custkey",
        Some("30"), Some("59"))
      val (_, po) = graft.sources.TxLog.pruneRange(dir, "o_orderkey",
        Some("300"), Some("599"))
      require(pc.nonEmpty && po.nonEmpty,
        s"z-order lost multi-dim skipping: custkey pruned=${pc.size}, " +
          s"orderkey pruned=${po.size}")
      graft.sources.TxLog.readRange(s, dir, "o_custkey", Some("30"), Some("59"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // TIMESTAMP time travel on the log table (timestampAsOf): the
    // instant of commit v1 (its log entry's mtime — no clock is
    // written; the filesystem records one) resolves back to v1 by
    // binary search over entry mtimes, O(log versions) metadata stats.
    // The snapshot read equals the first two date-slice appends; later
    // commits (v2..v5 appends/merge/optimize) are out of frame.
    "table_log_timetravel_ts" -> ((s, d) => {
      val dir = txStatsCache(s, d)
      val ts = graft.sources.TxLog.commitTimestamp(dir, 1)
      // at-or-before ties resolve to the LATEST tied commit, so a v2
      // sharing v1's millisecond would make the resolution ambiguous —
      // impossible in this scenario (every commit runs parquet write
      // jobs), but fail with the real reason rather than a confusing
      // resolution mismatch if the testdata build ever changes that
      require(graft.sources.TxLog.commitTimestamp(dir, 2) > ts,
        "scenario drift: commits v1/v2 share a millisecond mtime")
      require(graft.sources.TxLog.versionAsOfTimestamp(dir, ts) == 1,
        "v1's own instant must resolve to v1")
      require(graft.sources.TxLog.versionAsOfTimestamp(
          dir, System.currentTimeMillis()) == graft.sources.TxLog.headVersion(dir),
        "now must resolve to the head")
      graft.sources.TxLog.readAsOfTimestamp(s, dir, ts)
        .groupBy(substring(col("o_orderdate"), 1, 4).as("yr"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("yr")
    }),

    // CHANGE DATA FEED on the log table: everything committed AFTER
    // version 1, tagged with commit version/op — the poll-for-changes
    // surface a downstream sync reads instead of re-scanning the table.
    // Appends 2 and 3 are the exact date-range slices; the PURE
    // REARRANGEMENT at v5 (optimize) emits nothing at all, and the
    // content-changing merge rewrite arrives op-tagged and is filtered
    // here, as an append-only consumer would.
    "table_log_cdf" -> ((s, d) => {
      val dir = txStatsCache(s, d)
      graft.sources.TxLog.readChangesSince(s, dir, fromVersion = 1)
        .filter(col("_commit_op") === "append")
        .groupBy(col("_commit_version").as("version"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("version")
    }),

    // DESCRIBE HISTORY on the log table: the audit surface — one row
    // per commit from log metadata alone (no data file opened). The
    // op sequence of the shared scenario is pinned; segment COUNTS are
    // covered by TxLogStatsSpec on synthetic tables (optimize's range
    // partitioner may produce boundary-dependent file counts at
    // different scales, so they stay out of the cross-engine hash).
    "table_log_history" -> ((s, d) => {
      val dir = txStatsCache(s, d)
      graft.sources.TxLog.history(s, dir)
        .select(col("version"), col("op"))
        .orderBy("version")
    }),

    // BLOOM-FILTER point-lookup skipping on the log table: o_orderkey
    // is spread across every date-range segment, so min/max stats CANNOT
    // prune a key lookup — the per-segment Bloom recorded at append
    // proves absence and the lookup touches only the one segment
    // holding the key (the require asserts ≥2 of 4 pruned per probe).
    // The 100 TB needle-in-haystack path; false positives only cost an
    // extra scan, never correctness.
    "table_log_bloom" -> ((s, d) => {
      val dir = txStatsCache(s, d)
      Seq("777", "778", "779").foreach { key =>
        val (kept, pruned) = graft.sources.TxLog.prunePoint(
          dir, "o_orderkey", key, asOf = 3)
        require(pruned.size >= 2,
          s"bloom pruning regressed for key $key: kept=$kept pruned=$pruned")
      }
      Seq("777", "778", "779").map { key =>
        graft.sources.TxLog.readPoint(s, dir, "o_orderkey", key, asOf = 3)
      }.reduce(_ unionByName _)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("cents"))
        .orderBy("o_orderkey")
    }),

    // copy-on-write MERGE (upsert) on the log table: updates bump
    // cents for o_orderkey%500=7 and insert brand-new negative keys;
    // only segments containing a matched key were rewritten (clean
    // ones carried by reference — TxLogStatsSpec pins that). The head
    // read groups by order year so every range segment contributes to
    // the hash; the oracle replays the merge relationally.
    "table_log_merge" -> ((s, d) => {
      val dir = txStatsCache(s, d)
      graft.sources.TxLog.read(s, dir)
        .groupBy(substring(col("o_orderdate"), 1, 4).as("yr"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          sum(when(col("o_orderkey") < 0, 1L).otherwise(0L)).as("inserted"))
        .orderBy("yr")
    }),

    // CHECK-constraint enforcement on the log table (Delta's table
    // constraints): a clean batch commits, a violating batch is
    // REJECTED before any commit (the require asserts rejection AND
    // that the head did not move AND that its staged bytes were
    // reclaimed), a second clean batch commits — readers can rely on
    // the invariant holding for every visible row. Writer-side
    // enforcement is the 100 TB shape: one distributed violation count
    // per batch, never a post-hoc full-table audit.
    "table_log_constraints" -> ((s, d) => {
      val dir = s"/tmp/graft_txcheck_${new java.io.File(d).getName}"
      val root = new java.io.File(dir)
      graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val checks = Seq("cents >= 0", "o_orderkey IS NOT NULL")
      graft.sources.TxLog.appendChecked(s,
        o.filter(col("o_orderkey") % 3 === 0), dir, checks)
      val rejected =
        try {
          graft.sources.TxLog.appendChecked(s,
            o.filter(col("o_orderkey") % 3 === 1)
              .withColumn("cents", -col("cents") - 1), dir, checks)
          false
        } catch { case _: IllegalArgumentException => true }
      require(rejected && graft.sources.TxLog.headVersion(dir) == 0,
        "violating batch must be rejected without committing")
      require(!root.listFiles.exists(f => f.getName.startsWith("seg-") &&
          !graft.sources.TxLog.liveSegments(dir).contains(f.getName)),
        "rejected batch leaked staged bytes")
      graft.sources.TxLog.appendChecked(s,
        o.filter(col("o_orderkey") % 3 === 2), dir, checks)
      graft.sources.TxLog.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // binaryFile source — the multimodal ingest entry point: opaque
    // blobs arrive as (path, length, content) rows; identity/size/
    // digest derive WITHOUT decoding. Blob bytes are a deterministic
    // function of the file index so the oracle recomputes every digest
    // from first principles with no filesystem access.
    "scan_binaryfile" -> ((s, d) => {
      val cache = new java.io.File("/tmp/graft_bin_blobs")
      if (!new java.io.File(cache, "_graft_done").exists) {
        java.nio.file.Files.createDirectories(cache.toPath)
        for (i <- 0 until 40) {
          val content = ("graft-blob-" + i + ";") * (i % 5 + 1)
          java.nio.file.Files.write(
            cache.toPath.resolve(f"blob_$i%02d.bin"),
            content.getBytes("UTF-8"))
        }
        new java.io.FileOutputStream(new java.io.File(cache, "_graft_done")).close()
      }
      s.read.format("binaryFile").load(cache.toString + "/*.bin")
        .select(
          regexp_extract(col("path"), "blob_([0-9]+)\\.bin", 1)
            .cast("long").as("blob_id"),
          col("length"), md5(col("content")).as("digest"))
        .orderBy("blob_id")
    }),

    // JSONL source: line-delimited JSON scan with declared schema (the
    // big-data JSON shape); same round-trip-vs-parquet-oracle contract
    "scan_json" -> ((s, d) => {
      val cache = cachedDir(
        s"/tmp/graft_json_${new java.io.File(d).getName}", d, Seq("orders")) { out =>
        LocalFs.writer(orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
          .coalesce(1)).mode("overwrite").json(out)
      }
      s.read
        .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .json(cache)
        .orderBy("o_orderkey")
    }),

    // §2.4 A1/A4 — count distinct (the N counter analog)
    "count_distinct" -> ((s, d) =>
      orders(s, d).agg(countDistinct(col("o_custkey")).as("n"))),

    // §2.4 — HLL sketch variant, the 100 TB path for A1. The raw HLL
    // estimate differs across engines, so the ORACLE-CHECKABLE surface
    // (r15) is the error CONTRACT: the exact count (hash-matched
    // against DuckDB's COUNT DISTINCT) plus a boolean asserting the
    // estimate landed within 5×rsd of it — DuckDB answers `true` by
    // definition, so a drifting estimator hash-mismatches the gate
    // instead of hiding behind rows-only.
    "approx_distinct" -> ((s, d) =>
      orders(s, d).agg(
          countDistinct(col("o_custkey")).as("n_exact"),
          approx_count_distinct(col("o_custkey"), 0.02).as("approx"))
        .select(col("n_exact"),
          (abs(col("approx") - col("n_exact")) <=
            col("n_exact") * lit(0.10)).as("within_bound"))),

    // §2.4 A2 — group + sorted collect list + concat (posting-list shape)
    "group_collect_list" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(concat_ws(",",
          transform(sort_array(collect_list(col("o_orderkey"))), _.cast("string")))
          .as("orderkeys"))
        .orderBy("o_custkey")),

    // §2.10 — the reference's InvertedIndex.java end-to-end
    "inverted_index" -> ((s, d) =>
      InvertedIndex.postingStrings(documents(s, d), "doc_id", "text")
        .orderBy("word")),

    // the range-salted skew variant (InvertedIndex.postingsSalted):
    // bit-identical contract proven against the SAME oracle SQL as
    // inverted_index; rangeWidth=64 forces real multi-bucket concat at
    // this SF rather than degenerating to one salt bucket
    "inverted_index_salted" -> ((s, d) =>
      InvertedIndex.postingsSalted(documents(s, d), "doc_id", "text",
          rangeWidth = 64L)
        .select(col("word"), concat_ws(",",
          transform(col("postings"), _.cast("string"))).as("doc_ids"))
        .orderBy("word")),

    // incremental materialized-view maintenance: the standing aggregate
    // absorbs a delta batch by MERGING PARTIAL AGGREGATES (count/sum
    // are commutative monoids) instead of rescanning the fact table —
    // at 100 TB the refresh touches |delta| + |MV| rows, not the
    // corpus. The oracle is the full direct recompute over base+delta:
    // a hash-match IS the proof that merge ≡ recompute
    "agg_incremental" -> ((s, d) => {
      val o = orders(s, d).select(col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderkey"))
      val base  = o.filter(col("o_orderkey") % 7 =!= 0) // the standing MV's input
      val delta = o.filter(col("o_orderkey") % 7 === 0) // the arriving batch
      def partial(df: DataFrame) = df.groupBy("pri")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      partial(base).unionByName(partial(delta))
        .groupBy("pri")
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("revenue_cents"))
        .orderBy("pri")
    }),

    // §2.4 A3 — group + sum (TPC-H Q1 shape; cent-exact aggregates)
    "group_sum" -> ((s, d) =>
      lineitem(s, d)
        .filter(expr("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Relational.fixedPointSum(col("l_quantity"), 0).as("sum_qty"),
          Relational.moneySum(col("l_extendedprice")).as("sum_base"),
          round(Relational.fixedPointSum(
            col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            / lit(10000.0), 4).as("sum_disc_price"),
          Relational.fixedPointAvg(col("l_quantity"), 0, 6).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    // §2.5 J1 — inner equi-join (fact × dim)
    "join_inner" -> ((s, d) => {
      val o = orders(s, d); val c = customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // §2.5 J2 — left outer join (adjacency re-attach analog)
    "join_left" -> ((s, d) => {
      val c = customer(s, d); val o = orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    // right outer (the J2 mirror — completes the join matrix)
    "join_right" -> ((s, d) => {
      val c = customer(s, d).filter(col("c_acctbal") > 9000)
      val o = orders(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    // §2.5 J1 — semi join (the "page exists" marker filter analog)
    "join_semi" -> ((s, d) => {
      val c = customer(s, d)
      val big = orders(s, d).filter(col("o_totalprice") > 200000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // §2.5 — anti join (the dropped red-link complement)
    "join_anti" -> ((s, d) => {
      val c = customer(s, d)
      val big = orders(s, d).filter(col("o_totalprice") > 200000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // null-safe equality join (<=>): NULL keys MATCH each other — the
    // semantics regular equi-joins silently drop; keys made nullable via
    // nullif so both engines exercise the null-match branch
    "join_null_safe" -> ((s, d) => {
      val o = orders(s, d)
        .select(col("o_orderkey"), nullif(col("o_orderstatus"), lit("O")).as("k"))
      val dim = orders(s, d).select(nullif(col("o_orderstatus"), lit("O")).as("k"))
        .distinct().withColumn("tag", coalesce(col("k"), lit("open")))
      o.join(dim, o("k") <=> dim("k"))
        .select(col("o_orderkey"), col("tag"))
        .orderBy("o_orderkey")
    }),

    // §2.5 — full outer join: per-nation high-balance customer vs supplier
    // counts; thresholds make the key sets asymmetric so both outer sides
    // produce null-padded rows
    "join_full" -> ((s, d) => {
      val c = customer(s, d).filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
      val sup = supplier(s, d).filter(col("s_acctbal") > 9000)
        .groupBy(col("s_nationkey").as("nk2")).agg(count(lit(1)).as("n_supp"))
      c.join(sup, c("nk") === sup("nk2"), "full")
        .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
          col("n_cust"), col("n_supp"))
        .orderBy("nationkey")
    }),

    // §2.7 — union all (tagged-row multiplexing, first-class)
    "union_all" -> ((s, d) =>
      customer(s, d).select(col("c_custkey").as("id"), lit("customer").as("src"))
        .unionByName(
          supplier(s, d).select(col("s_suppkey").as("id"), lit("supplier").as("src")))
        .orderBy("src", "id")),

    // §2.6 O1 — global descending sort (range-partitioned, not 1-reducer)
    "sort_desc" -> ((s, d) =>
      orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))),

    // §2.6 — top-k (plans TakeOrderedAndProject: no global sort at scale)
    "topk_limit" -> ((s, d) =>
      orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)),

    // §2.9 — window functions: ranking + partition aggregate
    "window_rank" -> ((s, d) => {
      val byCust = Window.partitionBy("o_custkey")
      val rankW = byCust.orderBy(desc("o_totalprice"), asc("o_orderkey"))
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          row_number().over(rankW).cast("long").as("rn"),
          round(sum(col("o_totalprice")).over(byCust), 2).as("cust_total"))
        .orderBy("o_orderkey")
    }),

    // §2.9 — window frame: per-customer running total by order date
    "window_running" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
        .orderBy("o_orderkey")
    }),

    // §2.9 — offset windows (lag/lead) + ntile bucketing in one pass:
    // a single partitioned sort serves all three window functions
    "window_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_orderkey")
    }),

    // §2.9 — RANGE frame over event TIME (not row offsets): each event's
    // per-user trailing-hour total. Value sums are cent-integers (the
    // float sum would be partial-order-dependent); RANGE includes ts
    // peers on both engines, so ties are deterministic by construction
    "window_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, Window.currentRow)
      events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("hour_total", round(sum(col("cents")).over(w) / 100.0, 2))
        .select("event_id", "user_id", "ts_us", "hour_total")
        .orderBy("event_id")
    }),

    // as-of join (operator Spark lacks; union+window formulation, oracle
    // is DuckDB's NATIVE ASOF JOIN — an independent implementation):
    // each purchase enriched with the user's latest prior-or-equal click
    "join_asof" -> ((s, d) => {
      val ev = events(s, d).withColumn("t_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      // dedupe the right side per (key, ts): keep the max-event_id click
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "t_us")
        .agg(max(struct(col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("t_us"),
          col("m.event_id").as("click_id"), col("m.value").as("click_value"))
      graft.ops.AsOfJoin.asOf(purchases, clicks, "user_id", "t_us",
          Seq("click_id", "click_value"))
        .filter(col("click_id").isNotNull) // inner semantics like ASOF JOIN
        .orderBy("event_id")
    }),

    // the same as-of join through the CUSTOM PLAN route (§7.3 step c):
    // AsOfJoinPlan logical node → AsOfJoinStrategy → co-partitioned
    // merge-scan exec. Must hash-match the identical DuckDB oracle as
    // join_asof (the union+window form is the engine-internal cross-check)
    "join_asof_merge" -> ((s, d) => {
      val ev = events(s, d).withColumn("t_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "t_us")
        .agg(max(struct(col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("t_us"),
          col("m.event_id").as("click_id"), col("m.value").as("click_value"))
      graft.plans.AsOfMergeJoin.asOf(purchases, clicks, "user_id", "t_us",
          Seq("click_id", "click_value"))
        .filter(col("click_id").isNotNull) // inner semantics like ASOF JOIN
        .orderBy("event_id")
    }),

    // skew-resistant two-phase salted aggregation (same result as a plain
    // group-sum — oracle is the UNSALTED formulation)
    "group_sum_salted" -> ((s, d) =>
      Relational.saltedSum(
          lineitem(s, d),
          Seq("l_returnflag", "l_linestatus"),
          round(col("l_extendedprice") * lit(100)).cast("long"),
          saltSrc = col("l_orderkey"), buckets = 16)
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("salted_sum") / lit(100.0), 2).as("sum_base"))
        .orderBy("l_returnflag", "l_linestatus")),

    // range join (no equi key): suppliers whose balance falls inside a
    // ±10 window of a customer's balance — bucketized to a bucket-equi
    // join instead of a nested loop; oracle is DuckDB's inequality join
    "join_range" -> ((s, d) =>
      graft.ops.RangeJoin.pointInInterval(
          supplier(s, d).select(col("s_suppkey"), col("s_acctbal")),
          customer(s, d).select(col("c_custkey"),
            (col("c_acctbal") - 10).as("lo"), (col("c_acctbal") + 10).as("hi")),
          "s_acctbal", "lo", "hi", bucketWidth = 20.0)
        .select(col("s_suppkey"), col("c_custkey"))
        .orderBy("s_suppkey", "c_custkey")),

    // SKEWED join: ~3/4 of the fact rows collapse onto one hot key before
    // the dim join. The result is partition-layout-independent (what this
    // oracle certifies); the runtime handling is AQE's skew-split, proven
    // to engage — and to leave results untouched — by AQESkewJoinSpec.
    // Salting (see group_sum_salted) stays the manual fallback for
    // engines/paths without AQE.
    "join_skew" -> ((s, d) => {
      val fact = lineitem(s, d).select(
        when(col("l_orderkey") % 4 =!= 0, lit(1L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_quantity"))
      val dim = orders(s, d).select(col("o_orderkey").as("k"), col("o_orderpriority"))
      fact.join(dim, "k")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
             sum(col("l_quantity").cast("long")).as("qty"))
        .orderBy("o_orderpriority")
    }),

    // exact interpolated percentiles (medians on the 0.5 grid — exact
    // rationals, so cross-engine equality holds)
    "percentile_agg" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
             expr("percentile(l_quantity, 0.95)").as("p95_qty"))
        .select(col("l_returnflag"), round(col("median_qty"), 6).as("median_qty"),
          round(col("p95_qty"), 6).as("p95_qty"))
        .orderBy("l_returnflag")),

    // JSON path extraction (oracle via an independent regexp formulation)
    "json_extract" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .orderBy("event_id")),

    // semi-structured VARIANT path (Spark 4's open-schema ingest type):
    // parse_json once into a binary variant, then typed variant_get
    // probes — nested object, array index, scalar — without re-parsing
    // the string per path (what repeated get_json_object does) and
    // without declaring a schema up front (what from_json needs). The
    // nested doc is synthesized deterministically from event columns;
    // the oracle runs DuckDB's native JSON extraction on the same text
    "variant_json" -> ((s, d) => {
      val json = concat(lit("{\"k\": "),
        get_json_object(col("props"), "$.k"),
        lit(", \"user\": {\"id\": "), col("user_id").cast("string"),
        lit("}, \"tags\": [\"t"), (col("event_id") % 3).cast("string"),
        lit("\", \"x\"]}"))
      events(s, d)
        .select(col("event_id"), parse_json(json).as("v"))
        .select(col("event_id"),
          expr("variant_get(v, '$.k', 'bigint')").as("k_val"),
          expr("variant_get(v, '$.user.id', 'bigint')").as("uid"),
          expr("variant_get(v, '$.tags[0]', 'string')").as("tag0"))
        .orderBy("event_id")
    }),

    // schema-ful JSON decode: from_json parses the whole document against
    // a declared struct (the typed-ingest path; get_json_object above is
    // the per-path probe) — same independent regexp oracle
    "from_json_struct" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          expr("from_json(props, 'k BIGINT')").getField("k").as("k_val"))
        .orderBy("event_id")),

    // MapType function surface (map_from_arrays / transform_values /
    // map_filter / map_concat / map_entries): all codegen'd map
    // expressions, zero shuffle. The output is a canonical sorted
    // "k=v" string (map iteration order is an implementation detail —
    // never hash a raw map), so the oracle can recompute every cell
    // from the source columns without a map type of its own.
    "map_funcs" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          map_from_arrays(
            array(lit("chars"), lit("id")),
            array(col("n_chars"), col("doc_id"))).as("m"),
          map_from_arrays(array(lit("lang")),
            array(when(col("lang") === "en", 1L).otherwise(0L))).as("m2"))
        .select(col("doc_id"),
          array_join(array_sort(transform(map_entries(
              transform_values(col("m"), (_, v) => v * 2L)),
            e => concat(e.getField("key"), lit("="),
              e.getField("value").cast("string")))),
            ",").as("doubled"),
          array_join(array_sort(transform(map_entries(
              map_filter(col("m"), (_, v) => v % 2L === 0L)),
            e => concat(e.getField("key"), lit("="),
              e.getField("value").cast("string")))),
            ",").as("evens"),
          array_join(array_sort(transform(map_entries(
              map_concat(col("m"), col("m2"))),
            e => concat(e.getField("key"), lit("="),
              e.getField("value").cast("string")))),
            ",").as("merged"),
          aggregate(map_values(col("m")), lit(0L), (acc, v) => acc + v)
            .as("val_sum"))
        .orderBy("doc_id")),

    // XML ingestion surface (from_xml, Spark 4's native XML parser):
    // round-trips a synthesized per-row XML doc through a typed struct
    // schema — the oracle recomputes the extracted fields from the
    // source columns, so a parser mis-map of any field breaks the hash.
    "from_xml_struct" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          concat(lit("<ev><id>"), col("event_id"),
            lit("</id><ty>"), col("event_type"),
            lit("</ty><v>"), expr("CAST(round(value * 100) AS BIGINT)"),
            lit("</v></ev>")).as("xml"))
        .select(col("event_id"),
          expr("from_xml(xml, 'id BIGINT, ty STRING, v BIGINT')").as("p"))
        .select(col("p.ty").as("event_type"),
          col("p.v").as("cents"), col("p.id").as("id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
          sum("id").as("id_sum"))
        .orderBy("event_type")),

    // §2.7 — set intersection: customers who placed a big order
    "set_intersect" -> ((s, d) =>
      customer(s, d).select(col("c_custkey").as("id"))
        .intersect(orders(s, d).filter(col("o_totalprice") > 250000)
          .select(col("o_custkey").as("id")))
        .orderBy("id")),

    // §2.7 — set difference: customers who never placed a big order
    "set_except" -> ((s, d) =>
      customer(s, d).select(col("c_custkey").as("id"))
        .except(orders(s, d).filter(col("o_totalprice") > 250000)
          .select(col("o_custkey").as("id")))
        .orderBy("id")),

    // §2.7 — MULTISET difference: each lineitem part occurrence removes
    // one matching occurrence from the order-side bag (exceptAll keeps
    // multiplicity; the distinct form above would hide it)
    "set_except_all" -> ((s, d) =>
      lineitem(s, d).filter(col("l_quantity") >= 45)
        .select(col("l_partkey").as("id"))
        .exceptAll(lineitem(s, d).filter(col("l_quantity") >= 48)
          .select(col("l_partkey").as("id")))
        .groupBy("id").agg(count(lit(1)).as("n"))
        .orderBy("id")),

    // INTERSECT ALL — occurrence-level min-multiplicity (completes the
    // multiset family with set_except_all)
    "set_intersect_all" -> ((s, d) =>
      lineitem(s, d).filter(col("l_quantity") >= 45)
        .select(col("l_partkey").as("id"))
        .intersectAll(lineitem(s, d).filter(col("l_discount") >= 0.05)
          .select(col("l_partkey").as("id")))
        .groupBy("id").agg(count(lit(1)).as("n"))
        .orderBy("id")),

    // Statistical aggregates (corr/covariance) composed from EXACT
    // integer moments (Σx, Σy, Σxy, Σx², Σy² as bigints; x = integral
    // quantity, y = floor-dollars — floor, not round: exact-.50 values
    // are engine-divergent halfway cases) then finished in doubles with
    // an identical op sequence on both sides. Native corr()/
    // covar_pop()'s parallel float partials are not bit-reproducible
    // across engines; moments are. Units sized so no product leaves
    // long range at sf0.1 (y² ≤ 1e10, Σ per group ≤ 6e15).
    "stats_agg" -> ((s, d) => {
      val x = col("l_quantity").cast("long")
      val y = floor(col("l_extendedprice")).cast("long")
      val n = col("n").cast("double")
      val mx = col("sx").cast("double") / n
      val my = col("sy").cast("double") / n
      val cov = col("sxy").cast("double") / n - mx * my
      val varx = col("sxx").cast("double") / n - mx * mx
      val vary = col("syy").cast("double") / n - my * my
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
        .select(col("l_returnflag"), col("n"),
          round(cov, 6).as("cov_pop"),
          round(cov / sqrt(varx * vary), 6).as("corr"))
        .orderBy("l_returnflag")
    }),

    // DECIMAL-typed aggregation: exact decimal(12,2) sums — unlike
    // parallel double sums, decimal addition is associative-exact, so
    // this is the other engine-exact money form beside integer cents
    "decimal_sum" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(sum(round(col("o_totalprice"), 2).cast("decimal(14,2)")).as("total"),
          count(lit(1)).as("n"))
        .select(col("o_orderpriority"), col("total").cast("string").as("total"),
          col("n"))
        .orderBy("o_orderpriority")),

    // DATE/interval arithmetic over the order dates (UTC): truncation,
    // offsets, and day differences — the date-dimension math
    "date_arith" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("dt"))
        .select(col("o_orderkey"),
          date_format(col("dt"), "yyyy-MM-dd").as("d"),
          date_format(date_add(col("dt"), 30), "yyyy-MM-dd").as("d30"),
          date_format(trunc(col("dt"), "month"), "yyyy-MM-dd").as("mstart"),
          datediff(col("dt"), to_date(lit("1995-01-01"))).cast("long").as("since"))
        .orderBy("o_orderkey")),

    // fixed-bin histogram (width_bucket analog via integer division —
    // the distribution profile every quality dashboard starts from)
    "histogram_fixed" -> ((s, d) =>
      orders(s, d)
        .groupBy((col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // explode_outer: rows with NO matches survive with a null element
    // (plain explode silently drops them — the left-join flavor of the
    // reference's flatMap); null ordering pinned explicitly (Spark asc
    // defaults NULLS FIRST, DuckDB NULLS LAST)
    "explode_outer" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode_outer(
          expr("regexp_extract_all(text, 'spark|merge', 0)")).as("hit"))
        .orderBy(col("doc_id"), col("hit").asc_nulls_first)),

    // §2.4 extension — rollup aggregation
    "rollup_agg" -> ((s, d) => {
      val c = customer(s, d); val n = nation(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
             Relational.moneySum(col("c_acctbal")).as("acct_total"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))
    }),

    // §2.4 extension — cube aggregation
    "cube_agg" -> ((s, d) =>
      orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
             Relational.moneySum(col("o_totalprice")).as("price_total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    // §2.4 extension — explicit grouping sets (the generalization rollup
    // and cube compile down to; planned as one Expand, not two scans)
    "grouping_sets_agg" -> ((s, d) =>
      orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
              Seq(col("o_orderstatus"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
             Relational.moneySum(col("o_totalprice")).as("price_total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    // §2.4 extension — pivot (wide conditional aggregation; explicit value
    // list so the plan is a single pass, no distinct-values pre-query)
    "pivot_agg" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(Relational.moneySum(col("o_totalprice")))
        .withColumnsRenamed(Map("F" -> "total_f", "O" -> "total_o", "P" -> "total_p"))
        .orderBy("o_orderpriority")),

    // §2.4 extension — unpivot/melt (inverse of pivot; map-side Expand,
    // no shuffle)
    "unpivot_agg" -> ((s, d) =>
      lineitem(s, d)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_extendedprice"), col("l_discount")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    // §2.4 extension — conditional aggregation (count_if / filtered sum):
    // one scan, no self-join, the idiomatic replacement for per-predicate
    // subqueries
    "cond_agg" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count_if(col("o_totalprice") > 150000).as("n_big"),
             count(lit(1)).as("n_all"),
             Relational.moneySum(
               when(col("o_orderstatus") === "F", col("o_totalprice"))
                 .otherwise(lit(0.0))).as("f_total"))
        .orderBy("o_orderpriority")),

    // §2.4 extension — multiple distinct aggregates in one query (plans a
    // single Expand + two-stage agg, not N scans)
    "multi_distinct" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
             countDistinct(col("o_orderpriority")).as("n_prio"),
             count(lit(1)).as("n_rows"))
        .orderBy("o_orderstatus")),

    // §2.4 extension — argmax via struct max: deterministic max_by with a
    // total tie-break (price DESC, then orderkey DESC), single agg pass
    "argmax_agg" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
        .select(col("o_custkey"), col("m.o_orderkey").as("best_order"),
          col("m.o_totalprice").as("best_price"))
        .orderBy("o_custkey")),

    // §2.9 extension — tumbling event-time window (batch form of the
    // Structured Streaming hourly window; ts arrives as epoch-nanos long)
    "events_window" -> ((s, d) =>
      events(s, d)
        .withColumn("t", timestamp_micros(Relational.nanosColToMicros("ts")))
        .groupBy(window(col("t"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             Relational.moneySum(col("value")).as("v"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
                col("event_type"), col("n"), col("v"))
        .orderBy("hour_start", "event_type")),

    // §2.9 extension — gap-based sessionization (session-window analog)
    "sessionize" -> ((s, d) =>
      Relational.sessionize(events(s, d), "user_id", "event_id", "ts",
          gapUs = 1800L * 1000000L)
        .orderBy("user_id", "session_id")),

    // trailing-window anomaly detection: per-type daily totals scored
    // against the strictly-PRECEDING 7 days (self-exclusion keeps the
    // anomaly out of its own baseline). Mean/variance from exact integer
    // moment sums in ONE window pass; identical float op sequence on
    // both engines (the stats_agg discipline); greatest(0,·) absorbs
    // the catastrophic-cancellation ulp
    "anomaly_zscore" -> ((s, d) => {
      val daily = events(s, d)
        .select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy("event_type", "day").agg(sum("cents").as("x"))
      graft.ops.TimeSeries.anomalyZScore(daily, "event_type", "day", "x")
        .orderBy("event_type", "day")
    }),

    // session path mining: top-20 event-type trigrams along sessionized
    // journeys — sequence analytics over the sessionize machinery; one
    // user shuffle + map-side n-gram Generate + TakeOrdered
    "session_paths" -> ((s, d) =>
      graft.ops.Analytics.sessionPaths(
        events(s, d).withColumn("t_us", expr("ts div 1000")),
        "user_id", "event_id", "t_us", "event_type",
        gapUs = 1800L * 1000000L)),

    // §2.9 extension — ntile bucketing (the remaining ranking function;
    // deterministic under the unique-key tie-break like every window key)
    "window_ntile" -> ((s, d) =>
      orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(Window.partitionBy(col("o_orderstatus"))
            .orderBy(col("o_totalprice"), col("o_orderkey")))
          .cast("long").as("quartile"))
        .orderBy("o_orderkey")),

    // ordered funnel signup → view → click → purchase: per-user greedy
    // stage walk over per-stage sorted timestamp arrays — ONE aggregation
    // pass over the event log, per-user state bounded by that user's own
    // events (no k-pass self-joins). Micros ticks: the finest grid DuckDB's
    // nano-truncating parquet reader can mirror (sessionize precedent).
    "funnel_stages" -> ((s, d) =>
      graft.ops.Analytics.funnel(
          events(s, d).withColumn("t_us", expr("ts div 1000")),
          "user_id", "t_us", "event_type",
          Seq("signup", "view", "click", "purchase"))
        .orderBy("user_id")),

    // weekly cohort retention: corpus reduces to distinct (user, week)
    // map-side; everything after is bounded by users × weeks
    "cohort_retention" -> ((s, d) =>
      graft.ops.Analytics.cohortRetention(
          events(s, d).withColumn("t_us", expr("ts div 1000")),
          "user_id", "t_us")
        .orderBy("cohort_wk", "week_offset")),

    // OHLC bar downsampling: hourly bars per event_type; open/close ride
    // the same hash-agg as lexicographic (t_us, event_id) struct min/max
    // — one pass, no join back to the log
    "events_ohlc" -> ((s, d) =>
      graft.ops.TimeSeries.ohlc(
          events(s, d).withColumn("t_us", expr("ts div 1000")),
          "event_type", "event_id", "t_us", "value", barUs = 3600L * 1000000L)
        .orderBy("bar_us", "event_type")),

    // gaps-and-islands interval coalescing: each event opens a 600 s
    // closed interval; overlapping-or-touching intervals merge per user.
    // Running-max-end (not lag-1) so a long interval swallows later short
    // ones — pinned by TimeSeriesSpec fixture
    "interval_merge" -> ((s, d) =>
      graft.ops.TimeSeries.mergeIntervals(
          events(s, d).select(col("user_id"), col("event_id"),
            expr("ts div 1000").as("s_us"),
            (expr("ts div 1000") + lit(600000000L)).as("e_us")),
          "user_id", "event_id", "s_us", "e_us")
        .orderBy("user_id", "island")),

    // per-user daily spine + forward fill: spine bounded by users × days
    // (never events); fill is a running last(ignoreNulls) in the same
    // partition as the daily agg — no second shuffle
    "gapfill_ffill" -> ((s, d) =>
      graft.ops.TimeSeries.gapFillForward(
          events(s, d).withColumn("t_us", expr("ts div 1000")),
          "user_id", "t_us", "value")
        .orderBy("user_id", "day")),

    // burst dedup: collapse same-(user, type) runs closer than 1 h to
    // their first event (telemetry double-fire collapse); exact-gap ties
    // stay in the burst (sessionize's strict-> convention)
    "dedup_temporal" -> ((s, d) =>
      graft.ops.TimeSeries.dedupTemporal(
          events(s, d).withColumn("t_us", expr("ts div 1000")),
          Seq("user_id", "event_type"), "event_id", "t_us",
          gapUs = 3600L * 1000000L)
        .orderBy("user_id", "event_type", "burst")),

    // ---- training-data pipeline suite ------------------------------------

    // exact dedup by content hash
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(documents(s, d), "doc_id", "text").orderBy("keep_id")),

    // MinHash+LSH candidate pairs (portable md5 variant, oracle-checked)
    "dedup_minhash" -> ((s, d) =>
      Dedup.lshCandidatePairs(
          Dedup.minhashSignatures(documents(s, d), "doc_id", "text"))
        .orderBy("doc_a", "doc_b")),

    // exact 3-gram Jaccard ≥ 0.5 on the LSH candidates
    "dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text", threshold = 0.5)
        .orderBy("doc_a", "doc_b")),

    // exact-substring dedup (the suffix-array long-match contract):
    // pairs sharing a common substring of ≥40 chars — winnowed md5
    // anchors + codegen'd extend-verify (Dedup.substringPairs). The
    // oracle is the EXACT all-40-grams join, so the hash-match proves
    // the banded pipeline implements the exact contract end to end.
    "dedup_substring" -> ((s, d) =>
      Dedup.substringPairs(documents(s, d), "doc_id", "text",
          minLen = 40, gramLen = 32, fanout = 64)
        .orderBy("da", "db")),

    // PPJoin prefix filtering: EXACT all-pairs Jaccard ≥ 0.5 (provably
    // no false negatives — the oracle is brute-force all-pairs, NOT a
    // candidate re-derivation). maxBucket unbounded here so the cap
    // can't silently truncate vs that oracle (the knn_join precedent);
    // production callers keep the 1000 default + bucketOverflow feed
    "dedup_prefix" -> ((s, d) =>
      Dedup.prefixFilterPairs(documents(s, d), "doc_id", "text",
          threshold = 0.5, maxBucket = 1 << 20)
        .orderBy("doc_a", "doc_b")),

    // containment |A∩B|/min(|A|,|B|) on the same candidates — the
    // asymmetric-length fix: a short doc quoted whole inside a long one
    // scores 1.0 here while Jaccard dilutes it toward 0
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(documents(s, d), "doc_id", "text",
          threshold = 0.8)
        .orderBy("doc_a", "doc_b")),

    // character-level verification on the same LSH candidates: Levenshtein
    // distance ≤ 30% of the longer text (integer permille math — no
    // doubles). O(len²)-per-pair cost is bounded by the candidate set;
    // the corpus itself is never touched by the quadratic step
    "dedup_edit" -> ((s, d) =>
      Dedup.editVerifiedPairs(documents(s, d), "doc_id", "text",
          maxDistPermille = 300)
        .orderBy("doc_a", "doc_b")),

    // blocked fuzzy match (record linkage): Jaro–Winkler ≥ 0.9 on
    // DIFFERENT part names within first-token blocks — the native
    // codegen'd expression (functions/JaroWinkler), not a UDF. Blocking
    // bounds the quadratic exactly like LSH banding does for documents:
    // pairs form per block (groupBy-sized, never a corpus cross join),
    // and the key-range filter bounds both sides. Oracle = DuckDB's
    // built-in jaro_winkler_similarity (same 0.7-boost-threshold
    // variant, verified case by case)
    "fuzzy_join" -> ((s, d) =>
      fuzzyNamePairs(s, d).orderBy("a_key", "b_key")),

    // entity resolution completed: the fuzzy pairs are only EVIDENCE of
    // sameness — the entity is the transitive closure. Connected
    // components (the generic large-star/small-star operator) turns
    // pair evidence into one cluster id per part name variant, exactly
    // as it does for MinHash document pairs
    "fuzzy_clusters" -> ((s, d) =>
      ConnectedComponents.run(
          fuzzyNamePairs(s, d).select(col("a_key"), col("b_key")),
          "a_key", "b_key")
        .select(col("node").as("p_partkey"), col("component"))
        .orderBy("p_partkey")),

    // survivorship ("golden record"): one canonical record per fuzzy
    // entity cluster, each field by its own deterministic precedence —
    // name from the OLDEST member (min-key struct monoid), price/size as
    // maxima, all in ONE hash agg over parts left-joined to the
    // (bounded, broadcast) cluster labels. Singletons are their own
    // entity — the merge covers the whole table, not just matched rows
    "golden_record" -> ((s, d) => {
      val clusters = ConnectedComponents.run(
          fuzzyNamePairs(s, d).select(col("a_key"), col("b_key")),
          "a_key", "b_key")
        .withColumnRenamed("node", "p_partkey")
      part(s, d)
        .join(broadcast(clusters), Seq("p_partkey"), "left")
        .select(coalesce(col("component"), col("p_partkey")).as("entity_id"),
          col("p_partkey"), col("p_name"),
          round(col("p_retailprice") * 100).cast("long").as("cents"),
          col("p_size").cast("long").as("psize"))
        .groupBy("entity_id")
        .agg(min(struct(col("p_partkey"), col("p_name"))).as("oldest"),
          max(col("cents")).as("max_price_cents"),
          max(col("psize")).as("max_size"),
          count(lit(1)).as("n_members"))
        .select(col("entity_id"), col("oldest.p_name").as("canon_name"),
          col("max_price_cents"), col("max_size"), col("n_members"))
        .orderBy("entity_id")
    }),

    // 64-bit SimHash signatures (xxhash64 — Spark-internal, rows-only check)
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhash(documents(s, d), "doc_id", "text").orderBy("doc_id")),

    // SimHash near-dup pairs over the PORTABLE md5-bit signature —
    // oracle-checked: DuckDB rebuilds the 60-bit signature digit for
    // digit and mirrors the 4x15-bit banding + bit_count(xor) verify
    "dedup_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Dedup.simhashPortable(documents(s, d), "doc_id", "text"),
          maxHamming = 3, bandBits = 15)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b")),

    // LSH bucket-health observability (the side-channel behind the
    // bucketPairs degenerate-corpus cap): band keys shared by >cap docs,
    // with their sizes — what a pipeline operator would alert on before
    // a boilerplate-heavy corpus goes quadratic
    "dedup_bucket_overflow" -> ((s, d) =>
      Dedup.bucketOverflow(
          Dedup.simhashBands(
            Dedup.simhashPortable(documents(s, d), "doc_id", "text"), bandBits = 15),
          Seq("band_id", "bkey"), maxBucket = 1)
        .select(col("band_id").cast("long").as("band_id"), col("bkey"),
          col("bucket_size"))
        .orderBy("band_id", "bkey")),

    // embedding-cosine near-dup pairs. The corpus has no natural
    // near-dups (max pairwise cosine ~0.46), so the key unions each
    // vector with a +0.01-on-dim-0 perturbed copy (id+10000) IN DOUBLE
    // SPACE (both engines perturb after the double cast — perturbing the
    // float col would diverge) and must find exactly those 500 pairs via
    // axis-sign LSH banding + exact cosine >= 0.99.
    "dedup_embedding" -> ((s, d) => {
      val base = embeddings(s, d).select(col("vec_id").cast("long").as("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      val pert = base.select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + lit(0.01)).otherwise(x)).as("v"))
      // 8-bit bands: near-dup vectors flip a sign bit with prob ~theta/pi
      // ~0.005, so a band of 8 bits still matches w.p. ~0.96 and ANY of 4
      // bands w.p. ~1-2e-6 — while buckets shrink ~16x vs 4-bit bands
      // (the quadratic verify was 19s at sf0.1 with 4-bit bands)
      Similarity.embeddingNearDupPairs(base.unionByName(pert), "vec_id", "v",
          threshold = 0.99, numBands = 4, bitsPerBand = 8)
        .orderBy("doc_a", "doc_b")
    }),

    // kNN self-join: every vector's top-3 neighbors among its LSH
    // candidates — the all-pairs form of similarity search (similarity_
    // ann/_ivf are the query-set forms), composed from the banding
    // machinery + the bounded TopKAgg (O(k) per group, map-side
    // partials — never a per-doc sort of all candidates). threshold=-1
    // keeps every candidate; ranking uses the rounded cosine with a
    // string tie-break in BOTH engines.
    "knn_join" -> ((s, d) => {
      val base = embeddings(s, d).select(col("vec_id").cast("long").as("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      // maxBucket is EXPLICITLY unbounded here (1<<20 ≫ any band bucket
      // at oracle/bench scale): the DuckDB oracle enumerates ALL
      // intra-bucket pairs, so the default star-expansion cap would
      // silently shrink candidate sets the moment a bucket passed it
      // (ADVICE r3). The capped form stays the 100 TB default; this key
      // pins the exact all-pairs contract.
      val pairs = Similarity.embeddingNearDupPairs(base, "vec_id", "v",
        threshold = -1.0, numBands = 4, bitsPerBand = 8, maxBucket = 1 << 20)
      val sym = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("nbr"), col("cos"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("nbr"), col("cos")))
      sym.groupBy("doc_id")
        .agg(count(lit(1)).as("n_cands"),
          graft.functions.TopKAgg.topK(3, col("cos"), col("nbr").cast("string")).as("top_nbrs"))
        .orderBy("doc_id")
    }),

    // INCREMENTAL dedup: docs ≥ 400 arrive as a new batch; the corpus
    // (< 400) contributes only its persisted band index. Result must
    // equal full-corpus pair mining restricted to pairs touching the
    // batch — per-ingest cost scales with the batch, not the corpus.
    "dedup_incremental" -> ((s, d) => {
      val docs = documents(s, d)
      val corpusBands = Dedup.lshBands(
        Dedup.minhashSignatures(docs.filter(col("doc_id") < 400), "doc_id", "text"))
      val newSigs = Dedup.minhashSignatures(
        docs.filter(col("doc_id") >= 400), "doc_id", "text")
      Dedup.incrementalPairs(newSigs, corpusBands)
        .orderBy("doc_a", "doc_b")
    }),

    // near-dup CLUSTER resolution: transitive closure over the MinHash
    // LSH candidate-pair graph (alternating large-star/small-star — see
    // ConnectedComponents scaladoc for the 100 TB shape); component =
    // the cluster's min doc_id, so component == doc_id marks the keeper.
    // Oracle: DuckDB recursive-CTE min-label closure over the same pairs.
    "neardup_components" -> ((s, d) =>
      ConnectedComponents.run(
          Dedup.lshCandidatePairs(
            Dedup.minhashSignatures(documents(s, d), "doc_id", "text")),
          "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("component"))
        .orderBy("doc_id")),

    // the full near-dup curation chain a training-data pipeline runs:
    // LSH candidates → exact n-gram-Jaccard verify → connected components
    // → ONE keeper per near-dup cluster + quality/language gates. The
    // corpus-side join carries only skinny metric rows (curate projects
    // the raw text away before the shuffle), and the cluster relation is
    // bounded by the near-dup candidate set — at scale AQE broadcasts it
    // when small and shuffle-joins otherwise. Exact dups need no separate
    // keeper gate here: any two ≥10-token identical texts share all
    // shingles (Jaccard 1.0), so they land in one cluster by construction.
    "curate_corpus_neardup" -> ((s, d) => {
      val docs = documents(s, d)
      val cc = ConnectedComponents.run(
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5),
          "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("component"))
      TextAnalysis.curate(docs, "doc_id", "text")
        .join(cc, Seq("doc_id"), "left")
        .filter(coalesce(col("component"), col("doc_id")) === col("doc_id") &&
          col("n_tokens") >= 10 && col("stop_ratio") > 0 &&
          col("lang_pred") === "en")
        .select("doc_id", "n_tokens", "stop_ratio", "lang_pred")
        .orderBy("doc_id")
    }),

    // embedding near-dup pairs → clusters: THREE copies of each vector
    // (base, +0.01 and +0.02 on dim 1 — unit-norm corpus, so all pairwise
    // cosines stay ≥ 0.9997) must collapse to one component rooted at the
    // base id; exercises transitivity (a chain a–b, b–c with no a–c pair
    // still merges) end-to-end on the vector-space dedup path.
    "dedup_embedding_clusters" -> ((s, d) => {
      val base = embeddings(s, d).select(col("vec_id").cast("long").as("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      def pert(off: Long, delta: Double) =
        base.select((col("vec_id") + off).as("vec_id"),
          transform(col("v"), (x, i) => when(i === 0, x + lit(delta)).otherwise(x)).as("v"))
      ConnectedComponents.run(
          Similarity.embeddingNearDupPairs(
            base.unionByName(pert(10000L, 0.01)).unionByName(pert(20000L, 0.02)),
            "vec_id", "v", threshold = 0.99, numBands = 4, bitsPerBand = 8),
          "doc_a", "doc_b")
        .select(col("node").as("vec_id"), col("component"))
        .orderBy("vec_id")
    }),

    // deterministic hash-bucket sampling: subset fixed to the DATA (not
    // the partition layout, unlike df.sample) — a pure map-side filter,
    // reproducible in any engine; the reproducible-subset primitive a
    // training pipeline needs for downsampling and ablations
    "sample_hash" -> ((s, d) =>
      graft.ops.Sampling.hashSample(documents(s, d), "doc_id", buckets = 32)
        .select(col("doc_id"),
          graft.ops.Sampling.hashBucket(col("doc_id")).cast("long").as("bucket"))
        .orderBy("doc_id")),

    // stratified deterministic sampling: keep 64/256 of English docs,
    // 16/256 of every other language — the corpus-rebalancing pass, as a
    // pure map-side filter (no sampleBy partition-layout dependence)
    "sample_stratified" -> ((s, d) =>
      graft.ops.Sampling.stratifiedSample(documents(s, d), "doc_id", "lang",
          rates = Map("en" -> 64), defaultBuckets = 16)
        .select(col("doc_id"), col("lang"),
          graft.ops.Sampling.hashBucket(col("doc_id")).cast("long").as("bucket"))
        .orderBy("doc_id")),

    // weighted sampling without replacement (derandomized A-ES): 200
    // docs drawn with probability ∝ token count — the length-aware
    // corpus downsampling pass; k-smallest race keys via per-partition
    // heaps (TakeOrderedAndProject), no global sort
    "sample_weighted" -> ((s, d) =>
      graft.ops.Sampling.weightedSample(documents(s, d), "doc_id",
          size(split(col("text"), " ")).cast("long"), k = 200)),

    // leakage-free train/eval split: bucket by the NEAR-DUP CLUSTER hash
    // (components over ngram-verified pairs), so a paraphrase of a
    // training doc can never sit in eval — contamination is structurally
    // impossible, not just unlikely. ~10% eval (26/256 buckets).
    "split_leakage_free" -> ((s, d) => {
      val docs = documents(s, d)
      val cc = ConnectedComponents.run(
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5),
          "doc_a", "doc_b")
      graft.ops.Sampling.assignSplits(docs, "doc_id", cc, evalBuckets = 26)
        .select(col("doc_id"), col("component"),
          col("bucket").cast("long").as("bucket"), col("split"))
        .orderBy("doc_id")
    }),

    // int8 max-abs embedding quantization (float32 → codes + scale): the
    // 4× storage/bandwidth saver for embedding stores; map-side only.
    // Codes surface as a comma-joined string — the driver's comparator
    // sorts rows through pandas, which cannot factorize raw array cells
    // (ADVICE r3: the list-typed column crashed the harness, leaving the
    // key unverified); every other list-valued key already strings out.
    "embedding_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          concat_ws(",", transform(col("codes"), _.cast("string"))).as("codes"))
        .orderBy("vec_id")),

    // exact cosine top-5 per query vector (queries = vec_id < 10)
    "similarity_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(embeddings(s, d), "vec_id", "embedding",
          col("vec_id") < 10, k = 5)
        .orderBy("query_id", "rn")),

    // MMR diversity re-rank: greedy λ·rel − (1−λ)·max-sim-to-selected
    // over a bounded candidate set, unrolled into k−1 relational steps —
    // the redundancy-aware retrieval pass (RAG context assembly). Only
    // candidate generation touches the corpus
    "mmr_rerank" -> ((s, d) =>
      Similarity.mmrRerank(embeddings(s, d), "vec_id", "embedding",
          col("vec_id") < 3, candK = 20, k = 5)
        .orderBy("query_id", "rank")),

    // banded sign-LSH ANN with multi-probe — oracle-checked: the seeded
    // gaussian planes are deterministic arrays, EMBEDDED AS LITERALS in
    // the generated DuckDB SQL (Double.toString round-trips exactly), so
    // the oracle mirrors the banding, probing, and cosine bit for bit;
    // recall additionally spec-tested
    "similarity_ann" -> ((s, d) =>
      Similarity.annTopK(embeddings(s, d), "vec_id", "embedding",
          col("vec_id") < 10, k = 5)
        .orderBy("query_id", "rn")),

    // IVF ANN — coarse-quantizer cells + nprobe (the 100 TB path)
    "similarity_ivf" -> ((s, d) =>
      Similarity.ivfTopK(embeddings(s, d), "vec_id", "embedding",
          col("vec_id") < 10, k = 5)
        .orderBy("query_id", "rn")),

    // PRODUCT QUANTIZATION — the compression half of IVF-PQ: 8
    // subspaces × 8 dims, 16-entry md5-seeded codebooks with one
    // integer-grid Lloyd refinement; every vector → 8 codes. The
    // full-corpus per-(subspace, code) population + quantized-distortion
    // rollup pins every assignment (a single flipped code moves both a
    // cnt and a distortion sum); codebooks are bounded driver literals,
    // so encoding is a pure codegen projection.
    "similarity_pq" -> ((s, d) =>
      s.read.parquet(pqModelCache(s, d) + "/codes")
        .groupBy("m", "cell")
        .agg(count(lit(1)).as("cnt"), sum(col("d2q")).as("distortion_q6"))
        .orderBy("m", "cell")),

    // PQ ANN search — the full IVF-PQ pipeline: asymmetric distance
    // computation (per-query integer distance table; candidate distance
    // = integer sum of code lookups — float vectors never move)
    // shortlists 100, then an exact re-rank touches full vectors for
    // just the shortlist. Recall@5 ≈ 0.8 on these PQ-hostile iid
    // embeddings vs 0.18 for raw ADC ranking (real clustered
    // embeddings fare far better). TopKAgg both stages.
    "similarity_pq_topk" -> ((s, d) => {
      val model = pqModelCache(s, d)
      Similarity.pqSearch(embeddings(s, d), "vec_id", "embedding",
          s.read.parquet(s"$model/cb"), s.read.parquet(s"$model/codes"),
          col("vec_id") < 10, k = 5)
        .orderBy("query_id", "rn")
    }),

    // IVF-PQ — the architecture 100 TB vector search deploys: IVF
    // cells PRUNE (probe 4 of 16 → touch ~25% of the corpus), PQ codes
    // COMPRESS (ADC inside probed cells reads 8 small ints per
    // candidate), exact re-rank touches full vectors only for the
    // 50-row shortlist
    "similarity_ivfpq" -> ((s, d) => {
      val model = pqModelCache(s, d)
      Similarity.ivfPqSearch(embeddings(s, d), "vec_id", "embedding",
          s.read.parquet(s"$model/cents"), s.read.parquet(s"$model/assigned"),
          s.read.parquet(s"$model/rcb"), s.read.parquet(s"$model/rcodes"),
          col("vec_id") < 10, k = 5)
        .orderBy("query_id", "rn")
    }),

    // quality features per document
    "text_quality" -> ((s, d) =>
      TextAnalysis.quality(documents(s, d), "doc_id", "text").orderBy("doc_id")),

    // token-count estimators
    "token_count" -> ((s, d) =>
      TextAnalysis.tokenCounts(documents(s, d), "doc_id", "text").orderBy("doc_id")),

    // per-source document cap (domain caps for the training mix): first
    // 10 docs per source in deterministic id order
    "curate_source_cap" -> ((s, d) =>
      TextAnalysis.sourceCap(documents(s, d), "doc_id", "source", k = 10)
        .orderBy("doc_id")),

    // TOKEN-budget source mixing (the token-aware sibling of
    // curate_source_cap): each source admits docs in md5 shuffle order
    // until its 800-token budget is spent; the crossing doc is kept
    "curate_token_budget" -> ((s, d) =>
      TextAnalysis.tokenBudgetCap(documents(s, d), "doc_id", "source",
          "text", budget = 800L)
        .orderBy("doc_id")),

    // benchmark-decontamination sweep: train docs (eval = hash buckets
    // 0-7) sharing any 5-gram with the eval split, with distinct-shingle
    // hit counts; eval shingles broadcast, corpus never self-joined
    "decontaminate" -> ((s, d) =>
      TextAnalysis.decontaminate(documents(s, d), "doc_id", "text",
          evalPred = graft.ops.Sampling.hashBucket(col("doc_id")) < 8)
        .orderBy("doc_id")),

    // exact heavy hitters / vocabulary building: top-50 tokens by total
    // occurrences (+doc frequency); TakeOrderedAndProject, never a global
    // sort. Note the result IS the ranking — no extra ORDER BY needed,
    // but the total (count desc, token asc) order makes the cut and the
    // row order deterministic
    "heavy_hitters" -> ((s, d) =>
      TextAnalysis.vocabulary(documents(s, d), "doc_id", "text", k = 50)),

    // corpus-RELATIVE quality gate: docs at/above the 75th percentile of
    // token count — scalar threshold aggregated once, broadcast back,
    // filtered map-side (a global percent_rank window would sort the
    // corpus into one partition)
    "quality_cut" -> ((s, d) =>
      TextAnalysis.qualityCut(documents(s, d), "doc_id", "text", q = 0.75)
        .orderBy("doc_id")),

    // portable polynomial content fingerprint
    "text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(documents(s, d), "doc_id", "text").orderBy("doc_id")),

    // stopword-profile language ID heuristic — oracle-checked: the DuckDB
    // SQL is GENERATED from the same LangStopWords table, so the profile
    // lists can never drift between engines
    "text_langid" -> ((s, d) =>
      TextAnalysis.langId(documents(s, d), "doc_id", "text").orderBy("doc_id")),

    // Gopher-style repetition fractions (map-side only)
    "text_repetition" -> ((s, d) =>
      TextAnalysis.repetition(documents(s, d), "doc_id", "text").orderBy("doc_id")),

    // corpus-frequency scoring (perplexity stand-in): mean corpus count
    // of a doc's tokens + out-of-vocabulary fraction vs the top-1000
    "text_corpus_freq" -> ((s, d) =>
      TextAnalysis.corpusFrequency(documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // C4-style line-level boilerplate strip. The corpus has no repeated
    // lines (single-line word soup), so boilerplate is INJECTED
    // deterministically (the wiki_parse/PII pattern): shared footer
    // lines on the %2 and %3 docs, a per-doc unique line that must
    // survive. Frequency pass shuffles (md5(line), doc) only; rebuild
    // is map-side against the driver-collected frequent-hash set
    "boilerplate_strip" -> ((s, d) => {
      val injected = documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0, lit("\nboiler alpha")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit("\nboiler beta")).otherwise(lit("")),
          concat(lit("\nunique "), col("doc_id"))).as("text"))
      TextAnalysis.boilerplateStrip(injected, "doc_id", "text", minDocs = 100)
        .orderBy("doc_id")
    }),

    // composite corpus curation: quality gates + language filter +
    // exact-dedup keeper, all in one scan + one content-hash shuffle
    "curate_corpus" -> ((s, d) =>
      TextAnalysis.curate(documents(s, d), "doc_id", "text")
        .filter(col("is_keeper") && col("n_tokens") >= 10 &&
          col("stop_ratio") > 0 && col("lang_pred") === "en")
        .select("doc_id", "n_tokens", "stop_ratio", "lang_pred")
        .orderBy("doc_id")),

    // multimodal plumbing: binary payload → per-partition decode →
    // fixed-width features. Text payloads are not images, so they take
    // extractFeatures' byte-fold branch. ORACLE-CHECKED: the corpus is
    // ASCII (asserted by TextAnalysisSpec), so the byte fold equals
    // DuckDB's per-character unicode() fold — the mapPartitions decode
    // path is verified end-to-end, not just rows-counted.
    "multimodal_features" -> ((s, d) =>
      graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.syntheticMedia(documents(s, d), "doc_id", "text"))
        .toDF().select("media_id", "n_bytes", "checksum")
        .orderBy("media_id")),

    // REAL image decode, oracle-checked end to end: synthesize a BMP per
    // doc whose pixels are a closed form of (id, x, y, channel), decode
    // with javax.imageio inside the mapPartitions batch, checksum the
    // DECODED pixels; DuckDB computes the same closed form directly —
    // a hash match proves decode(encode(f)) == f through the actual
    // codec, independent of container/header layout.
    "multimodal_decode" -> ((s, d) =>
      graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.syntheticImages(documents(s, d), "doc_id"))
        .toDF().select("media_id", "width", "height", "n_pixels", "checksum")
        .orderBy("media_id")),

    // Frame-sampled VIDEO decode: a frame container of real BMPs (the
    // JDK ships no video codec — the container is synthetic, the
    // per-frame pixel decode is javax.imageio for real); every 2nd
    // frame decodes and its pixels fold into one checksum the oracle
    // reproduces from the closed form.
    "multimodal_video" -> ((s, d) =>
      graft.multimodal.Multimodal.extractVideoFeatures(
          graft.multimodal.Multimodal.syntheticVideos(documents(s, d), "doc_id"),
          everyN = 2)
        .toDF().select("media_id", "n_frames", "n_sampled", "checksum")
        .orderBy("media_id")),

    // REAL audio decode, oracle-checked end to end: synthesize a mono
    // 16-bit PCM WAV per doc whose samples are a closed form of (id, i),
    // decode with javax.sound.sampled inside the mapPartitions batch,
    // checksum the DECODED samples; DuckDB computes the closed form
    // directly — decode(encode(f)) == f through the JDK's actual WAV
    // parser. Video is now the engine's only stubbed decode.
    "multimodal_audio" -> ((s, d) =>
      graft.multimodal.Multimodal.extractAudioFeatures(
          graft.multimodal.Multimodal.syntheticAudio(documents(s, d), "doc_id"))
        .toDF().select("media_id", "sample_rate", "n_samples", "checksum")
        .orderBy("media_id")),

    // metadata-only resize plan: pure column ops over the meta struct —
    // payload never touched (oracle mirrors the synthetic meta arithmetic)
    "multimodal_resize" -> ((s, d) =>
      graft.multimodal.Multimodal.resizePlan(
          graft.multimodal.Multimodal.syntheticMedia(documents(s, d), "doc_id", "text"),
          maxW = 32, maxH = 32)
        .select(col("media_id"), col("meta.kind").as("kind"),
          col("resize.w").as("w"), col("resize.h").as("h"))
        .orderBy("media_id")),

    // frame-sample plan for video rows, one row per sampled frame
    "multimodal_frames" -> ((s, d) =>
      graft.multimodal.Multimodal.frameSamplePlan(
          graft.multimodal.Multimodal.syntheticMedia(documents(s, d), "doc_id", "text"),
          everyMs = 500L)
        .select(col("media_id"), col("frame_ms"))
        .orderBy("media_id", "frame_ms")),

    // UDAF surface: bounded per-group top-k via a typed Aggregator —
    // O(k) buffer with map-side partial aggregation (the scale path vs a
    // window that shuffles and sorts every row of every group)
    "topk_per_group" -> ((s, d) =>
      orders(s, d).groupBy(col("o_orderpriority").as("grp"))
        .agg(graft.functions.TopKAgg.topK(3,
          col("o_totalprice").cast("double"),
          col("o_orderkey").cast("string")).as("top_keys"))
        .orderBy("grp")),

    // §2.10 — the reference's flagship: 10-iteration unnormalized PageRank
    // on a deterministic graph derived from testdata (orders↔customers
    // cycle; lineitem parts are red links whose mass is dropped).
    // Rows-only check; semantics verified against an in-test interpreter.
    "pagerank" -> ((s, d) =>
      PageRank.ranked(pagerankGraph(s, d))
        .select(col("title"), round(col("rank"), 6).as("rank"))),

    // the flagship, ORACLE-CHECKED: same recurrence with every iteration
    // rounded to the 1e-9 grid so DuckDB's recursive CTE carries
    // identical values (SURVEY.md §5.3d)
    "pagerank_oracle" -> ((s, d) =>
      PageRank.run(pagerankGraph(s, d), iters = 10, roundTo = 9)
        .select(col("title"), GridRound.binaryRound(col("rank"), 6).as("rank"))
        .orderBy("title")),

    // PERSONALIZED PageRank: teleport mass pinned to a 3-customer seed
    // set (the "related to THESE entities" ranking — recommendation /
    // entity-expansion queries). Same rounded-lockstep oracle discipline
    // as pagerank_oracle; zero-rank vertices stay in the output
    "pagerank_personal" -> ((s, d) =>
      PageRank.run(pagerankGraph(s, d), iters = 10, roundTo = 9,
          seeds = Some(Set("c1", "c2", "c3")))
        .select(col("title"), GridRound.binaryRound(col("rank"), 6).as("rank"))
        .orderBy("title")),

    // NORMALIZED PageRank extension (mass-conserving: (1-d)/N base +
    // dangling-mass redistribution). Parts become VERTICES with no
    // outlinks — genuine dangling sinks, no red links, total mass exactly
    // 1 every iteration. Oracle = recursive CTE with the dangling sum as
    // a second correlated aggregate over the working table.
    "pagerank_norm" -> ((s, d) => {
      val partVerts = lineitem(s, d)
        .select(concat(lit("p"), col("l_partkey")).as("title")).distinct()
        .select(col("title"), array().cast("array<string>").as("outlinks"))
      PageRank.runNormalized(pagerankGraph(s, d).unionByName(partVerts),
          iters = 10, roundTo = 9)
        .select(col("title"), GridRound.binaryRound(col("rank"), 6).as("rank"))
        .orderBy("title")
    }),

    // WikiParser end-to-end over synthesized wiki XML (oracle-checked via
    // an independent SQL formulation of the same link extraction)
    "wiki_parse" -> ((s, d) => {
      val xml = documents(s, d).select(concat(
        lit("<page><title>D"), col("doc_id"),
        lit("</title><id>"), col("doc_id"),
        lit("</id><text xml:space=\"preserve\">"),
        regexp_replace(col("text"), "(spark|join|merge)", "[[$1]]"),
        lit("</text></page>")).as("value"))
      WikiParser.linkGraph(WikiParser.pages(xml))
        .select(col("title"), size(col("outlinks")).cast("long").as("n_links"),
          concat_ws(",", col("outlinks")).as("links"))
        .orderBy("title")
    }),

    // Same pipeline through the fused Generator UDTF (WikiPageParse):
    // one forward scan instead of four regex re-scans per page; must
    // hash-match the identical oracle as wiki_parse
    "wiki_parse_fused" -> ((s, d) => {
      val xml = documents(s, d).select(concat(
        lit("<page><title>D"), col("doc_id"),
        lit("</title><id>"), col("doc_id"),
        lit("</id><text xml:space=\"preserve\">"),
        regexp_replace(col("text"), "(spark|join|merge)", "[[$1]]"),
        lit("</text></page>")).as("value"))
      WikiParser.linkGraphFused(xml)
        .select(col("title"), size(col("outlinks")).cast("long").as("n_links"),
          concat_ws(",", col("outlinks")).as("links"))
        .orderBy("title")
    }),

    // §2.12 — HITS hubs/authorities: the iterative-dataflow framework
    // generalized to a two-vector mutual recurrence (max-normalized half
    // steps keep the DuckDB recursive CTE in 1e-9 lockstep; the
    // normalizer is a broadcast 1-row aggregate, no driver sync/iter)
    "graph_hits" -> ((s, d) =>
      graft.graph.Hits.run(graphEdges(s, d), iters = 10)
        .select(col("title"), round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))
        .orderBy("title")),

    // per-vertex triangle counts over the co-purchase graph (parts
    // sharing an order). Pair-gen is one groupBy + map-side pair
    // expansion (orders hold ≤7 parts, so per-group expansion is O(1))
    // instead of a lineitem self-join — measured 3.9 s → <1 s at sf0.1;
    // counting itself is the sorted-merge intersection form (Triangles)
    "graph_triangles" -> ((s, d) =>
      graft.graph.Triangles.perVertex(coPurchasePairs(s, d), "a", "b")
        .orderBy("node")),

    // bounded-hop BFS from customer c1 over the order graph — frontier
    // expansion with anti-join settlement; oracle = DuckDB recursive CTE
    "graph_bfs" -> ((s, d) => {
      import s.implicits._
      graft.graph.ShortestPaths.run(graphEdges(s, d),
          Seq("c1").toDF("title"), maxHops = 4)
        .orderBy("title")
    }),

    // weighted bounded-cost SSSP from c1: Dijkstra fast tier /
    // improved-only Bellman-Ford distributed; integer weights ≥ 1 make
    // the 8-round oracle unroll provably sufficient (cost ≤ 8 ⇒ ≤ 8
    // edges), not just empirically converged
    "graph_sssp" -> ((s, d) => {
      import s.implicits._
      graft.graph.ShortestPaths.runWeighted(weightedEdges(s, d),
          Seq("c1").toDF("title"), maxCost = 8)
        .orderBy("title")
    }),

    // weighted bipartite projection: the order–part incidence collapsed
    // to a part–part graph weighted by co-occurrence support (the edge
    // relation the triangle/k-core keys consume, with its weight kept).
    // Pair-gen is the same groupBy + bounded per-order expansion (≤7
    // parts/order ⇒ ≤21 pairs) — the naive self-join would shuffle the
    // fact table against itself; support ≥ 3 prunes noise edges
    "graph_project" -> ((s, d) =>
      coPurchasePairs(s, d)
        .groupBy("a", "b")
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 3)
        .orderBy("a", "b")),

    // equi-depth histogram: 10 buckets of near-equal row count over the
    // price distribution — the data-profiling / optimizer-stats shape
    // the fixed-bin histogram_fixed can't give on skewed data. NOT the
    // ntile formulation: an unpartitioned ntile window is a single-task
    // global sort (the one plan shape this engine bans). Instead: one
    // aggregation computes the 9 decile cutpoints, broadcast back, and
    // bucketing is a map-side comparison count. Exactness: deciles of
    // integer cents interpolate on the 0.1 grid, so cut×10 is a true
    // integer and the bucket test is pure long comparison
    "histogram_equidepth" -> ((s, d) => {
      val li = lineitem(s, d).select(
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      // ONE percentile aggregate with the whole cut array: nine scalar
      // percentile() calls each build and merge their own per-partition
      // value-counts map (measured 21.5 s at sf0.1); the array form
      // shares a single map for all cuts (1.1 s), same values exactly
      val cuts = li
        .agg(expr("percentile(cents, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
          .as("cs"))
        .select((1 to 9).map(i =>
          round(element_at(col("cs"), i) * 10).cast("long").as(s"c$i")): _*)
      val bucket = (1 to 9).foldLeft(lit(1)) { (acc, i) =>
        acc + when(col("cents") * 10 > col(s"c$i"), 1).otherwise(0)
      }
      li.crossJoin(broadcast(cuts))
        .select(col("cents"), bucket.cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
        .orderBy("bucket")
    }),

    // TPC-H Q5-shaped star join: one fact-fact shuffle (lineitem ⋈
    // orders on orderkey), every dimension broadcast (region-filtered
    // nations, suppliers, customers), the same-nation customer=supplier
    // constraint applied as a post-join filter. Revenue in exact 1e-4
    // units (cents × discount-percent longs) — associative, so any
    // partial-agg order agrees. The plan to want at 100 TB: the fact
    // table shuffles ONCE; nothing else does
    "star_join" -> ((s, d) => {
      val li = lineitem(s, d); val o = orders(s, d); val c = customer(s, d)
      val su = supplier(s, d); val n = nation(s, d); val r = region(s, d)
      val asiaNations = n
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      li.join(o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")
            * round((lit(1) - col("l_discount")) * 100).cast("long"))
          .as("revenue_e4"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue_e4"), asc("n_name"))
    }),

    // training-shard manifest: deterministic doc→shard assignment (md5
    // bucket — growth-stable, engine-portable) + per-shard audit row
    // (count, token budget, commutative content fingerprint). The
    // manifest is what a training job checks BEFORE reading 100 TB of
    // shards: row counts and fingerprints localize a bad shard without
    // re-reading the corpus. One scan, one 16-group agg
    "shard_manifest" -> ((s, d) =>
      documents(s, d).select(
          (graft.ops.Sampling.hashBucket(col("doc_id")) % 16).cast("long")
            .as("shard"),
          size(TextOps.tokenize(col("text"))).cast("long").as("ntok"),
          conv(substring(md5(concat(col("doc_id").cast("string"), lit("|"),
            col("n_chars").cast("string"))), 1, 8), 16, 10).cast("long")
            .as("h"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("token_sum"),
          sum(col("h")).as("fingerprint"))
        .orderBy("shard")),

    // URL parsing/normalization — the first pass of every web-corpus
    // pipeline (canonical URL = dedup key, domain = quality/source
    // signal). URLs are synthesized deterministically (the PII-injection
    // pattern: the corpus has none); parsing is pure Java∩RE2 regex so
    // the oracle runs the IDENTICAL patterns. Normalization: lowercase
    // host, strip port/query/fragment; domain = last two host labels
    // (registrable-domain heuristic). Port stays a string ('' when
    // absent) — casting '' to BIGINT diverges between engines. Map-side
    // only: zero shuffles below the output sort
    "url_parse" -> ((s, d) => {
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("http")).otherwise(lit("https")),
        lit("://WWW.Site"), (col("doc_id") % 50).cast("string"),
        lit(".Example.COM"),
        when(col("doc_id") % 4 === 0, lit(":8080")).otherwise(lit("")),
        lit("/docs/"), col("doc_id").cast("string"), lit("/view"),
        when(col("doc_id") % 2 === 0,
          concat(lit("?id="), col("doc_id").cast("string"), lit("&ref=feed")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#top")).otherwise(lit("")))
      val withUrl = documents(s, d).select(col("doc_id"), url.as("url"))
      val host = lower(regexp_extract(col("url"), "^[a-z]+://([^/?#:]+)", 1))
      withUrl.select(col("doc_id"), col("url"),
          regexp_extract(col("url"), "^([a-z]+)://", 1).as("scheme"),
          host.as("host"),
          regexp_extract(host, "([a-z0-9-]+\\.[a-z0-9-]+)$", 1).as("domain"),
          regexp_extract(col("url"), "^[a-z]+://[^/?#:]+:([0-9]+)", 1).as("port"),
          regexp_extract(col("url"), "^[a-z]+://[^/?#]+(/[^?#]*)", 1).as("path"),
          regexp_extract(col("url"), "[?&]id=([0-9]+)", 1).as("qid"))
        .withColumn("norm",
          concat(col("scheme"), lit("://"), col("host"), col("path")))
        .orderBy("doc_id")
    }),

    // URL-canonicalization dedup (the CommonCrawl-style first pass):
    // messy variants — scheme/host case, default :80 port, trailing
    // slash, utm_* tracking params, fragments — collapse to one
    // canonical key per underlying page. Canonicalization is pure
    // per-row string/array expressions (param list: split → filter
    // utm_* out → sort → rejoin, all codegen'd, zero shuffle); the only
    // shuffle is the final groupBy(canonical). The oracle rebuilds the
    // canonical form from FIRST PRINCIPLES (the generator's bid), so
    // any canonicalization slip breaks the group count, keeper or hash.
    "dedup_url" -> ((s, d) => {
      val bid = (col("doc_id") % 100).cast("string")
      val raw = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://Example.COM"))
          .otherwise(lit("http://example.com")),
        when(col("doc_id") % 3 === 0, lit(":80")).otherwise(lit("")),
        lit("/p/"), bid,
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, concat(lit("?utm_source=feed&id="), bid))
          .otherwise(concat(lit("?id="), bid)),
        when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))
      val u = documents(s, d).select(col("doc_id"), raw.as("url"))
        .withColumn("nofrag", regexp_replace(col("url"), "#.*$", ""))
      val scheme = lower(regexp_extract(col("nofrag"), "^([A-Za-z]+)://", 1))
      val host   = lower(regexp_extract(col("nofrag"), "^[A-Za-z]+://([^/?#:]+)", 1))
      val port   = regexp_extract(col("nofrag"), "^[A-Za-z]+://[^/?#:]+:([0-9]+)", 1)
      val path   = regexp_replace(
        regexp_extract(col("nofrag"), "^[A-Za-z]+://[^/?#]+(/[^?#]*)", 1),
        "/$", "")
      val query  = regexp_extract(col("nofrag"), "\\?([^#]*)$", 1)
      val params = array_join(array_sort(filter(
        split(query, "&"), p => !p.startsWith("utm_"))), "&")
      u.select(col("doc_id"),
          concat(scheme, lit("://"), host,
            when(port === "" || port === "80", lit(""))
              .otherwise(concat(lit(":"), port)),
            path,
            when(params === "", lit("")).otherwise(concat(lit("?"), params)))
            .as("canonical"))
        .groupBy("canonical")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_variants"))
        .orderBy("canonical")
    }),

    // hashing-trick bag of words: fixed 64-dim sparse text features with
    // NO vocabulary pass — token→md5 bucket, collisions by design
    // (Weinberger et al. 2009). The two-level agg keeps the shuffle at
    // (doc, bucket) granularity; features surface as a sorted
    // "bucket:count" string (the engine-wide list-column convention)
    "feature_hash" -> ((s, d) =>
      Features.hashFeatures(documents(s, d), "doc_id", "text", dim = 64)
        .orderBy("doc_id")),

    // deterministic categorical indexing: (freq desc, value asc) total
    // order — StringIndexer made engine-portable; the 5-row mapping
    // broadcasts back so the fact table never shuffles
    "label_index" -> ((s, d) =>
      Features.indexLabels(orders(s, d), "o_orderpriority", "pri_idx")
        .select(col("o_orderkey"), col("o_orderpriority").as("pri"),
          col("pri_idx"))
        .orderBy("o_orderkey")),

    // min–max scaling to ppm in pure long math: one global (min,max) row
    // broadcast back, truncating div on the cents/qty grid — bit-exact
    // under any partitioning, no float rounding anywhere
    "feature_scale" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        round(col("l_quantity")).cast("long").as("qty"))
      Features.minMaxScale(li, Seq("cents", "qty"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("cents_ppm"), col("qty_ppm"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // k-core of the co-purchase graph: peel until every surviving part
    // has >= 80 surviving co-purchase partners — the density filter
    // that drops the periphery before community/similarity mining.
    // Pair-gen reuses the triangles groupBy expansion (orders hold <=7
    // parts) + distinct across orders; KCore handles the two-tier
    // peeling. The k-core is unique, so the oracle's parallel-round
    // unrolling meets the engine's (fast tier: sequential queue) peel
    // at the same fixpoint
    "graph_kcore" -> ((s, d) =>
      graft.graph.KCore.run(coPurchasePairs(s, d).distinct(), k = 80)
        .orderBy("node")),

    // 4 rounds of synchronous min-tie label propagation on the same
    // co-purchase graph — fixed-round contract (not fixpoint), so the
    // unrolled oracle is exact even where synchronous LPA oscillates
    "graph_lpa" -> ((s, d) =>
      // no caller-side .distinct(): LPA canonicalizes internally — the
      // doubled dedup shuffle was pure overhead (r16)
      graft.graph.LabelPropagation.run(coPurchasePairs(s, d),
        rounds = 4).orderBy("node")),

    // community quality of the LPA partition: per-community modularity
    // numerator 4m·e_in − deg_c² — EXACT LONGS only (the global Q is
    // Σ q_num / 4m², consumer math); one labels join + two tiny aggs
    // beyond the LPA run itself
    "graph_modularity" -> ((s, d) => {
      val pairs = coPurchasePairs(s, d).distinct()
        .localCheckpoint() // consumed by LPA and by the edge-label join
      // the pairs relation is already distinct + canonical (a < b) and
      // checkpointed — LPA may skip its internal dedup shuffle
      // r17: labels materialized ONCE — the kernel's un-persisted RDD was
      // re-evaluated by each of the two join legs — and the attach
      // broadcasts when the label relation is measured small (guide
      // §3.1; the count is free on the checkpoint; 24 B is the UnsafeRow
      // of two longs). At scale it shuffles — labels is |V|-sized.
      val labels = graft.graph.LabelPropagation.run(pairs, rounds = 4,
        assumeCanonical = true).localCheckpoint()
      val m = pairs.count()
      val lab = if (labels.count() * 24L <= s.sessionState.conf.autoBroadcastJoinThreshold)
        broadcast(labels) else labels
      val e = pairs
        .join(lab.select(col("node").as("a"), col("label").as("la")), "a")
        .join(lab.select(col("node").as("b"), col("label").as("lb")), "b")
        .localCheckpoint()
      val inc = e.filter(col("la") === col("lb"))
        .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
      val degc = e.select(col("la").as("label"))
        .unionByName(e.select(col("lb").as("label")))
        .groupBy("label").agg(count(lit(1)).as("deg_c"))
      degc.join(inc, Seq("label"), "left")
        .select(col("label"), coalesce(col("e_in"), lit(0L)).as("e_in"),
          col("deg_c"))
        .withColumn("q_num",
          lit(4L * m) * col("e_in") - col("deg_c") * col("deg_c"))
        .orderBy("label")
    }),

    // degree profile of the same graph — one shuffle per side, full outer
    // so pure sources/sinks appear with a zero degree
    "graph_degrees" -> ((s, d) => {
      val e = graphEdges(s, d)
      val outd = e.groupBy(col("src").as("title")).agg(count(lit(1)).as("out_deg"))
      val ind  = e.groupBy(col("dst").as("title")).agg(count(lit(1)).as("in_deg"))
      outd.join(ind, Seq("title"), "full")
        .select(col("title"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"))
        .orderBy("title")
    }),

    // PII redaction — the pre-training privacy scrub. The corpus has no
    // PII (alpha word soup), so the key injects deterministic emails/
    // IPs/phone tokens per doc (same injection pattern as wiki_parse),
    // then redacts with the Java∩RE2-shared patterns; counts are the
    // pre-redaction observability feed. Zero-shuffle map-side chain.
    "text_pii_redact" -> ((s, d) => {
      val withPii = documents(s, d).select(col("doc_id"), concat(
        col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com from 10."),
        col("doc_id") % 256, lit("."), col("doc_id") % 100, lit(".7 call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      val (ne, ni, np) = TextOps.piiCounts(col("text"))
      withPii.select(col("doc_id"),
          TextOps.redactPii(col("text")).as("redacted"),
          ne.as("n_emails"), ni.as("n_ips"), np.as("n_phones"))
        .orderBy("doc_id")
    }),

    // Passage-level (C4-style) dedup: repeated 20-token chunks across
    // docs. A fixed boilerplate passage is prepended to every 7th doc —
    // chunk-aligned by construction — and every non-keeper occurrence
    // must be flagged. Raw text never shuffles (hash-only exchange).
    "dedup_passage" -> ((s, d) => {
      val boiler = "this corpus entry is provided as is without warranty " +
        "of any kind express or implied including merchantability " +
        "fitness and noninfringement"
      val docs2 = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(lit(boiler + " "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.passageDupes(docs2, "doc_id", "text", chunkTokens = 20)
        .orderBy("doc_id", "chunk_idx")
    }),

    // MERGE/upsert of a changes batch into a snapshot (the nightly
    // warehouse apply): every 3rd key gets a price correction (update),
    // every 5th spawns a shifted new key (insert), the rest keep.
    // robust outlier detection: median/MAD (not mean/stddev — a single
    // extreme value inflates stddev and masks its neighbors) flags
    // events with |v − median| > 2.5·MAD per event type. ALL comparisons
    // in scaled integers: medians of cents land on the 0.5 grid, so
    // 2·median and 2·MAD are exact longs — zero float drift across
    // engines. Group stats are 5 rows → broadcast back; the event log
    // shuffles only for the two tiny grouped percentiles
    "robust_outliers" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("v_cents"))
      graft.ops.DataQuality.robustOutliers(ev, "event_type", "event_id",
          "v_cents", numHalf = 5)
        .orderBy("event_id")
    }),

    // CDC changelog compaction: events as a keyed op log (error = a
    // delete tombstone, everything else upserts the value), compacted
    // to latest surviving state per user in ONE hash agg — max_by via
    // lexicographic struct-max on the unique seq; no window sort of the
    // log. Money in integer cents (driver data is on the 0.01 grid)
    "cdc_apply" -> ((s, d) => {
      val log = events(s, d).select(col("user_id"), col("event_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        round(col("value") * 100).cast("long").as("v_cents"))
      Relational.cdcCompact(log, "user_id", "event_id", "op")
        .select(col("user_id"), col("n_ops"), col("last_seq"),
          col("v_cents").as("value_cents"))
        .orderBy("user_id")
    }),

    "merge_upsert" -> ((s, d) => {
      val cur = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"))
      val chg = orders(s, d).filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") + 1.0, 2).as("price"))
        .unionByName(orders(s, d).filter(col("o_orderkey") % 5 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_custkey"), round(col("o_totalprice"), 2).as("price")))
      Relational.mergeUpsert(cur, chg, "o_orderkey").orderBy("o_orderkey")
    }),

    // SCD type-2 historization: event_type per user collapsed to
    // validity intervals, valid_to null on the open row
    // valid_to joins the sort (explicit NULLS FIRST = Spark's asc
    // default) so the order stays total even if a user has same-micro
    // events with alternating types — two rows identical but for
    // valid_to; the sf data has no such tie, which is exactly when a
    // latent nondeterminism survives the oracle
    "scd2_build" -> ((s, d) =>
      Relational.scd2(events(s, d), "user_id", "event_type", "event_id", "ts")
        .orderBy(col("user_id"), col("valid_from"), col("attr"),
          col("valid_to").asc_nulls_first)),

    // Point-in-time-correct dimension lookup (the feature-store join):
    // each purchase picks the user's attribute VALID AT its event time
    // from the SCD2 change relation — the as-of machinery applied to
    // historized dimensions; training-serving skew starts when this
    // join is done wrong (e.g. with the current row). Oracle = DuckDB's
    // native ASOF JOIN, an independent implementation.
    "join_pit" -> ((s, d) => {
      val changes = Relational.scd2(events(s, d), "user_id", "event_type",
          "event_id", "ts")
        .groupBy(col("user_id"), col("valid_from").as("t_us"))
        .agg(max(col("attr")).as("attr")) // unique per (key, ts): as-of precondition
      val purchases = events(s, d).withColumn("t_us", expr("ts div 1000"))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      graft.ops.AsOfJoin.asOf(purchases, changes, "user_id", "t_us", Seq("attr"))
        .orderBy("event_id")
    }),

    // last-touch attribution: each purchase credits the latest
    // click/view of the same user at-or-before it — the marketing
    // analytics staple, expressed as the SAME as-of machinery as
    // join_pit (one union-window shuffle, no inequality join). The touch
    // side is pre-deduplicated per (user, ts) by max event_id — the
    // as-of precondition; latency in exact integer micros
    "attribution_last_touch" -> ((s, d) => {
      // micro-resolution time (ts div 1000) on BOTH engines: DuckDB's
      // TIMESTAMP truncates parquet nanos to micros, so comparing at ns
      // would shift latencies by the truncated remainder (join_pit set
      // the precedent). Same-microsecond touches dedupe by max event_id
      val ev = events(s, d).withColumn("t_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(struct(col("event_id"), col("event_type"))).as("t"))
        .select(col("user_id"), col("t_us"),
          col("t.event_id").as("touch_id"),
          col("t.event_type").as("touch_type"), col("t_us").as("touch_us"))
      graft.ops.AsOfJoin.asOf(purchases, touches, "user_id", "t_us",
          Seq("touch_id", "touch_type", "touch_us"))
        .select(col("event_id"), col("user_id"), col("touch_id"),
          col("touch_type"),
          (col("t_us") - col("touch_us")).as("latency_us"))
        .orderBy("event_id")
    }),

    // ranking-function completions: percent_rank / cume_dist /
    // first_value sharing ONE window sort (total order via the key
    // tie-break, so the quotients are engine-exact)
    "window_pct" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          first(col("o_orderkey")).over(w).as("first_key"))
        .orderBy("o_orderkey")
    }),

    // Sequence packing for pretraining: documents concatenated per shard
    // and cut every 2048 tokens — each doc's (bin, offset) locates it in
    // the packed stream. Shards pack independently (64-way parallel
    // windows; the cumsum never sees the corpus in one task) — the
    // deterministic, restart-safe packing a 100 TB tokenization run
    // needs, vs greedy first-fit whose output depends on worker timing.
    "pack_sequences" -> ((s, d) => {
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      documents(s, d)
        .select(col("doc_id"), (col("doc_id") % 64).as("shard"),
          size(TextOps.tokenize(col("text"))).cast("long").as("n_tok"))
        .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .select(col("doc_id"), col("shard"),
          expr("cum_before div 2048").as("bin"),
          (col("cum_before") % 2048).as("offset"), col("n_tok"))
        .orderBy("doc_id")
    }),

    // Bigram language-model counts: top-100 bigrams with MLE conditional
    // probability P(w2|w1) = cnt(w1 w2)/cnt(w1 ·) — the n-gram-LM
    // building block (perplexity filtering at corpus scale starts from
    // exactly this relation). Bigrams form map-side from the token array
    // (one Generate barrier, no window); prefix counts derive from the
    // bigram counts themselves — ONE corpus shuffle total. Exact integer
    // counts, one IEEE division, total (cnt, bigram) order.
    "ngram_lm" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"),
          explode(array(TextOps.tokenize(col("text")))).as("w"))
        .filter(size(col("w")) >= 2)
      val bigrams = toks.select(explode(transform(
          sequence(lit(0), size(col("w")) - 2),
          i => concat(col("w")(i), lit(" "), col("w")(i + 1)))).as("bigram"))
      val c = bigrams.groupBy("bigram").agg(count(lit(1)).as("cnt"))
      val p = c.withColumn("w1", split(col("bigram"), " ").getItem(0))
      val pc = p.groupBy("w1").agg(sum(col("cnt")).as("pcnt"))
      p.join(pc, "w1")
        .select(col("bigram"), col("cnt"),
          round(col("cnt").cast("double") / col("pcnt"), 6).as("prob"))
        .orderBy(desc("cnt"), asc("bigram")).limit(100)
        .orderBy(desc("cnt"), asc("bigram"))
    }),

    // per-doc avg bigram log-likelihood under the corpus's own MLE LM —
    // the cheap perplexity proxy quality filters rank on; fixed-point
    // integer sums make the float pipeline order-independent
    "lm_score" -> ((s, d) =>
      TextAnalysis.bigramLmScore(documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // top-5 tf-idf terms per doc (doc_id < 50), df/N over the FULL corpus
    "tfidf_topk" -> ((s, d) =>
      graft.text.Retrieval.tfidfTopK(documents(s, d), "doc_id", "text",
          col("doc_id") < 50, k = 5)
        .orderBy("doc_id", "rn")),

    // overlapping 64-token windows every 32 (RAG chunking prep) with a
    // per-chunk content digest — pure Generate, no shuffle
    "chunk_overlap" -> ((s, d) =>
      TextAnalysis.chunkOverlap(documents(s, d), "doc_id", "text")
        .orderBy("doc_id", "chunk_id")),

    // integral source up-sampling (epoch mixing) — deterministic data-
    // mixture construction, no RNG
    "mix_epochs" -> ((s, d) =>
      graft.ops.Sampling.mixEpochs(documents(s, d), "doc_id", "source",
          Map("src0" -> 4, "src1" -> 3, "src2" -> 3, "src3" -> 2, "src4" -> 2))
        .orderBy("doc_id", "epoch")),

    // RETRIEVAL EVALUATION (MRR / DCG@10): the metrics step every
    // retriever change gates on. Candidates are a deterministic md5
    // ranking (52-bit hex prefix → exact-in-double long, identical on
    // both engines) standing in for a retriever's output; top-10 per
    // query via the O(k)-memory TopKAgg — map-side partial top-k, the
    // shuffle ships ≤10 rows per query per partition where a Window
    // top-k would shuffle EVERY candidate row of every query at 100 TB.
    // Relevance is a deterministic label; metrics integerize on the
    // fixed-point grid (Retrieval.rankingMetrics).
    "retrieval_eval" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"))
      val qs = s.range(0, 10).select(col("id").as("query"))
      val scored = qs.crossJoin(docs).withColumn("score",
        conv(substring(md5(concat(col("query").cast("string"), lit(":"),
          col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long"))
      val ranked = scored.groupBy("query")
        .agg(graft.functions.TopKAgg.topK(10,
          -col("score").cast("double"), col("doc_id").cast("string")).as("tops"))
        .select(col("query"), posexplode(split(col("tops"), ",")))
        .select(col("query"), (col("pos") + 1).cast("long").as("rank"),
          col("col").cast("long").as("doc_id"))
        .withColumn("rel",
          ((col("doc_id") + col("query")) % 5 === 0).cast("long"))
      graft.text.Retrieval.rankingMetrics(ranked).orderBy("query")
    }),

    // BM25 lexical retrieval: top-10 docs per query — the search
    // complement to the embedding ANN stack (hard-negative mining /
    // eval retrieval). Corpus pruned to query terms map-side before any
    // agg; stats ride as a broadcast 1-row aggregate.
    "bm25_topk" -> ((s, d) =>
      graft.text.Retrieval.bm25TopK(documents(s, d), "doc_id", "text",
          bm25Queries)
        .orderBy("query_id", "rank")),

    // SQL-text frontend with a CORRELATED scalar subquery — Catalyst
    // decorrelates it into a join+agg (SURVEY §4.1: the optimizer work
    // the reference never had). Integer-cents comparison (a_cents·n >
    // sum_cents) so the threshold can't flip on a float ulp; the SAME
    // text runs on both engines.
    "sql_correlated" -> ((s, d) => {
      customer(s, d).createOrReplaceTempView("customer")
      s.sql(
        """SELECT c_custkey FROM customer c
           WHERE CAST(round(c_acctbal * 100) AS BIGINT)
                 * (SELECT count(*) FROM customer c2
                    WHERE c2.c_nationkey = c.c_nationkey)
               > (SELECT sum(CAST(round(c2.c_acctbal * 100) AS BIGINT))
                  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
           ORDER BY c_custkey""")
    }),

    // SQL EXISTS / NOT EXISTS → semi/anti joins out of the decorrelator
    "sql_exists" -> ((s, d) => {
      customer(s, d).createOrReplaceTempView("customer")
      orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_custkey, c_acctbal FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_totalprice > 350000)
             AND EXISTS (SELECT 1 FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey
                           AND c2.c_custkey <> c.c_custkey
                           AND c2.c_acctbal < c.c_acctbal)
           ORDER BY c_custkey""")
    }),

    // WITH RECURSIVE hierarchy rollup (UnionLoopExec) — §2.16
    "sql_recursive" -> ((s, d) => {
      customer(s, d).createOrReplaceTempView("customer")
      s.sql(sqlRecursiveText)
    }),

    // correlated LATERAL top-k per group — §2.16
    "sql_lateral" -> ((s, d) => {
      customer(s, d).createOrReplaceTempView("customer")
      nation(s, d).createOrReplaceTempView("nation")
      s.sql(sqlLateralText)
    }),

    // ranking + framed running window, one shared SQL text — completes
    // the same-text family with the window surface
    "sql_window" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders")
      s.sql(sqlWindowText)
    }),

    // LSH quality evaluation: banding candidates measured against the
    // exact all-pairs Jaccard≥0.5 ground truth (the prefix-filter
    // relation) — recall/precision as ppm by integer division. The
    // observability number a production near-dup pipeline tracks when
    // tuning bands×rows; every count exact, no float anywhere.
    "dedup_eval" -> ((s, d) => {
      val docs = documents(s, d)
      val cand = Dedup.lshCandidatePairs(
          Dedup.minhashSignatures(docs, "doc_id", "text"))
        .select("doc_a", "doc_b")
      val truth = Dedup.prefixFilterPairs(docs, "doc_id", "text",
          threshold = 0.5, maxBucket = 1 << 20)
        .select("doc_a", "doc_b")
      val hit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      cand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_cand"), col("n_truth"), col("n_hit"),
          expr("n_hit * 1000000 DIV n_truth").as("recall_ppm"),
          expr("n_hit * 1000000 DIV n_cand").as("precision_ppm"))
    }),

    // one-pass column profile (the ingest-gate observability surface):
    // null/distinct/min/max per column from a SINGLE scan via the
    // Expand-based multi-distinct; money and timestamps normalized to
    // integer grids BEFORE profiling so string renderings can't drift
    "profile_table" -> ((s, d) =>
      graft.ops.DataQuality.profile(orders(s, d), Seq(
          "o_orderkey" -> col("o_orderkey"),
          "o_custkey" -> col("o_custkey"),
          "o_orderstatus" -> col("o_orderstatus"),
          "o_totalprice_cents" ->
            expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
          // parquet TIMESTAMP(MS) reads as NTZ; the UTC session makes
          // the cast a zero-shift relabel, matching DuckDB epoch_ms
          "o_orderdate_ms" -> unix_millis(col("o_orderdate").cast("timestamp"))))
        .orderBy("col_name")),

    // dataset-versioning diff: classify keys added/removed/changed
    // between two snapshots (the "after" is a deterministic evolution
    // of orders: %97 deletes, %89 price bumps, %101 key-shifted
    // inserts). Whole-payload struct compare; unchanged keys drop
    // before any downstream work, so output is bounded by churn
    "snapshot_diff" -> ((s, d) => {
      val base = orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val after = base
        .filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("cents", when(col("o_orderkey") % 89 === 0,
          col("cents") + 100).otherwise(col("cents")))
        .unionByName(base.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      Relational.snapshotDiff(base, after, "o_orderkey")
        .select(col("o_orderkey"), col("change_type"),
          col("__old.cents").as("old_cents"), col("__new.cents").as("new_cents"))
        .orderBy("o_orderkey", "change_type")
    }),

    // order-independent dataset fingerprint — the reproducibility
    // receipt: count + commutative sum of per-row md5 hashes over the
    // canonical row string; any engine/partitioning reproduces it
    "dataset_hash" -> ((s, d) =>
      graft.ops.DataQuality.datasetHash(orders(s, d),
        concat_ws("|", col("o_orderkey"), col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)")))),

    // declarative constraint gate: uniqueness + referential + range +
    // null checks folded into ONE aggregation over one scan (the FK
    // key set pre-joins as a broadcast); adding a check adds zero I/O
    "dq_checks" -> ((s, d) => {
      val ck = customer(s, d).select(col("c_custkey"))
      val j = orders(s, d)
        .join(broadcast(ck), col("o_custkey") === col("c_custkey"), "left")
      graft.ops.DataQuality.checks(j,
          rowViolations = Seq(
            "custkey_fk" -> col("c_custkey").isNull,
            "totalprice_range" ->
              (col("o_totalprice") <= 0.0 || col("o_totalprice") > 600000.0),
            "orderdate_nonnull" -> col("o_orderdate").isNull),
          uniqueKeys = Seq("orderkey_unique" -> col("o_orderkey")))
        .orderBy("check_name")
    }),

    // Array/map scalar-function coverage beyond the reference's string
    // set (§2.8): union/except/position/flatten/zip over the token
    // array plus a map built from entries — all map-side codegen'd
    "array_map_ops" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          explode(array(TextOps.tokenize(col("text")))).as("w"))
        .select(col("doc_id"),
          size(array_distinct(col("w"))).cast("long").as("n_distinct"),
          size(array_union(slice(col("w"), 1, 5), slice(col("w"), 3, 5)))
            .cast("long").as("n_union"),
          size(array_except(col("w"), array(lit("the"), lit("a"))))
            .cast("long").as("n_except"),
          array_position(col("w"), "spark").cast("long").as("spark_pos"),
          size(flatten(array(slice(col("w"), 1, 3), slice(col("w"), 1, 2))))
            .cast("long").as("n_flat"),
          element_at(map_from_arrays(
            array(lit("len"), lit("half")),
            array(size(col("w")).cast("long"),
              (size(col("w")) / lit(2)).cast("long"))), "half").as("half_len"))
        .orderBy("doc_id")),

    // Temporal extraction over the event stream (UTC end to end): the
    // date-dimension derivation every warehouse fact table needs
    "time_parts" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          timestamp_micros(expr("ts div 1000")).as("t"))
        .select(col("event_id"),
          year(col("t")).cast("long").as("y"),
          month(col("t")).cast("long").as("m"),
          dayofmonth(col("t")).cast("long").as("dom"),
          hour(col("t")).cast("long").as("h"),
          minute(col("t")).cast("long").as("mi"),
          date_format(col("t"), "yyyy-MM-dd").as("d"))
        .orderBy("event_id")),

    // Hybrid-retrieval fusion: reciprocal-rank fusion of the BM25 list
    // with a document-length prior list — the no-calibration combiner
    // for lexical + vector + prior signals (consumes only RANKS, so
    // incomparable scores fuse safely)
    "rank_fusion" -> ((s, d) => {
      import s.implicits._
      val bm = graft.text.Retrieval.bm25TopK(documents(s, d), "doc_id", "text",
          bm25Queries)
        .select("query_id", "doc_id", "rank")
      val qids = bm25Queries.map(_._1).toDF("query_id")
      val prior = documents(s, d)
        .orderBy(desc("n_chars"), asc("doc_id")).limit(10)
        // the unpartitioned window (single-partition WindowExec warning)
        // runs AFTER limit(10): it ranks a 10-row relation, never the
        // corpus — the TakeOrderedAndProject above did the heavy cut
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("n_chars"), asc("doc_id"))).cast("long"))
        .crossJoin(broadcast(qids))
        .select("query_id", "doc_id", "rank")
      graft.text.Retrieval.rrf(Seq(bm, prior)).orderBy("query_id", "rank")
    }),

    // Z-order (Morton) clustering key over a 1024x1024 grid — the
    // multi-dim layout index writeZOrdered sorts by; pure bitwise
    // codegen'd projection, oracle replays the identical bit algebra
    "zorder_index" -> ((s, d) =>
      lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        graft.sources.Warehouse.zorder2(
          col("l_partkey") % 1024, col("l_orderkey") % 1024, bits = 10).as("z"))
        .orderBy("l_orderkey", "l_linenumber")),

    // SCD2 MAINTENANCE: the dimension built from pre-cutoff history,
    // then a latest-change-per-user batch (post-cutoff) applied —
    // close/open/insert. At 100 TB the dimension is never rebuilt;
    // this delta-apply is the nightly op.
    "scd2_apply" -> ((s, d) => {
      val cutoff = 1705600000000000L
      val ev = events(s, d).withColumn("t_us", expr("ts div 1000"))
      val dim = Relational.scd2(ev.filter(col("t_us") < cutoff),
        "user_id", "event_type", "event_id", "ts")
      val chg = ev.filter(col("t_us") >= cutoff)
        .groupBy(col("user_id"))
        .agg(max(struct(col("t_us"), col("event_id"), col("event_type"))).as("m"))
        .select(col("user_id"), col("m.event_type").as("attr"),
          col("m.t_us").as("t_us"))
      Relational.scd2Apply(dim, chg, "user_id")
        .orderBy(col("user_id"), col("valid_from"), col("attr"),
          col("valid_to").asc_nulls_first)
    }),

    // Native session_window grouping (the batch twin of the streaming
    // session operator; end = last event + gap, and an event at exactly
    // window-end MERGES — the oracle mirrors the strict > gap split)
    "events_session_window" -> ((s, d) =>
      events(s, d)
        .select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("t"))
        .groupBy(col("user_id"), session_window(col("t"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"), col("n_events"))
        .orderBy("user_id", "start_us")),

    // EXACT distinct custkeys per priority via two-level bitmap agg
    // (Sketches.bitmapDistinct): the shuffle carries 4 KB bitmaps per
    // (group, 32k-key bucket) instead of every (group, key) occurrence —
    // the exact counterpart of approx_distinct's HLL. Oracle is the
    // plain COUNT(DISTINCT): hash-match = the bitmap path is exact.
    "bitmap_distinct" -> ((s, d) =>
      graft.ops.Sketches.bitmapDistinct(
          orders(s, d), "o_orderpriority", "o_custkey", "n_cust")
        .orderBy("o_orderpriority")),

    // Bloom-pruned semi join (Sketches.bloomPrunedSemi): high-value order
    // keys build a Bloom filter probed inside the lineitem scan's
    // codegen (BloomMightContain), exact semi join verifies survivors
    // only — Spark's InjectRuntimeFilter shape made explicit. The result
    // is bloom-independent (no false negatives + exact verify), which is
    // exactly what the plain semi-join oracle certifies.
    "bloom_semi_prune" -> ((s, d) =>
      graft.ops.Sketches.bloomPrunedSemi(
          lineitem(s, d).select(col("l_orderkey"), col("l_returnflag"),
            col("l_quantity")),
          "l_orderkey",
          orders(s, d).filter(col("o_totalprice") > 400000)
            .select("o_orderkey"),
          "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .orderBy("l_returnflag")),

    // per-group OLS regression (price-cents vs quantity) from EXACT
    // integer moments: sums stay in longs (magnitudes bounded at bench
    // scale; decimal(38,0) for the moment COMBINATION, which overflows
    // long), the slope/intercept divisions happen once on doubles cast
    // from exact integers — both engines run the identical IEEE ops, so
    // round(6) agrees. DuckDB mirrors via HUGEINT sums. At 100 TB the
    // raw sums move to decimal too — same plan shape, one hash agg.
    "regr_agg" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val m = lineitem(s, d).select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      val num = col("n").cast(dec) * col("sxy").cast(dec) -
        col("sx").cast(dec) * col("sy").cast(dec)
      val den = col("n").cast(dec) * col("sxx").cast(dec) -
        col("sx").cast(dec) * col("sx").cast(dec)
      val slope = num.cast("double") / den.cast("double")
      m.select(col("l_returnflag"), col("n"),
          round(slope, 6).as("slope"),
          round((col("sy").cast("double") - slope * col("sx").cast("double"))
            / col("n").cast("double"), 6).as("intercept"))
        .orderBy("l_returnflag")
    }),

    // 2-D Pareto frontier over distinct (price, size) points — the
    // two-phase distributed skyline (Analytics.skyline): per-x-bucket
    // window prune, then a global pass over the tiny per-bucket chains.
    // Oracle is the quadratic NOT EXISTS dominance test.
    "skyline_pareto" -> ((s, d) =>
      graft.ops.Analytics.skyline(
          part(s, d).select(
            expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price_cents"),
            col("p_size").cast("long").as("psize")),
          "price_cents", "psize", bucketWidth = 10000L)
        .orderBy("price_cents", "psize")),

    // first-order Markov transition matrix over sessionized journeys
    // (Analytics.markovTransitions): one user shuffle, #types² output;
    // probabilities as ppm via INTEGER floor division (no float grid)
    "markov_transitions" -> ((s, d) =>
      graft.ops.Analytics.markovTransitions(
          events(s, d).withColumn("t_us", expr("ts div 1000")),
          "user_id", "event_id", "t_us", "event_type",
          gapUs = 1800L * 1000000L)
        .orderBy("from_type", "to_type")),

    // interval-OVERLAP join (RangeJoin.intervalOverlap): order activity
    // windows × supplier promo windows on the day axis, bucket-equi with
    // unique pair claiming (no distinct, no BNL). Day arithmetic is pure
    // integer on both engines.
    "join_interval" -> ((s, d) => {
      val o = orders(s, d).select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01")))
            .cast("long").as("a_lo"))
        .withColumn("a_hi", col("a_lo") + (col("o_orderkey") % 7) + 1)
      val sup = supplier(s, d).select(col("s_suppkey"),
          ((col("s_suppkey") % 100) * 7).cast("long").as("b_lo"))
        .withColumn("b_hi", col("b_lo") + 13)
      graft.ops.RangeJoin.intervalOverlap(o, sup,
          "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 14.0)
        .groupBy("s_suppkey").agg(count(lit(1)).as("n_orders"))
        .orderBy("s_suppkey")
    }),

    // two-proportion A/B z-statistic from exact integer counts (variant
    // = orderkey parity, conversion = status 'F'); the only floats are
    // the final identical-op-order divisions — the stats_agg discipline
    "ab_test" -> ((s, d) => {
      val t = orders(s, d).select(
          (col("o_orderkey") % 2).cast("long").as("v"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("c"))
        .agg(sum(when(col("v") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("v") === 0, col("c")).otherwise(0L)).as("k0"),
          sum(when(col("v") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("v") === 1, col("c")).otherwise(0L)).as("k1"))
      val p0 = col("k0").cast("double") / col("n0").cast("double")
      val p1 = col("k1").cast("double") / col("n1").cast("double")
      val ph = (col("k0") + col("k1")).cast("double") /
        (col("n0") + col("n1")).cast("double")
      t.select(col("n0"), col("k0"), col("n1"), col("k1"),
        round((p1 - p0) / sqrt(ph * (lit(1.0) - ph) *
          (lit(1.0) / col("n0").cast("double") +
           lit(1.0) / col("n1").cast("double"))), 6).as("z"))
    }),

    // §2.8 widening: the conditional/null-handling scalar block —
    // nullif / coalesce chains / greatest / least over crafted nulls
    // (every 7th acctbal nulled so the branches all fire)
    "null_funcs" -> ((s, d) =>
      customer(s, d).select(col("c_custkey"),
          when(col("c_custkey") % 7 =!= 0,
            expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("bal"))
        .select(col("c_custkey"),
          expr("nullif(bal, 0)").as("nz_bal"),
          coalesce(col("bal"), lit(-1L)).as("bal_or_neg1"),
          greatest(col("bal"), lit(0L)).as("floor0"),
          least(col("bal"), lit(100000L)).as("cap1k"),
          expr("CAST(isnull(bal) AS STRING)").as("is_missing"))
        .orderBy("c_custkey")),

    // §2.8 widening: the second string-scalar block (translate / pads /
    // repeat / reverse / ascii / left / right) — every function paired
    // with a DuckDB twin
    "string_funcs2" -> ((s, d) =>
      part(s, d).select(col("p_partkey"),
          translate(col("p_name"), "ae", "4&").as("t"),
          lpad(col("p_size").cast("string"), 4, "0").as("lp"),
          rpad(col("p_size").cast("string"), 3, "_").as("rp"),
          expr("repeat(p_brand, 2)").as("rep"),
          reverse(col("p_name")).as("rev"),
          ascii(col("p_name")).cast("long").as("a"),
          expr("left(p_name, 3)").as("l3"),
          expr("right(p_name, 3)").as("r3"))
        .orderBy("p_partkey")),

    // bitwise scalar block (&, |, ^, shifts) — integer-exact by nature;
    // DuckDB spells xor as a function and precedence differs, so this
    // key is DF-side + mirrored SQL rather than same-text
    "bitwise_ops" -> ((s, d) =>
      orders(s, d).select(col("o_orderkey"),
          (col("o_orderkey").bitwiseAND(255)).as("b_and"),
          (col("o_orderkey").bitwiseOR(4096)).as("b_or"),
          (col("o_orderkey").bitwiseXOR(170)).as("b_xor"),
          shiftleft(col("o_orderkey"), 3).cast("long").as("b_shl"),
          shiftright(col("o_orderkey"), 2).cast("long").as("b_shr"))
        .orderBy("o_orderkey")),

    // error-tolerant casting in ONE shared SQL text (try_cast semantics:
    // malformed -> NULL, never an exception — the reference NPEs)
    "sql_try_cast" -> ((s, d) => {
      documents(s, d).createOrReplaceTempView("documents")
      s.sql(sqlTryCastText)
    }),

    // GROUP BY ALL / ORDER BY ALL (the modern SQL shorthand), one text
    "sql_group_by_all" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders")
      s.sql(sqlGroupByAllText)
    }),

    // DISCRETE percentile (an ACTUAL member value, not interpolation):
    // value at row ceil(p·n) in (value, unique-key) order — exact cents,
    // no float anywhere (the quantile_cont sibling is percentile_agg).
    // Window rides one partition per group; at scale the same shape
    // range-partitions by group.
    "percentile_disc" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("cents"), col("o_orderkey"))
      val ranked = orders(s, d).select(col("o_orderpriority"),
          col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderpriority")))
      ranked
        .filter(col("rn") === expr("CAST(ceil(n * 0.5) AS BIGINT)") ||
          col("rn") === expr("CAST(ceil(n * 0.95) AS BIGINT)"))
        .groupBy("o_orderpriority")
        .agg(min(when(col("rn") === expr("CAST(ceil(n * 0.5) AS BIGINT)"),
            col("cents"))).as("p50_cents"),
          min(when(col("rn") === expr("CAST(ceil(n * 0.95) AS BIGINT)"),
            col("cents"))).as("p95_cents"))
        .orderBy("o_orderpriority")
    }),

    // ID-continuity audit: missing ranges in a supposedly-dense key
    // sequence (dropped batches show up as gaps) — lead-window islands,
    // output bounded by the number of gaps. Gaps are INJECTED by
    // filtering multiples of 97 (the corpus is dense).
    "dq_id_gaps" -> ((s, d) => {
      val ids = orders(s, d).filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey").as("id"))
      val w = Window.orderBy("id")
      ids.withColumn("nxt", lead(col("id"), 1).over(w))
        .filter(col("nxt") > col("id") + 1)
        .select((col("id") + 1).as("gap_start"), (col("nxt") - 1).as("gap_end"),
          (col("nxt") - col("id") - 1).as("n_missing"))
        .orderBy("gap_start")
    }),

    // The DSv2 graftkv connector end-to-end: supplier rows round-trip
    // through the reference's key\tvalue text format ONCE (cache), then
    // scan back through format("graftkv") with a key-prefix pushed into
    // the reader and only the pruned columns materialized. The oracle
    // reads the parquet truth — hash-match certifies the connector's
    // byte contract, split planning and filter semantics together.
    "scan_kv_dsv2" -> ((s, d) => {
      s.read.format("graftkv").load(kvCache(s, d))
        .filter(col("key").startsWith("Supplier#00000001"))
        .select(col("key"), col("value").cast("long").as("cents"))
        .orderBy("key")
    }),

    // higher-order array function block (the lambda surface beyond
    // array_map_ops' set operators): aggregate fold, exists/forall,
    // filter, zip_with over token-length arrays — all integer-exact
    "array_hof_ops" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          explode(array(graft.ops.TextOps.tokenize(col("text")))).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"),
          expr("transform(w, x -> CAST(length(x) AS BIGINT))").as("lens"))
        .select(col("doc_id"),
          expr("aggregate(lens, 0L, (a, x) -> a + x)").as("len_sum"),
          expr("exists(lens, x -> x > 8)").as("has_long"),
          expr("forall(lens, x -> x < 30)").as("all_short"),
          expr("CAST(size(filter(lens, x -> x >= 5)) AS BIGINT)").as("n_ge5"),
          expr("""aggregate(
              zip_with(slice(lens, 1, CAST(least(5, size(lens) - 1) AS INT)),
                       slice(lens, 2, CAST(least(5, size(lens) - 1) AS INT)),
                       (a, b) -> a * b),
              0L, (a, x) -> a + x)""").as("zip_dot"))
        .orderBy("doc_id")),

    // class-balanced downsampling: every label keeps exactly
    // min-class-count rows (deterministic: lowest vec_id first) — the
    // imbalance fix before classifier training; one window + one
    // broadcast scalar
    "sample_balanced" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("label").cast("long").as("label"))
      val minCnt = e.groupBy("label").agg(count(lit(1)).as("n"))
        .agg(min("n")).head.getLong(0)
      e.withColumn("rn", row_number().over(
          Window.partitionBy("label").orderBy("vec_id")).cast("long"))
        .filter(col("rn") <= minCnt)
        .select("label", "vec_id", "rn")
        .orderBy("label", "vec_id")
    }),

    // TEMPERATURE-scaled source sampling (mT5 α-sampling, α=0.5): source
    // weight ∝ √(char mass) flattens the size distribution; a K=200-doc
    // budget is allocated by LARGEST REMAINDER over exact integers
    // (base = K·w div W, leftovers to the biggest K·w mod W, ties to
    // source asc) so the quotas sum to exactly K on both engines. Doc
    // selection inside a source is the smallest-md5 prefix — the
    // engine-wide deterministic stand-in for a uniform draw. Quota calc
    // runs as windows over the 20-row source table (broadcast back);
    // the corpus itself shuffles once for the per-source ranking.
    "sample_temperature" -> ((s, d) => {
      val k = 200L
      val quotas = documents(s, d)
        .groupBy("source").agg(sum("n_chars").as("chars"))
        .withColumn("w", floor(sqrt(col("chars"))).cast("long"))
        .withColumn("wtot", sum("w").over(Window.partitionBy()))
        .withColumn("base", expr(s"$k * w DIV wtot"))
        .withColumn("rem", expr(s"($k * w) % wtot"))
        .withColumn("deficit", lit(k) - sum("base").over(Window.partitionBy()))
        .withColumn("rr", row_number().over(
          Window.partitionBy().orderBy(desc("rem"), asc("source"))).cast("long"))
        .select(col("source").as("q_source"),
          (col("base") + when(col("rr") <= col("deficit"), 1L).otherwise(0L))
            .as("quota"))
      documents(s, d)
        .join(broadcast(quotas), col("source") === col("q_source"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
          .cast("long"))
        .filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("source"), col("quota"))
        .orderBy("doc_id")
    }),

    // leave-one-out target encoding (the mean-encode that does not leak
    // the row's own target): (group sum − own) DIV (n − 1) in exact
    // cents; one window pass, no self-join
    "feature_target_encode" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
      orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("y"))
        .withColumn("sum_c", sum(col("y")).over(w))
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("n") > 1)
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("(sum_c - y) DIV (n - 1)").as("loo_mean_cents"))
        .orderBy("o_orderkey")
    }),

    // Matryoshka-truncated retrieval (MRL): top-k cosine on the FIRST 8
    // dims only — the cheap-first-stage ranking a matryoshka-trained
    // embedding enables (re-rank survivors with full dims downstream).
    // Same brute-force machinery, sliced input; identical fold order
    // keeps the DuckDB mirror bit-exact.
    "similarity_mrl" -> ((s, d) =>
      Similarity.bruteForceTopK(
          embeddings(s, d).select(col("vec_id"),
            slice(col("embedding"), 1, 8).as("embedding")),
          "vec_id", "embedding", col("vec_id") < 10, k = 5)
        .orderBy("query_id", "rn")),

    // degree assortativity of the co-purchase graph: Pearson r over
    // per-edge (deg a, deg b) pairs in both orientations — the
    // regr_agg discipline (exact long moments, decimal combination,
    // one identical IEEE finish)
    "graph_assortativity" -> ((s, d) => {
      // Per-NODE moment decomposition over the directed both-ways view:
      // with d(v) = degree and snd(v) = Σ_{u∈N(v)} d(u), the edge-union
      // moments collapse to n = Σd(v), sx = Σd(v)², sxx = Σd(v)³,
      // sxy = Σ d(v)·snd(v) — exact long sums, value-identical to the
      // per-edge union the oracle materializes (integer addition is
      // order-free), so the oracle is untouched. Plan shape: ONE staged
      // relation (the distinct edge set, consumed by both passes), one
      // broadcast of the node-level degree table, two same-key shuffles
      // — replacing the round-6 form's two checkpoints + two edge-level
      // degree joins (wall 5.0 s / 25 CPU-s at sf0.1 quiet).
      val e = coPurchasePairs(s, d)
        .select(col("a"), col("b")).distinct().localCheckpoint(false)
      def dir = e.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
      val deg = dir.groupBy(col("src").as("v")).agg(count(lit(1)).as("dd"))
      val nd = dir
        .join(broadcast(deg.select(col("v").as("dst"), col("dd"))), "dst")
        .groupBy("src")
        .agg(count(lit(1)).as("dv"), sum("dd").as("snd"))
      val mm = nd.agg(sum("dv").as("n"),
        sum(expr("dv * dv")).as("sx"),
        sum(expr("dv * snd")).as("sxy"),
        sum(expr("dv * dv * dv")).as("sxx"))
      val dec = "decimal(38,0)"
      val num = mm("n").cast(dec) * col("sxy").cast(dec) -
        col("sx").cast(dec) * col("sx").cast(dec)
      // denx = deny exactly (sx = sy, sxx = syy): one decimal value,
      // squared in double — the same IEEE product the oracle reaches
      // via its two equal-valued casts
      val den = mm("n").cast(dec) * col("sxx").cast(dec) -
        col("sx").cast(dec) * col("sx").cast(dec)
      mm.select(col("n"),
        round(num.cast("double") /
          sqrt(den.cast("double") * den.cast("double")), 6).as("r"))
    }),

    // vowel-run syllable proxy (readability signal for a corpus with no
    // sentence punctuation): counts + ppm ratio — float-free; also the
    // regexp_count surface
    "text_syllables" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
          size(graft.ops.TextOps.tokenize(col("text"))).cast("long").as("n_words"),
          regexp_count(col("text"), lit("[aeiou]+")).cast("long").as("n_syl"))
        .withColumn("syl_per_word_ppm", expr("n_syl * 1000000 DIV n_words"))
        .orderBy("doc_id")),

    // TPC-H Q6 (forecast revenue change): pure pushdown filter + one
    // global agg — revenue on the exact 1e-4 grid. The entire predicate
    // reaches the parquet scan.
    "tpch_q6" -> ((s, d) =>
      lineitem(s, d)
        .filter(to_date(col("l_shipdate")) >= to_date(lit("1996-01-01")) &&
          to_date(col("l_shipdate")) < to_date(lit("1997-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            * expr("CAST(round(l_discount * 100) AS BIGINT)")).as("revenue_e4"),
          count(lit(1)).as("n"))),

    // TPC-H Q12 (shipmode priority classes): join + conditional counts;
    // shipmode derives deterministically from the orderkey (the table
    // has no l_shipmode column)
    "tpch_q12" -> ((s, d) =>
      lineitem(s, d)
        .filter(to_date(col("l_shipdate")) >= to_date(lit("1996-01-01")) &&
          to_date(col("l_shipdate")) < to_date(lit("1997-01-01")))
        .select(col("l_orderkey"), (col("l_orderkey") % 3).as("ship_mode"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("ship_mode")
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("ship_mode")),

    // TPC-H Q1 (pricing summary), EXACT-INTEGER form: discount/tax are
    // 2dp so price·(1−disc) lands on the 1e-4 dollar grid and
    // price·(1−disc)·(1+tax) on 1e-6 — every sum is a long (decimal at
    // 100 TB, same plan), averages emit as ppm by integer division.
    // ONE map-side-partial hash agg over the pushed-down scan.
    "tpch_q1" -> ((s, d) =>
      lineitem(s, d)
        .filter(to_date(col("l_shipdate")) <= to_date(lit("1998-09-02")))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("long").as("qty"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("base_c"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc_c"),
          expr("CAST(round(l_tax * 100) AS BIGINT)").as("tax_c"))
        .select(col("l_returnflag"), col("l_linestatus"), col("qty"),
          col("base_c"),
          (col("base_c") * (lit(100L) - col("disc_c"))).as("disc_e4"),
          (col("base_c") * (lit(100L) - col("disc_c"))
            * (lit(100L) + col("tax_c"))).as("charge_e6"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("qty").as("sum_qty"), sum("base_c").as("sum_base_cents"),
          sum("disc_e4").as("sum_disc_e4"), sum("charge_e6").as("sum_charge_e6"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          col("sum_base_cents"), col("sum_disc_e4"), col("sum_charge_e6"),
          col("n"), expr("sum_qty * 1000000 DIV n").as("avg_qty_ppm"),
          expr("sum_base_cents * 10000 DIV n").as("avg_base_c_e4"))
        .orderBy("l_returnflag", "l_linestatus")),

    // TPC-H Q3 shape (shipping-priority revenue): selective dim filter
    // broadcast into the fact join, exact-1e-4 revenue, top-10 as
    // TakeOrderedAndProject
    "tpch_q3" -> ((s, d) => {
      val cut = to_date(lit("1995-03-15"))
      val c = customer(s, d).filter(col("c_nationkey") < 5).select("c_custkey")
      val o = orders(s, d).filter(to_date(col("o_orderdate")) < cut)
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("odate"))
      lineitem(s, d).filter(to_date(col("l_shipdate")) > cut)
        .select(col("l_orderkey"),
          (expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            * (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
            .as("rev_e4"))
        .join(o, col("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderkey", "odate", "o_orderpriority")
        .agg(sum("rev_e4").as("revenue_e4"))
        .orderBy(desc("revenue_e4"), asc("o_orderkey")).limit(10)
    }),

    // EXACT heavy hitters without the full word-count shuffle: per-
    // partition Misra-Gries summaries (k=200 counters/task) generate a
    // provably-sound candidate superset, then one candidate-filtered
    // exact count pass; final filter cnt·(k+1) > N in pure longs. The
    // oracle is the plain HAVING over the full groupBy — hash-match
    // proves the two-pass path drops nothing.
    "heavy_hitters_mg" -> ((s, d) =>
      graft.ops.Sketches.misraGriesHeavy(
          documents(s, d).select(
            explode(graft.ops.TextOps.tokenize(col("text"))).as("word")),
          "word", k = 200)
        .orderBy("word")),

    // INCREMENTAL connected components: a delta edge batch is absorbed
    // by running CC over the LABEL graph only — old components collapse
    // to single label nodes, so the merge pass touches |delta| + #labels
    // rows, never the full graph (the union-find "union by link" step,
    // relationally). Oracle = full recompute over old ∪ delta: hash
    // match proves merge ≡ recompute. Graph: custkey blocks of 8 star
    // to their leader; the delta bridges every third leader pair.
    "graph_cc_incremental" -> ((s, d) => {
      val c = customer(s, d).select(col("c_custkey").as("k"))
      val oldE = c.select(col("k").as("a"), (col("k") - col("k") % 8).as("b"))
        .filter(col("a") =!= col("b"))
      val delta = c.filter(col("k") % 8 === 0)
        .filter(expr("(k DIV 8) % 3 = 0"))
        .select(col("k").as("a"), (col("k") + 8).as("b"))
        .join(c.withColumnRenamed("k", "b"), Seq("b"), "left_semi")
        .select("a", "b")
      val cc0 = ConnectedComponents.run(oldE, "a", "b")
      ConnectedComponents.incremental(cc0, delta, "a", "b").orderBy("node")
    }),

    // k-anonymity audit (the privacy gate's first number): group sizes
    // over the quasi-identifier projection, each group flagged against
    // k=10 — plus the summary a release decision reads (smallest group,
    // violating-row count) computable from the same relation
    "dq_k_anonymity" -> ((s, d) =>
      customer(s, d).select(col("c_nationkey"),
          (col("c_acctbal") < 0).as("in_debt"),
          (col("c_custkey") % 4).cast("long").as("segment"))
        .groupBy("c_nationkey", "in_debt", "segment")
        .agg(count(lit(1)).as("n"))
        .select(col("c_nationkey"), col("in_debt"), col("segment"), col("n"),
          (col("n") < 10).as("violates_k10"))
        .orderBy("c_nationkey", "in_debt", "segment")),

    // the graftkv DSv2 connector as a STREAMING source, oracle-checked:
    // per-trigger file admission replays the KV dump as micro-batches,
    // the aggregation state merges across them, and the final table
    // must equal the parquet-truth SQL
    "stream_kv_counts" -> ((s, d) => withStreamPartitions(s) {
      val cache = kvCache(s, d)
      val stream = s.readStream.format("graftkv")
        .option("filesPerTrigger", "1").load(cache)
        .select(expr("CAST(value AS BIGINT)").as("cents"))
        .groupBy(expr("cents % 7").as("g"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
      val q = stream.writeStream.outputMode("complete")
        .format("memory").queryName("graft_stream_kv").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_stream_kv").orderBy("g")
    }),

    // ORACLE-CHECKED STREAMING: the key runs a real Structured
    // Streaming query over a bounded file stream to completion
    // (processAllAvailable, memory sink) and returns the sink table —
    // so the DuckDB hash gate applies to a STREAMING result, not just
    // a stream≡batch spec. Sums are exact cents; the window start is
    // epoch-micros.
    "stream_hourly_counts" -> ((s, d) => withStreamPartitions(s) {
      val schema = events(s, d).schema
      val stream = s.readStream.schema(schema)
        .parquet(streamCache(s, d) + "/*.parquet")
        .withColumn("t", timestamp_micros(expr("ts div 1000")))
        .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
        .withWatermark("t", "2 hours")
        .groupBy(window(col("t"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .select(unix_micros(col("w.start")).as("hour_us"),
          col("event_type"), col("n"), col("cents"))
      val qname = "graft_stream_hourly"
      val q = stream.writeStream.outputMode("complete")
        .format("memory").queryName(qname).start()
      try q.processAllAvailable() finally q.stop()
      s.table(qname).orderBy("hour_us", "event_type")
    }),

    // streaming SLIDING windows (15 min / 5 min — every event in 3
    // overlapping windows), same run-to-completion oracle pattern; the
    // oracle unrolls the 3 window memberships arithmetically
    "stream_sliding_counts" -> ((s, d) => withStreamPartitions(s) {
      val src = streamCache(s, d)
      val stream = s.readStream.schema(events(s, d).schema)
        .parquet(src + "/*.parquet")
        .withColumn("t", timestamp_micros(expr("ts div 1000")))
      val q = graft.streaming.EventStream.slidingCounts(stream)
        .select(unix_micros(col("win_start")).as("win_us"), col("n"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_stream_sliding").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_stream_sliding").orderBy("win_us")
    }),

    // streaming SESSION windows per user (30-min gap) — the streaming
    // twin of events_session_window, now ORACLE-checked end to end
    "stream_session_counts" -> ((s, d) => withStreamPartitions(s) {
      val src = streamCache(s, d)
      val stream = s.readStream.schema(events(s, d).schema)
        .parquet(src + "/*.parquet")
        .withColumn("t", timestamp_micros(expr("ts div 1000")))
      val q = graft.streaming.EventStream.sessionCounts(stream)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"), col("n_events"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_stream_sessions").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_stream_sessions").orderBy("user_id", "start_us")
    }),

    // streaming CDC compaction run to completion — REUSES the batch
    // cdc_apply oracle verbatim (the struct-max monoid state merge must
    // land on the same surviving rows); complete-mode memory sink holds
    // the final compacted state
    "stream_cdc_apply" -> ((s, d) => withStreamPartitions(s) {
      val stream = s.readStream.schema(events(s, d).schema)
        .parquet(streamCache(s, d) + "/*.parquet")
        .select(col("user_id"), col("event_id"),
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
          round(col("value") * 100).cast("long").as("v_cents"))
      val q = graft.streaming.EventStream.cdcLatest(stream)
        .select(col("user_id"), col("n_ops"), col("last_seq"),
          col("v_cents").as("value_cents"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_stream_cdc").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_stream_cdc").orderBy("user_id")
    }),

    // streaming EXACT DEDUP under at-least-once delivery: the same file
    // feed unioned with itself (every event delivered twice — the
    // replayed-source worst case) must collapse back to one row per
    // event_id via dropDuplicatesWithinWatermark (bounded state: keys
    // evict once the watermark passes). Without the dedup every count
    // below would double — the oracle is the single-delivery truth.
    "stream_dedup" -> ((s, d) => withStreamPartitions(s) {
      val src = streamCache(s, d)
      def feed() = s.readStream.schema(events(s, d).schema)
        .parquet(src + "/*.parquet")
        .withColumn("t", timestamp_micros(expr("ts div 1000")))
      val deduped = graft.streaming.EventStream.dedupEvents(
        feed().unionByName(feed()))
      val q = deduped
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_stream_dedup").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_stream_dedup")
        .groupBy("event_type").agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"))
        .orderBy("event_type")
    }),

    // STREAM-STREAM interval join (purchases ⋈ same-user clicks within
    // the preceding hour): both sides buffer state, evicted by the
    // event-time range + watermark — the bounded-state join form. The
    // emitted pair SET is deterministic (append mode), checked against
    // the batch interval-join oracle row for row.
    "stream_join" -> ((s, d) => withStreamPartitions(s) {
      val src = streamCache(s, d)
      val feed = s.readStream.schema(events(s, d).schema)
        .parquet(src + "/*.parquet")
        .withColumn("t", timestamp_micros(expr("ts div 1000")))
      val q = graft.streaming.EventStream.purchaseClickJoin(feed)
        .select(col("purchase_id"), col("user_id"),
          unix_micros(col("purchase_t")).as("purchase_us"),
          col("click_id"), unix_micros(col("click_t")).as("click_us"))
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_stream_join").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_stream_join").orderBy("purchase_id", "click_id")
    }),

    // STREAM-STATIC enrichment: each micro-batch left-joins the
    // broadcast customer dim — stateless, no watermark, the stream side
    // never shuffles (the standard "decorate the feed" deployment
    // shape). Aggregated per enriched segment so the memory sink holds
    // a bounded result.
    "stream_enrich" -> ((s, d) => withStreamPartitions(s) {
      val dim = customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val feed = s.readStream.schema(events(s, d).schema)
        .parquet(streamCache(s, d) + "/*.parquet")
        .select(col("user_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val q = graft.streaming.EventStream.enrich(feed, dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_stream_enrich").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_stream_enrich").orderBy("c_mktsegment", "event_type")
    }),

    // EXACTLY-ONCE STREAMING SINK into the TxLog table: each
    // micro-batch (4 files, one per trigger) commits through
    // TxLog.appendStream, whose op records the batch id — then batch 0
    // is REPLAYED (the at-least-once delivery failure mode) and must be
    // SKIPPED as already-committed (the require asserts both the skip
    // and that exactly 4 batch commits exist). The final table equals
    // the single-delivery truth; without the idempotent commit the
    // replay would double batch 0's rows and the oracle would catch it.
    "stream_txlog_sink" -> ((s, d) => withStreamPartitions(s) {
      val src = streamCache4(s, d)
      val sink = s"/tmp/graft_txsink_${new java.io.File(d).getName}"
      val root = new java.io.File(sink)
      graft.sources.TxLog.deleteRecursively(root.toPath)
      val schema = s.read.parquet(src).schema
      val feed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src + "/*.parquet")
        .select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val q = feed.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.sources.TxLog.appendStream(batch, sink, batchId); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      // replay batch 0: idempotent commit must skip, head must not move
      val head = graft.sources.TxLog.headVersion(sink)
      val replay = graft.sources.TxLog.appendStream(
        graft.sources.TxLog.readCommit(s, sink, 0), sink, batchId = 0L)
      require(replay.isEmpty && head == 3 &&
          graft.sources.TxLog.headVersion(sink) == head,
        s"exactly-once violated: replay=$replay head=$head")
      graft.sources.TxLog.read(s, sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
        .orderBy("event_type")
    }),

    // STREAMING CDC SOURCE over the TxLog table — the read half of the
    // exactly-once pair (stream_txlog_sink is the write half):
    // format("txlog") tails the commit log from version 0, offsets ARE
    // commit versions (checkpointed by the engine for restart-resume —
    // TxLogStreamSourceSpec pins no-redeliver/no-skip across a
    // restart), and each micro-batch reads ONLY the new commits' add
    // segments — tailing a 100 TB table costs O(new data), never a
    // table rescan. Append commits are the 4 date slices; rewrite
    // commits (merge/optimize) re-materialize already-streamed rows,
    // so the source FAILS LOUD on them by default — skipRewrites=true
    // is the aware-consumer opt-in that advances past them rowlessly
    // (the op filter below keeps the aggregate exact either way).
    "stream_txlog_source" -> ((s, d) => withStreamPartitions(s) {
      val dir = txStatsCache(s, d)
      val q = s.readStream.format("txlog").option("path", dir)
        .option("skipRewrites", "true").load()
        .filter(col("_commit_op") === "append")
        .groupBy(col("_commit_version").as("version"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_stream_txlog_source").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_stream_txlog_source").orderBy("version")
    }),

    // EXACTLY-ONCE STREAMING UPSERT into the TxLog table — streaming
    // CDC APPLY: each micro-batch merges on event_id through
    // mergeStreamMoR (tombstones + one batch-sized segment, never a
    // target rewrite), a replayed batch id is SKIPPED (asserted for
    // both a stream batch and the later matched-upsert batch), and a
    // final keyed batch UPDATES every event_id%10=0 row via deletion
    // vectors. The lakehouse sink shape for a CDC stream at 100 TB:
    // per-batch write cost ∝ batch, exactly-once by commit-recorded
    // batch ids that fold into checkpoints.
    "stream_txlog_upsert" -> ((s, d) => withStreamPartitions(s) {
      val src = streamCache4(s, d)
      val sink = s"/tmp/graft_txupsert_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(sink).toPath)
      val schema = s.read.parquet(src).schema
      val feed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src + "/*.parquet")
        .select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val q = feed.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.sources.TxLog.mergeStreamMoR(s, sink, batch, "event_id", batchId); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      val head = graft.sources.TxLog.headVersion(sink)
      require(head == 3 && graft.sources.TxLog.mergeStreamMoR(s, sink,
          graft.sources.TxLog.readCommit(s, sink, 0), "event_id", 0L).isEmpty &&
          graft.sources.TxLog.headVersion(sink) == head,
        "replayed stream batch must be skipped")
      val upd = events(s, d).filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("event_type"),
          (expr("CAST(round(value * 100) AS BIGINT)") + 1000L).as("cents"))
      require(graft.sources.TxLog.mergeStreamMoR(s, sink, upd, "event_id", 99L).nonEmpty,
        "first delivery of batch 99 must commit")
      require(graft.sources.TxLog.mergeStreamMoR(s, sink, upd, "event_id", 99L).isEmpty,
        "replay of batch 99 must be skipped (no double bump)")
      graft.sources.TxLog.read(s, sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
        .orderBy("event_type")
    }),

    // NATIVE txlog → txlog STREAMING PIPELINE — the CDC relay, source
    // and sink both format("txlog"): the stream tails one table's
    // commit log (capped at 2 commits/trigger so the 6-commit history
    // arrives as 3 bounded batches), keeps append-op rows, and the
    // SINK half — writeStream.format("txlog"), no foreachBatch —
    // commits each micro-batch idempotently (batch id in the op). The
    // requires pin 3 stream commits in the target and that a replayed
    // batch is skipped. The lakehouse table-to-table sync deployment
    // shape: cost per trigger ∝ new commits on the source, exactly-once
    // end to end.
    "stream_txlog_pipeline" -> ((s, d) => withStreamPartitions(s) {
      val src = txStatsCache(s, d)
      val dst = s"/tmp/graft_txpipe_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dst).toPath)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_txpipe_ck")
      val q = s.readStream.format("txlog")
        .option("path", src).option("maxCommitsPerTrigger", "2")
        // the source table's history ends in merge+optimize rewrites:
        // skipRewrites advances past them rowlessly (default fails loud)
        .option("skipRewrites", "true").load()
        .filter(col("_commit_op") === "append")
        .drop("_commit_version", "_commit_op")
        .writeStream.format("txlog")
        .option("path", dst).option("statsCols", "o_orderdate")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      val qid = q.id.toString
      try q.processAllAvailable() finally q.stop()
      require(graft.sources.TxLog.headVersion(dst) == 2,
        "6 source commits / cap 2 must land as 3 sink commits")
      // same query id = same dedup namespace (txnAppId): the replay
      // skips; a DIFFERENT app id would be a second writer and commit
      require(graft.sources.TxLog.appendStream(
          graft.sources.TxLog.readCommit(s, dst, 0), dst, batchId = 0L,
          txnAppId = Some(qid)).isEmpty,
        "a replayed sink batch must be skipped")
      graft.sources.TxLog.read(s, dst)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // STREAMING WINDOWED ROLLUP TABLE — a STATEFUL hourly aggregate
    // maintained in a TxLog table through the Update-mode merge sink:
    // each micro-batch re-emits only the windows it touched (with their
    // cumulative totals), and the sink upserts them on the window key
    // as a merge-on-read batch — so the rollup table's write cost per
    // trigger is ∝ touched windows, never the table, and a dashboard
    // reads committed totals with snapshot isolation. This drives the
    // state-store path through the sink (the incremental physical plan
    // carries the aggregation state; the sink's tasks stage its rows
    // once).
    // The oracle is the batch recompute over all events: the final
    // upsert per window must equal the full aggregate.
    "stream_txlog_window" -> ((s, d) => withStreamPartitions(s) {
      val src = streamCache4(s, d)
      val dst = s"/tmp/graft_txwin_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dst).toPath)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_txwin_ck")
      val feed = s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src + "/*.parquet")
        .withColumn("t", timestamp_micros(expr("ts div 1000")))
        .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      // no watermark: Update mode re-emits a window whenever ANY batch
      // touches it, so the out-of-order 4-file replay stays exact (a
      // production deployment adds one to bound state, trading exactly
      // this late-data completeness)
      val agg = feed
        .groupBy(window(col("t"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .select(
          concat_ws("|", unix_micros(col("w.start")), col("event_type")).as("k"),
          unix_micros(col("w.start")).as("hour_us"), col("event_type"),
          col("n"), col("cents"))
      val q = agg.writeStream.format("txlog")
        .option("path", dst).option("mergeKey", "k")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      require(graft.sources.TxLog.headVersion(dst) == 3,
        "4 micro-batches must land as 4 upsert commits")
      graft.sources.TxLog.read(s, dst)
        .select("hour_us", "event_type", "n", "cents")
        .orderBy("hour_us", "event_type")
    }),

    // STREAMING ROW-LEVEL CHANGE FEED, oracle-checked end to end: the
    // source in changeFeed mode tails the MoR table and delivers
    // deletion-vector pre-images as delete/update_preimage ROWS (not
    // just op tags) — the aggregate per (version, change_type) must
    // equal the relational replay of the DML tape, proving the
    // streamed pre-image resolution exact. Admission-capped at 2
    // commits/trigger so the history arrives as multiple bounded
    // batches, each O(that batch's changes).
    "stream_txlog_cdf" -> ((s, d) => withStreamPartitions(s) {
      val dir = txMorCache(s, d)
      val q = s.readStream.format("txlog")
        .option("path", dir).option("changeFeed", "true")
        .option("maxCommitsPerTrigger", "2").load()
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_stream_txlog_cdf").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_stream_txlog_cdf").orderBy("version", "change_type")
    }),

    // COMPLETE-MODE STREAMING SINK — the refresh-table shape: a
    // streaming aggregation REPLACES the TxLog table every trigger
    // (overwriteStream: one segment + a remove-all conditional commit,
    // batch id deduped), so a dashboard always reads one consistent
    // full aggregate and earlier triggers' partials stay
    // time-travelable. The requires pin one overwrite commit per
    // trigger and that v0 holds a strict subset of the final counts.
    "stream_txlog_complete" -> ((s, d) => withStreamPartitions(s) {
      val src = streamCache4(s, d)
      val dst = s"/tmp/graft_txcomplete_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dst).toPath)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_txcomp_ck")
      val q = s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src + "/*.parquet")
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .writeStream.format("txlog")
        .option("path", dst)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      require(graft.sources.TxLog.headVersion(dst) == 3,
        "4 triggers must land as 4 overwrite commits")
      val v0 = graft.sources.TxLog.read(s, dst, asOf = 0)
        .agg(sum(col("n"))).head().getLong(0)
      val head = graft.sources.TxLog.read(s, dst)
        .agg(sum(col("n"))).head().getLong(0)
      require(v0 < head, "v0 must be the first trigger's partial refresh")
      graft.sources.TxLog.read(s, dst).orderBy("event_type")
    }),

    // STREAMING INCREMENTAL VIEW MAINTENANCE — the whole round trip:
    // the source tails the MoR table's ROW-LEVEL change feed
    // (changeFeed=true: deletion-vector pre-images arrive as
    // delete/update_preimage rows, one commit per trigger), and each
    // micro-batch folds its signed deltas into the standing aggregate
    // (Relational.mvRefresh) and commits the refreshed MV exactly-once
    // (overwriteStream, batch id in the op). Five source commits →
    // five MV versions, each a consistent view of its source version —
    // and every refresh costs |commit's changes| + |MV|, never a base
    // rescan. The oracle recomputes the head state from scratch; the
    // hash match proves the STREAMED maintenance ≡ full recompute
    // through appends, an MoR delete, an MoR update, and an MoR merge.
    "stream_mv_refresh" -> ((s, d) => withStreamPartitions(s) {
      val src = txMorCache(s, d)
      val mvDir = s"/tmp/graft_txmvs_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(mvDir).toPath)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_txmv_ck")
      val q = s.readStream.format("txlog")
        .option("path", src).option("changeFeed", "true")
        .option("maxCommitsPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckpt.toString)
        .foreachBatch { (changes: DataFrame, id: Long) =>
          val cur =
            if (graft.sources.TxLog.headVersion(mvDir) >= 0)
              graft.sources.TxLog.read(s, mvDir)
            else s.range(0).select(
              lit(null).cast("string").as("o_orderstatus"),
              lit(null).cast("long").as("n"),
              lit(null).cast("long").as("cents"))
          val next = Relational.mvRefresh(cur, changes,
            Seq("o_orderstatus"), Seq("cents"))
          graft.sources.TxLog.overwriteStream(next, mvDir, id)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      require(graft.sources.TxLog.headVersion(mvDir) == 4,
        "5 source commits at 1/trigger must produce 5 MV versions")
      graft.sources.TxLog.read(s, mvDir).orderBy("o_orderstatus")
    }),

    // ARBITRARY-PREDICATE PRUNED READ — readWhere, the general form of
    // readPoint/readRange: prunable conjuncts intersect per-segment
    // stats AND bloom sidecars before any file opens, the full
    // predicate applies as the exact residual. The require pins the
    // scale property on the HEAD layout (okey-clustered by OPTIMIZE):
    // a point conjunct on the cluster key opens at most a couple of
    // the 8 segments. The read itself runs AS OF v3 (the clean date
    // slices), where the oracle is a plain relational filter.
    "table_log_read_where" -> ((s, d) => {
      val dir = txStatsCache(s, d)
      val cands = graft.sources.TxLog.triageCandidatesOf(s, dir,
        "o_orderkey = -1 AND cents >= 0")
      require(cands.size <= 2 &&
          cands.size < graft.sources.TxLog.liveSegments(dir).size,
        s"point conjunct must prune the clustered head layout: $cands")
      graft.sources.TxLog.readWhere(s, dir,
          "o_orderdate BETWEEN '1996-01-01' AND '1997-06-30' " +
            "AND o_orderkey % 2 = 0", asOf = 3)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // ROW-LEVEL CHANGE DATA FEED for COPY-ON-WRITE DML — the CDC-file
    // mechanics: with enableChangeDataFeed, delete/update/replaceWhere
    // record their exact changes as cdc sidecars in the same commit
    // (cost ∝ changed rows, never the rewrite), and readChangeFeed
    // emits those instead of op-tagged rewrite output — so a CDF
    // consumer sees identical row-level semantics from the CoW and MoR
    // DML families. The oracle replays every change class relationally.
    "table_log_cdf_cow" -> ((s, d) => {
      val dir = s"/tmp/graft_txcdc_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 0), dir)
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 1), dir)
      val v = graft.sources.TxLog.enableChangeDataFeed(dir) // v2
      require(graft.sources.TxLog.commitOp(dir, v) == "set_cdf" &&
          graft.sources.TxLog.cdfEnabledOf(dir),
        "CDF must be a metadata commit that folds into state")
      graft.sources.TxLog.delete(s, dir, "o_orderkey % 100 = 7")      // v3
      graft.sources.TxLog.update(s, dir, "o_orderkey % 100 = 8",
        Map("cents" -> "cents + 111"))                                // v4
      graft.sources.TxLog.replaceWhere(s, dir, "o_orderkey % 100 = 9",
        o.filter(col("o_orderkey") % 100 === 9)
          .withColumn("cents", col("cents") + 5L))                    // v5
      graft.sources.TxLog.readChangeFeed(s, dir, fromVersion = 2)
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("version", "change_type")
    }),

    // STATS-PRUNED ARBITRARY-PREDICATE DML — the maintenance tape of a
    // date-sliced 100 TB table, each op touching ONLY its slice: 4
    // stats-recorded date slices, then a CoW DELETE of 1995, a
    // replaceWhere BACKFILL of 1996 (cents corrected +7), and a keyed
    // UPDATE of 1999+ (cents +11). Every predicate is analyzed into
    // prunable conjuncts and intersected with per-segment [min,max]
    // BEFORE the triage scan — the require pins that the backfill's
    // triage would open exactly ONE of the four slices (the 100x-scale
    // property: DML cost ∝ slice, not table). The oracle replays the
    // whole tape relationally.
    "table_log_prune_dml" -> ((s, d) => {
      val dir = s"/tmp/graft_txprune_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      Seq(("1995-01-01", "1995-12-31"), ("1996-01-01", "1996-12-31"),
          ("1997-01-01", "1998-12-31"), ("1999-01-01", "2001-12-31"))
        .foreach { case (lo, hi) =>
          graft.sources.TxLog.appendWithStats(s,
            o.filter(col("day").between(lo, hi)), dir, Seq("day")) }
      val backfillPred = "day BETWEEN '1996-01-01' AND '1996-12-31'"
      require(graft.sources.TxLog.triageCandidatesOf(s, dir, backfillPred)
          .size == 1,
        "a one-slice predicate must triage exactly one of the 4 segments")
      graft.sources.TxLog.delete(s, dir,
        "day BETWEEN '1995-01-01' AND '1995-12-31'")
      graft.sources.TxLog.replaceWhere(s, dir, backfillPred,
        o.filter(col("day").between("1996-01-01", "1996-12-31"))
          .withColumn("cents", col("cents") + 7L), statsCols = Seq("day"))
      graft.sources.TxLog.update(s, dir, "day >= '1999-01-01'",
        Map("cents" -> "cents + 11"), statsCols = Seq("day"))
      graft.sources.TxLog.read(s, dir, mergeSchema = true)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // DSv2 TXLOG BATCH READ — plan-integrated pruning: a plain
    // `spark.read.format("txlog")` with DataFrame filters (no
    // readWhere string routing) pushes the predicate into the scan
    // builder, which stats-prunes segments through the shared triage
    // and delegates execution to Spark's own vectorized parquet scan
    // over the survivors (filters re-pushed for row-group skipping,
    // projection pruned). Four date-sliced stats-recorded segments; the
    // require pins that the one-slice filter planned a scan over
    // exactly ONE segment directory (the 100x property: query cost ∝
    // slice). The oracle filters relationally.
    "scan_txlog_dsv2" -> ((s, d) => {
      val dir = s"/tmp/graft_txdsv2_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      Seq(("1995-01-01", "1995-12-31"), ("1996-01-01", "1996-12-31"),
          ("1997-01-01", "1998-12-31"), ("1999-01-01", "2001-12-31"))
        .foreach { case (lo, hi) =>
          graft.sources.TxLog.appendWithStats(s,
            o.filter(col("day").between(lo, hi)), dir, Seq("day")) }
      require(graft.sources.TxLog.liveSegments(dir).size == 4,
        "every slice must be non-empty and committed")
      val filtered = s.read.format("txlog").load(dir)
        .filter(col("day").between("1996-01-01", "1996-12-31"))
      // one segment dir among the scan's ACTUAL planned files (the
      // executed-plan string truncates; Dataset.inputFiles is empty
      // for a non-FileTable DSv2 relation) = segment pruning reached
      // the plan, not just the readWhere API
      val scanned = graft.sources.txlog.TxLogBatch.plannedSegments(filtered)
      require(scanned.length == 1,
        s"one-slice DSv2 filter must plan exactly one segment, got " +
          scanned.mkString(","))
      // and the SQL surface survives table MAINTENANCE — exactly the
      // tables that saw a MoR delete (deletion vectors) or a rename:
      // the DV applies as a reader-level tombstone skip, the mapping
      // as a schema relabel, pruning pins intact on the renamed label
      graft.sources.TxLog.deleteMoR(s, dir, "o_orderkey % 97 = 3")
      graft.sources.TxLog.renameColumn(s, dir, "day", "event_day")
      val maintained = s.read.format("txlog").load(dir)
        .filter(col("event_day").between("1996-01-01", "1996-12-31"))
      val scanned2 = graft.sources.txlog.TxLogBatch.plannedSegments(maintained)
      require(scanned2.length == 1,
        s"post-DV+rename DSv2 filter must still plan one segment, got " +
          scanned2.mkString(","))
      maintained.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // DSV2 TXLOG WRITE HALF — the SQL ingest surface: CTAS creates
    // and seeds the table, INSERT INTO appends through the same
    // commit path (stats/governance/slot-retry) the Scala API uses,
    // and a DataFrameWriter append with statsCols records skipping
    // metadata — three write surfaces, one log. The read back is the
    // plan-integrated DSv2 scan; the oracle replays the three writes
    // as a relational union.
    "table_log_write_sql" -> ((s, d) => {
      val tag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
      val dir = s"/tmp/graft_txwsql_$tag"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val tbl = s"graft_txw_$tag"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl USING txlog OPTIONS (path '$dir') AS
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM {ord} WHERE o_orderkey % 2 = 0""".replace("{ord}",
          s"parquet.`$d/orders.parquet`"))
      s.sql(s"""INSERT INTO $tbl
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) + 3 AS cents
        FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 2 = 1""")
      orders(s, d).filter(col("o_orderkey") % 1000 === 7)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (expr("CAST(round(o_totalprice * 100) AS BIGINT)") + 9L).as("cents"))
        .write.format("txlog").option("statsCols", "o_orderkey")
        .mode("append").save(dir)
      require(graft.sources.TxLog.headVersion(dir) == 2,
        "CTAS, INSERT and append must land as exactly three commits")
      s.read.format("txlog").load(dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // SQL ROW-LEVEL DML — the statements a SQL user types after
    // INSERT INTO lands: a filter-translatable DELETE (Spark's native
    // SupportsDelete planning), an arbitrary-predicate DELETE + an
    // UPDATE + a full-row-upsert MERGE (the GraftExtensions analyzer
    // rule bridging into TxLog.delete/update/merge — the same
    // stats-pruned CoW + OCC commit path as the Scala API; requires
    // the session built .withExtensions(new GraftExtensions()), as
    // Verify/Bench sessions are). Four statements, four commits; the
    // oracle replays them relationally.
    "table_log_sql_dml" -> ((s, d) => {
      val tag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
      val dir = s"/tmp/graft_txdml_$tag"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val tbl = s"graft_txdml_$tag"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl USING txlog OPTIONS (path '$dir') AS
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM parquet.`$d/orders.parquet`""")
      s.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'P'")
      s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 97 = 3")
      s.sql(s"UPDATE $tbl SET cents = cents + 7 WHERE o_orderkey % 10 = 0")
      s.sql(s"""MERGE INTO $tbl t USING (
          SELECT o_orderkey, 'X' AS o_orderstatus,
                 CAST(round(o_totalprice * 100) AS BIGINT) + 11 AS cents
          FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 1000 = 7) s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      require(graft.sources.TxLog.headVersion(dir) == 4,
        "CTAS + 2 DELETEs + UPDATE + MERGE must land as five commits, " +
          s"head=${graft.sources.TxLog.headVersion(dir)}")
      s.read.format("txlog").load(dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // SQL TIME TRAVEL — `VERSION AS OF` / `TIMESTAMP AS OF` on a
    // catalog txlog table, resolved by the session-catalog extension
    // (GraftCatalog.loadTable(ident, version|timestamp) — stock Spark
    // throws UNSUPPORTED_FEATURE.TIME_TRAVEL for every provider
    // table). Three snapshots are built with SQL (CTAS of the even
    // keys, INSERT of the odd keys, a status DELETE), then ONE query
    // aggregates all three via time travel — v0 and v1 by version,
    // the head by a far-future timestamp — so the result is the
    // table's history replayed relationally by the oracle. Each
    // pinned read runs the same stats-triaged DSv2 scan a plain read
    // runs (asOf is a first-class TxLogScanBuilder argument).
    "table_log_time_travel_sql" -> ((s, d) => {
      val tag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
      val dir = s"/tmp/graft_txtt_$tag"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val tbl = s"graft_txtt_$tag"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl USING txlog OPTIONS (path '$dir') AS
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 2 = 0""")
      s.sql(s"""INSERT INTO $tbl
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 2 = 1""")
      s.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'F'")
      require(graft.sources.TxLog.headVersion(dir) == 2,
        "CTAS + INSERT + DELETE must land as three commits, " +
          s"head=${graft.sources.TxLog.headVersion(dir)}")
      s.sql(s"""
        SELECT 'v0' AS snap, o_orderstatus, count(1) AS n,
               sum(cents) AS cents
        FROM $tbl VERSION AS OF 0 GROUP BY o_orderstatus
        UNION ALL
        SELECT 'v1' AS snap, o_orderstatus, count(1) AS n,
               sum(cents) AS cents
        FROM $tbl VERSION AS OF 1 GROUP BY o_orderstatus
        UNION ALL
        SELECT 'head' AS snap, o_orderstatus, count(1) AS n,
               sum(cents) AS cents
        FROM $tbl TIMESTAMP AS OF '2100-01-01' GROUP BY o_orderstatus
        ORDER BY snap, o_orderstatus""")
    }),

    // SQL MAINTENANCE PROCEDURES — the CALL surface (Spark 4
    // ProcedureCatalog on the same session-catalog extension): the
    // table runs restore (back to the pre-DELETE snapshot), a
    // range-clustered optimize, a full compact and a vacuum — all
    // from SQL — and must come out CONTENT-IDENTICAL to the restored
    // snapshot (maintenance is physical, restore is logical rollback;
    // the oracle replays only the logical tape). The requires pin the
    // procedure RESULTS (versions, rewrite counts, reclaimed files),
    // so a silently no-op procedure fails the key, not just the spec.
    "table_log_procedures_sql" -> ((s, d) => {
      val tag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
      val dir = s"/tmp/graft_txproc_$tag"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val tbl = s"graft_txproc_$tag"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl USING txlog OPTIONS (path '$dir') AS
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 2 = 0""")
      s.sql(s"""INSERT INTO $tbl
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 2 = 1""")
      s.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'O'")       // v2
      val hist = s.sql(s"CALL system.history('$tbl')").collect()
      require(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((0L, "append"), (1L, "append"), (2L, "delete")),
        s"history must carry the three-commit tape, got ${hist.mkString}")
      val r = s.sql(s"CALL system.restore('$tbl', 1)").collect() // v3
      require(r.head.getLong(1) == 3L, "restore must land as commit 3")
      val o = s.sql(s"CALL system.optimize(table => '$tbl', " +
        "sort_cols => 'o_orderkey', num_segments => 4, " +
        "stats_cols => 'o_orderkey')").collect()                 // v4
      require(o.head.getBoolean(1) && o.head.getLong(0) == 4L,
        "optimize must rewrite as commit 4")
      val c = s.sql(s"CALL system.compact('$tbl')").collect()    // v5
      require(c.head.getBoolean(1) && c.head.getLong(0) == 5L,
        "compact must consolidate as commit 5")
      require(graft.sources.TxLog.liveSegments(dir).size == 1,
        "compact must leave one live segment")
      val v = s.sql(s"CALL system.vacuum(table => '$tbl', " +
        "keep_versions => 1)").collect()
      require(v.head.getLong(0) > 0,
        "vacuum must reclaim the pre-maintenance segments")
      s.table(tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // The BARE maintenance STATEMENTS (r15): OPTIMIZE / VACUUM /
    // DESCRIBE HISTORY as Delta-spelled SQL — parser sugar that
    // rewrites each to the CALL system.<proc> text (GraftSqlParser),
    // so this key proves the statement spellings drive the SAME
    // engine tape the procedures key drives. Content-neutral
    // maintenance: the final relation is the same orders aggregation.
    "table_log_maintenance_sql" -> ((s, d) => {
      val tag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
      val dir = s"/tmp/graft_txmaint_$tag"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val tbl = s"graft_txmaint_$tag"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl USING txlog OPTIONS (path '$dir') AS
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 2 = 0""")
      s.sql(s"""INSERT INTO $tbl
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 2 = 1""")
      val hist = s.sql(s"DESCRIBE HISTORY $tbl").collect()
      require(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((0L, "append"), (1L, "append")),
        s"DESCRIBE HISTORY must show the two appends, got ${hist.mkString}")
      s.sql(s"OPTIMIZE $tbl ZORDER BY (o_orderkey)")             // v2
      require(graft.sources.TxLog.commitOp(dir, 2) == "optimize",
        "OPTIMIZE ... ZORDER BY must land as an optimize commit")
      // the where-framed spelling re-clusters only the stats frame
      s.sql(s"OPTIMIZE $tbl WHERE o_orderkey BETWEEN 1 AND 500 " +
        "ZORDER BY (o_orderkey)")                                // v3
      s.sql(s"OPTIMIZE $tbl")                                    // v4: compact
      require(graft.sources.TxLog.commitOp(dir, 4) == "compact",
        "plain OPTIMIZE must consolidate (compact)")
      require(graft.sources.TxLog.liveSegments(dir).size == 1,
        "plain OPTIMIZE must leave one live segment")
      val dry = s.sql(s"VACUUM $tbl KEEP 1 VERSIONS DRY RUN").collect()
      require(dry.head.getLong(0) > 0, "DRY RUN must report reclaimables")
      val real = s.sql(s"VACUUM $tbl KEEP 1 VERSIONS").collect()
      require(real.head.getLong(0) == dry.head.getLong(0),
        "real VACUUM must reclaim exactly what DRY RUN reported")
      s.table(tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // PARTITIONED txlog tables (r15): CREATE ... PARTITIONED BY lands
    // a partcols governance commit; every write splits into one
    // value-labeled segment per partition tuple with exact min=max +
    // zero-null stats, so the EXISTING triage prunes partition reads
    // to the matching dirs (plan-guarded via plannedSegments) and a
    // partition-predicate DELETE / REPLACE WHERE drops whole segments
    // from METADATA (guarded: the delete adds no segments). The
    // partition column stays ordinary data in the files — split and
    // unsplit segments co-scan. The oracle replays the tape
    // relationally: all orders, minus the dropped partition, with the
    // replaced partition's rows substituted.
    "table_log_partitioned" -> ((s, d) => {
      val tag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
      val dir = s"/tmp/graft_txpart_$tag"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val tbl = s"graft_txpart_$tag"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl USING txlog OPTIONS (path '$dir')
        PARTITIONED BY (o_orderstatus) AS
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM parquet.`$d/orders.parquet`""")
      require(graft.sources.TxLog.partitionColumnsOf(dir) ==
        Seq("o_orderstatus"), "CTAS must record the partition spec")
      val segs0 = graft.sources.TxLog.liveSegments(dir)
      require(segs0.forall(_.contains("o_orderstatus=")) && segs0.size == 3,
        s"one value-labeled segment per status, got $segs0")
      // PLAN GUARD: a partition-filtered scan lists ONLY the matching
      // partition's dirs
      val planned = graft.sources.txlog.TxLogBatch.plannedSegments(
        s.read.format("txlog").load(dir)
          .filter(col("o_orderstatus") === "F"))
      require(planned.nonEmpty && planned.forall(_.contains("o_orderstatus=F")),
        s"partition filter must scan only o_orderstatus=F dirs, got $planned")
      // partition DELETE: metadata-only — the commit adds NOTHING and
      // removes exactly the partition's segments
      s.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'P'")
      val after = graft.sources.TxLog.liveSegments(dir)
      require(after.toSet.subsetOf(segs0.toSet) &&
        (segs0.toSet -- after.toSet).forall(_.contains("o_orderstatus=P")),
        "a partition drop must remove whole segments and rewrite none")
      // partition REPLACE WHERE: the old partition drops wholesale,
      // the incoming frame lands split
      s.sql(s"""INSERT INTO $tbl REPLACE WHERE o_orderstatus = 'F'
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) + 1 AS cents
        FROM parquet.`$d/orders.parquet` WHERE o_orderstatus = 'F'""")
      require(graft.sources.TxLog.liveSegments(dir)
        .forall(_.contains("o_orderstatus=")),
        "the replaceWhere rewrite must stay value-labeled")
      s.table(tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // MoR SQL DML — the same four-statement tape as table_log_sql_dml
    // but on a table declaring TBLPROPERTIES('dmlMode'='mor'): every
    // statement lands as a deletion-vector / tombstone commit
    // (delete_mor / update_mor / merge_mor — pinned by the requires)
    // instead of a CoW rewrite, and the DV-applying read returns the
    // SAME relational answer. Cost ∝ changed rows; the rewrite debt is
    // OPTIMIZE's (see table_log_procedures_sql's dv_coalesce sibling).
    "table_log_mor_dml_sql" -> ((s, d) => {
      val tag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
      val dir = s"/tmp/graft_txmor_$tag"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val tbl = s"graft_txmor_$tag"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl USING txlog OPTIONS (path '$dir')
        TBLPROPERTIES ('dmlMode'='mor') AS
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM parquet.`$d/orders.parquet`""")
      s.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'P'")
      s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 97 = 3")
      s.sql(s"UPDATE $tbl SET cents = cents + 7 WHERE o_orderkey % 10 = 0")
      s.sql(s"""MERGE INTO $tbl t USING (
          SELECT o_orderkey, 'X' AS o_orderstatus,
                 CAST(round(o_totalprice * 100) AS BIGINT) + 11 AS cents
          FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 1000 = 7) s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      require((1 to 4).map(graft.sources.TxLog.commitOp(dir, _)) ==
        Seq("delete_mor", "delete_mor", "update_mor", "merge_mor"),
        "dmlMode=mor must route every statement to the MoR commit path")
      s.read.format("txlog").load(dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // GENERAL MERGE SHAPES — the statements the full-row upsert
    // refuses, in ONE MERGE: a conditional matched UPDATE (partial
    // SET, values from both sides), a matched DELETE, a conditional
    // NOT MATCHED INSERT (literal + source mix), and two NOT MATCHED
    // BY SOURCE clauses (DELETE + UPDATE of target rows the source
    // lacks). Routes through TxLog.mergeGeneral's action-tagged
    // rewrite (the fast upsert path keeps its own key,
    // table_log_sql_dml). The oracle replays every clause
    // relationally: joins for matched, anti-joins for the two
    // not-matched directions, first-match-wins by construction.
    "table_log_merge_shapes_sql" -> ((s, d) => {
      val tag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
      val dir = s"/tmp/graft_txmg_$tag"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val tbl = s"graft_txmg_$tag"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl USING txlog OPTIONS (path '$dir') AS
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 2 = 0""")
      s.sql(s"""MERGE INTO $tbl t USING (
          SELECT o_orderkey, o_orderstatus,
                 CAST(round(o_totalprice * 100) AS BIGINT) + 5 AS cents
          FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 3 = 0) s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND t.o_orderkey % 12 = 0 THEN
          UPDATE SET cents = s.cents + 100
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED AND s.o_orderstatus = 'O' THEN
          INSERT (o_orderkey, o_orderstatus, cents)
          VALUES (s.o_orderkey, 'N', s.cents)
        WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 10 = 2 THEN DELETE
        WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 10 = 4 THEN
          UPDATE SET cents = t.cents - 1""")
      require(graft.sources.TxLog.headVersion(dir) == 1 &&
        graft.sources.TxLog.commitOp(dir, 1) == "merge",
        "CTAS + general MERGE must land as two commits")
      s.table(tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // OCC LOGICAL CONFLICT RE-CHECK — maintenance liveness under
    // continuous ingest: a blind append lands IN the window between a
    // CoW DELETE's snapshot read and its commit (injected via the
    // one-shot test hook — the deterministic form of the race), and
    // the delete RE-CLAIMS the next slot with its already-staged
    // rewrite instead of aborting: the Delta write-serializable rule
    // that keeps a nightly DML committable against a table whose
    // appends never pause. Serial order is ⟨delete, append⟩ — appended
    // rows survive even where they match the predicate — and the
    // requires pin that the conflict actually happened (the delete's
    // version lands AFTER the injected append's). The oracle replays
    // the serial order relationally.
    "table_log_occ_retry" -> ((s, d) => {
      val dir = s"/tmp/graft_txocc_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val base = o.filter(col("o_orderkey") % 3 === 0)
      graft.sources.TxLog.appendWithStats(s,
        base.filter(col("o_orderkey") % 2 === 0), dir, Seq("o_orderkey"))
      graft.sources.TxLog.appendWithStats(s,
        base.filter(col("o_orderkey") % 2 === 1), dir, Seq("o_orderkey"))
      val late = o.filter(col("o_orderkey") % 1000 === 1)
        .withColumn("cents", col("cents") + 5L)
      graft.sources.TxLog.testBeforeConditionalCommit.set(() =>
        graft.sources.TxLog.append(late, dir): Unit)
      // finally-cleared: a mid-delete failure must not leave the
      // one-shot hook armed to fire inside whatever key runs next
      val v =
        try graft.sources.TxLog.delete(s, dir, "o_orderstatus = 'F'")
        finally graft.sources.TxLog.testBeforeConditionalCommit.set(null)
      require(v == 3 && graft.sources.TxLog.headVersion(dir) == 3,
        s"delete must re-claim the slot after the injected append, got $v")
      graft.sources.TxLog.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // STREAMING THROUGH TABLE MAINTENANCE — the safe-by-default
    // contract: the tailed table runs OPTIMIZE and a CoW DELETE
    // mid-history (both rewrites: their add sets re-materialize
    // already-streamed rows). A default stream advances past the
    // OPTIMIZE rowlessly (provably row-neutral rearrangement — a
    // nightly OPTIMIZE must not kill every tailing consumer) but FAILS
    // LOUD on the content-changing DELETE (pinned by the require), and
    // skipRewrites=true advances past both rowlessly while appends
    // keep flowing — so a maintenance window cannot double-count a
    // 100 TB table through every downstream consumer. Delivered rows =
    // the three append commits, exactly once; the oracle recomputes
    // them relationally.
    "stream_txlog_maintain" -> ((s, d) => withStreamPartitions(s) {
      val dir = s"/tmp/graft_txmaint_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 0), dir)
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 1), dir)
      graft.sources.TxLog.optimize(s, dir, Seq("o_orderkey"), 4)   // rewrite
      graft.sources.TxLog.delete(s, dir, "o_orderkey % 100 = 7")   // rewrite
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 500 === 8)
        .withColumn("o_orderkey", -col("o_orderkey")), dir)
      // default posture: the first rewrite commit kills the stream loud
      val unaware = s.readStream.format("txlog").option("path", dir).load()
        .writeStream.format("memory").queryName("graft_txmaint_dead").start()
      val died = try {
        unaware.processAllAvailable(); false
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .exists(t => Option(t.getMessage).exists(_.contains("rewrite")))
      } finally unaware.stop()
      require(died, "an unaware stream must fail loud on a rewrite commit")
      val q = s.readStream.format("txlog").option("path", dir)
        .option("skipRewrites", "true").load()
        .groupBy(col("_commit_version").as("version"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_txmaint").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_txmaint").orderBy("version")
    }),

    // SINK SCHEMA EVOLUTION across a restart — the mergeSchema opt-in:
    // run 1 lands half the events under (event_id, event_type, cents);
    // the query restarts with an EVOLVED projection (+src tag), which
    // the sink rejects by default (pinned) and admits with
    // mergeSchema=true, evolving the table additively. Pre-evolution
    // rows read null for the new column under merged-schema reads —
    // the add-column contract of the log format, no rewrite. The
    // oracle recomputes both generations relationally.
    "stream_txlog_evolve" -> ((s, d) => withStreamPartitions(s) {
      val dir = s"/tmp/graft_txevolve_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(dir).toPath)
      val feed = s"/tmp/graft_txevfeed_${new java.io.File(d).getName}"
      graft.sources.TxLog.deleteRecursively(new java.io.File(feed).toPath)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_txev_ck")
      val ev = events(s, d).select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      def runOnce(src: org.apache.spark.sql.DataFrame, merge: Boolean): Unit = {
        var w = src.writeStream.format("txlog").option("path", dir)
          .option("checkpointLocation", ckpt.toString).outputMode("append")
        if (merge) w = w.option("mergeSchema", "true")
        val q = w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination(120000) finally q.stop()
      }
      LocalFs.writer(ev.filter(col("event_id") % 2 === 0).coalesce(1))
        .mode("append").parquet(feed)
      val schema = s.read.parquet(feed).schema
      def stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed + "/*.parquet")
      runOnce(stream, merge = false)
      LocalFs.writer(ev.filter(col("event_id") % 2 === 1).coalesce(1))
        .mode("append").parquet(feed)
      val evolved = stream.withColumn("src", lit("evt"))
      // default posture: the evolved projection is rejected loud
      val rejected = try { runOnce(evolved, merge = false); false }
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
              .exists(t => Option(t.getMessage).exists(_.contains("mergeSchema")))
        }
      require(rejected, "sink must fail loud on schema drift by default")
      runOnce(evolved, merge = true)
      graft.sources.TxLog.read(s, dir, mergeSchema = true)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          count(col("src")).as("tagged"))
        .orderBy("event_type")
    }),

    // TOLERANCE as-of (pandas merge_asof's `tolerance`): the backward
    // match only counts within 2 hours — stale lookups become
    // no-match instead of silently joining hours-old state
    "join_asof_tolerance" -> ((s, d) => {
      val ev = events(s, d).withColumn("t_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "t_us")
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("t_us"), col("click_id"),
          col("t_us").as("ct"))
      graft.ops.AsOfJoin.asOf(purchases, clicks, "user_id", "t_us",
          Seq("click_id", "ct"))
        .filter(col("click_id").isNotNull &&
          col("t_us") - col("ct") <= 7200L * 1000000L)
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("click_id"), (col("t_us") - col("ct")).as("age_us"))
        .orderBy("event_id")
    }),

    // NEAREST as-of: the backward and forward passes composed, smaller
    // absolute distance wins, ties to the earlier click — completes the
    // as-of direction family (backward / forward / nearest)
    "join_asof_nearest" -> ((s, d) => {
      val ev = events(s, d).withColumn("t_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "t_us")
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("t_us"), col("click_id"),
          col("t_us").as("ct"))
      val b = graft.ops.AsOfJoin.asOf(purchases, clicks, "user_id", "t_us",
          Seq("click_id", "ct"))
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("click_id").as("b_id"), col("ct").as("b_t"))
      val f = graft.ops.AsOfJoin.asOfForward(purchases, clicks, "user_id", "t_us",
          Seq("click_id", "ct"))
        .select(col("event_id"), col("click_id").as("f_id"), col("ct").as("f_t"))
      val pickB = col("f_t").isNull ||
        (col("b_t").isNotNull && (col("t_us") - col("b_t")) <= (col("f_t") - col("t_us")))
      b.join(f, "event_id")
        .filter(col("b_id").isNotNull || col("f_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("t_us"),
          when(pickB, col("b_id")).otherwise(col("f_id")).as("near_id"),
          when(pickB, col("t_us") - col("b_t"))
            .otherwise(col("f_t") - col("t_us")).as("dist_us"))
        .orderBy("event_id")
    }),

    // grid-bucketed 2-D radius self-join (Spatial.radiusSelfJoin): cell
    // equi-join over the 3×3 neighborhood, integer squared-distance
    // residual — float-free; coordinates derive from custkey by exact
    // modular hashing on both engines. Oracle is the brute-force
    // predicate self-join.
    "spatial_radius_join" -> ((s, d) => {
      val pts = customer(s, d).select(col("c_custkey").as("id"),
        ((col("c_custkey") * 2654435761L) % 10000).as("x"),
        ((col("c_custkey") * 40503L) % 10000).as("y"))
      graft.ops.Spatial.radiusSelfJoin(pts, "id", "x", "y", radius = 150L)
        .orderBy("a_id", "b_id")
    }),

    // TPC-H Q18 shape (large-volume customers): heavy orders by a
    // HAVING-filtered per-order aggregate, re-attached to orders +
    // customer; the heavy set is tiny so both joins broadcast it —
    // the one-fact-scan composite the ORDER-BY/LIMIT output bounds
    "tpch_q18" -> ((s, d) => {
      val heavy = lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      orders(s, d).join(broadcast(heavy),
          col("o_orderkey") === heavy("l_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("odate"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
          col("sum_qty"))
        .orderBy(desc("price_cents"), asc("o_orderkey")).limit(100)
    }),

    // TPC-H Q4 shape (order-priority checking): EXISTS rewritten as a
    // LEFT SEMI join carrying the correlated non-equi predicate ("a
    // lineitem shipped >60 days after the order date") INSIDE the join
    // condition — one shuffle on orderkey, no second pass. The table
    // has no commit/receipt dates, so lateness is shipdate-vs-orderdate.
    "tpch_q4" -> ((s, d) => {
      val o = orders(s, d)
        .filter(to_date(col("o_orderdate")) >= to_date(lit("1996-07-01")) &&
          to_date(col("o_orderdate")) < to_date(lit("1996-10-01")))
        .select(col("o_orderkey"), col("o_orderpriority"),
          to_date(col("o_orderdate")).as("odate"))
      val l = lineitem(s, d).select(col("l_orderkey"),
        to_date(col("l_shipdate")).as("sdate"))
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("sdate") > date_add(col("odate"), 60), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q5 shape (local-supplier volume): the full 6-table snowflake.
    // region→nation prune broadcasts into customer; supplier broadcasts
    // with the SAME-NATION constraint (c_nationkey = s_nationkey) applied
    // as a join predicate after the fact rows carry both sides' nation
    // keys. Only the two fact joins shuffle; every dim is broadcast.
    "tpch_q5" -> ((s, d) => {
      val n = nation(s, d)
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val c = customer(s, d)
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val o = orders(s, d)
        .filter(to_date(col("o_orderdate")) >= to_date(lit("1996-01-01")) &&
          to_date(col("o_orderdate")) < to_date(lit("1997-01-01")))
        .select(col("o_orderkey"), col("o_custkey"))
      val sup = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          (expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            * (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
            .as("rev_e4"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(sum("rev_e4").as("revenue_e4"), count(lit(1)).as("n_items"))
        .orderBy(desc("revenue_e4"), asc("n_name"))
    }),

    // TPC-H Q10 shape (returned-item reporting): quarter of orders ⋈
    // returned lineitems, revenue per customer, top 20. Customer+nation
    // broadcast; the orderkey join is the only shuffle; top-20 is
    // TakeOrderedAndProject (no global sort materialization).
    "tpch_q10" -> ((s, d) => {
      val o = orders(s, d)
        .filter(to_date(col("o_orderdate")) >= to_date(lit("1996-10-01")) &&
          to_date(col("o_orderdate")) < to_date(lit("1997-01-01")))
        .select(col("o_orderkey"), col("o_custkey"))
      val cn = customer(s, d)
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("acctbal_cents"),
          col("n_name"))
      lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            * (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
            .as("rev_e4"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "acctbal_cents", "n_name")
        .agg(sum("rev_e4").as("revenue_e4"))
        .orderBy(desc("revenue_e4"), asc("c_custkey")).limit(20)
    }),

    // TPC-H Q14 shape (promo-revenue share): broadcast part into the
    // month's lineitems, conditional sums in ONE partial-aggregated
    // pass, share emitted as exact ppm by integer division (no float
    // percent on either engine).
    "tpch_q14" -> ((s, d) =>
      lineitem(s, d)
        .filter(to_date(col("l_shipdate")) >= to_date(lit("1996-09-01")) &&
          to_date(col("l_shipdate")) < to_date(lit("1996-10-01")))
        .select(col("l_partkey"),
          (expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            * (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
            .as("rev_e4"))
        .join(broadcast(part(s, d).select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", col("rev_e4"))
            .otherwise(0L)).as("promo_rev_e4"),
          sum(col("rev_e4")).as("total_rev_e4"))
        .select(col("promo_rev_e4"), col("total_rev_e4"),
          expr("promo_rev_e4 * 1000000 DIV total_rev_e4").as("promo_ppm"))),

    // TPC-H Q7 shape (volume shipping between two nations): the
    // customer-nation and supplier-nation legs resolve through TWO
    // broadcast copies of the nation dim; the pair filter
    // (n1, n2) ∈ {(A,B), (B,A)} prunes before the fact join output
    // aggregates by (supp nation, cust nation, ship year).
    "tpch_q7" -> ((s, d) => {
      val pair = Seq("NATION_0", "NATION_1")
      val cn = customer(s, d)
        .join(broadcast(nation(s, d).filter(col("n_name").isin(pair: _*))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val sn = supplier(s, d)
        .join(broadcast(nation(s, d).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          year(to_date(col("l_shipdate"))).cast("long").as("l_year"),
          (expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            * (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
            .as("rev_e4"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum("rev_e4").as("revenue_e4"), count(lit(1)).as("n"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q13 shape (customer order-count distribution): LEFT join so
    // order-less customers land in the 0 bucket, two cascaded aggs
    // (per-customer count, then histogram) — the second agg's input is
    // one row per customer, so the heavy shuffle happens exactly once.
    "tpch_q13" -> ((s, d) =>
      customer(s, d).select(col("c_custkey"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))),

    // TPC-H Q17 shape (small-quantity revenue): the per-part average
    // arrives by a WINDOW over the partkey partition — one shuffle, no
    // second scan of the fact and no agg-then-rejoin. The < 0.2·avg
    // test cross-multiplies to exact integers (5·qty·n < Σqty).
    "tpch_q17" -> ((s, d) => {
      val w = Window.partitionBy("l_partkey")
      lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"))
        .withColumn("sum_qty", sum("qty").over(w))
        .withColumn("n_part", count(lit(1)).over(w))
        .filter(col("qty") * 5L * col("n_part") < col("sum_qty"))
        .agg(sum("price_c").as("small_rev_cents"), count(lit(1)).as("n"))
    }),

    // TPC-H Q22 shape (dormant high-balance customers): the global
    // positive-balance average arrives as a broadcast 1-row relation
    // and the comparison cross-multiplies (cents·n > Σcents — no float
    // threshold); "no recent order" is a broadcast-able ANTI join on
    // the date-pruned orders slice. Grouped by nation as the
    // country-code stand-in (no phone column in this schema).
    "tpch_q22" -> ((s, d) => {
      val bal = customer(s, d).filter(col("c_acctbal") > 0)
        .agg(sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("sum_c"),
          count(lit(1)).as("n_pos"))
      val recent = orders(s, d)
        .filter(to_date(col("o_orderdate")) >= to_date(lit("2000-07-01")))
        .select(col("o_custkey"))
      customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
        .crossJoin(broadcast(bal))
        .filter(col("cents") * col("n_pos") > col("sum_c"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"), sum("cents").as("cents_sum"))
        .orderBy("c_nationkey")
    }),

    // TPC-H Q19 shape (disjunctive brand/size/quantity predicates): the
    // OR-of-ANDs lives in the JOIN CONDITION so each branch's p_size
    // bound prunes the broadcast build side and the shared
    // l_quantity <= 30 envelope pushes to the parquet scan. (No
    // container/shipmode columns in this schema — brand × size ×
    // quantity carry the three branches.)
    "tpch_q19" -> ((s, d) => {
      val p = part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size"))
      val branch =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      lineitem(s, d)
        .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .select(col("l_partkey"), col("l_quantity"),
          (expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            * (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
            .as("rev_e4"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey") && branch)
        .agg(sum("rev_e4").as("revenue_e4"), count(lit(1)).as("n"))
    }),

    // Unicode NFC canonicalization (native NfcNormalize expression vs
    // DuckDB's nfc_normalize — both implement the Unicode algorithm):
    // decomposed sequences are INJECTED (the corpus is ASCII) and must
    // compose identically — lengths shrink, digests agree
    "text_nfc" -> ((s, d) => {
      val nfc = (c: org.apache.spark.sql.Column) =>
        org.apache.spark.sql.graftshim.ColumnShim
        .column(graft.functions.NfcNormalize(
          org.apache.spark.sql.graftshim.ColumnShim.expression(c)))
      val aug = documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" cafe\u0301 u\u0308ber no\u0308e\u0301l"))
          .as("t"))
      aug.select(col("doc_id"),
          length(col("t")).cast("long").as("len_raw"),
          length(nfc(col("t"))).cast("long").as("len_nfc"),
          md5(nfc(col("t")).cast("binary")).as("digest"))
        .orderBy("doc_id")
    }),

    // WEIGHTED PageRank: customer↔order edges weighted by order value
    // (cents-exact); r' = (1−d) + d·Σ (w/W)·r in the declarative loop,
    // 1e-9-pinned per iteration so the recursive-CTE oracle locksteps
    "pagerank_weighted" -> ((s, d) => {
      val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
      val fwd = orders(s, d).select(
        concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("o"), col("o_orderkey")).as("dst"), cents.as("w"))
      val back = orders(s, d).select(
        concat(lit("o"), col("o_orderkey")).as("src"),
        concat(lit("c"), col("o_custkey")).as("dst"), cents.as("w"))
      PageRank.weightedDataFrame(fwd.unionByName(back), iters = 5)
        .select(col("title"), GridRound.binaryRound(col("rank"), 6).as("rank"))
        .orderBy("title")
    }),

    // per-edge neighbor Jaccard over the co-purchase graph — link
    // prediction on the triangle machinery (sorted adjacency +
    // SortedIntersectCount); |∪| = da + db − common, score in ppm via
    // integer floor division: the whole key is float-free
    "graph_jaccard" -> ((s, d) =>
      graft.graph.Triangles.edgeJaccard(coPurchasePairs(s, d), "a", "b")
        .orderBy("a", "b")),

    // per-doc Shannon token entropy on the bigramLmScore fixed-point
    // grid (integer q-sum; two identical IEEE finishing divisions)
    "text_entropy" -> ((s, d) =>
      graft.text.TextAnalysis.tokenEntropy(documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // corpus PMI collocations: top-50 above-chance adjacent pairs,
    // ranked on the exact 1e-6 integer grid (ties by (w1, w2))
    "collocation_pmi" -> ((s, d) =>
      graft.text.TextAnalysis.collocations(documents(s, d), "text",
        minCount = 5, topK = 50)),

    // BPE tokenizer-training inner loop: adjacent-symbol pair counts
    // over the corpus vocabulary, weighted by word frequency — the
    // merge-candidate ranking a BPE trainer computes every iteration.
    // Scale shape: the pair explosion runs over the DISTINCT-WORD
    // relation (vocab-bounded, not corpus-bounded) with the word-count
    // weight attached, so a 100 TB corpus costs one word-count shuffle
    // plus vocab-sized work. Exact longs; total order (n desc, a, b)
    // makes the top-20 cut deterministic.
    "bpe_pair_counts" -> ((s, d) => {
      val wc = documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("c"))
      wc.select(col("c"), split(col("word"), "").as("cs"))
        .filter(size(col("cs")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(1, size(cs) - 1), " +
            "i -> struct(element_at(cs, i) AS a, " +
            "element_at(cs, CAST(i + 1 AS INT)) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(20)
    }),

    // Iterated BPE merge training — the actual tokenizer-training loop
    // bpe_pair_counts samples one step of: k greedy merges (count pairs,
    // pick top, apply, recount), emitting the merge table. See bpeTrain
    // for the vocab-bounded scale shape.
    "bpe_apply" -> ((s, d) => {
      val (_, tops) = bpeTrain(s, d, k = 5)
      tops.reduce(_ unionByName _).orderBy("step")
    }),

    // The learned tokenizer applied back: the 10 most frequent words'
    // final symbol segmentation after the same 5 merges — the encode
    // half of a trained BPE (shares bpeTrain's state chain).
    "bpe_encode" -> ((s, d) => {
      val (st, _) = bpeTrain(s, d, k = 5)
      st.withColumn("core",
          col("st").substr(lit(2), length(col("st")) - 2))
        .withColumn("sep", lit(BpeM2 + BpeM1))
        .select(col("word"), col("c"),
          expr("replace(core, sep, ' ')").as("toks"))
        .orderBy(col("c").desc, col("word")).limit(10)
    }),

    // FORWARD as-of: each purchase matched to the NEXT click at-or-after
    // it — the reflection of join_asof through the negated axis; same
    // union-window single-shuffle machinery, DuckDB ASOF JOIN with the
    // <= inequality as the oracle
    "join_asof_forward" -> ((s, d) => {
      val ev = events(s, d).withColumn("t_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "t_us")
        .agg(max(struct(col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("t_us"),
          col("m.event_id").as("click_id"), col("m.value").as("click_value"))
      graft.ops.AsOfJoin.asOfForward(purchases, clicks, "user_id", "t_us",
          Seq("click_id", "click_value"))
        .filter(col("click_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("click_id"), col("click_value"))
        .orderBy("event_id")
    }),

    // incremental JOIN-view maintenance: the per-nation revenue view
    // absorbs a delta batch of orders by joining ONLY the delta against
    // the dim and merging partial aggregates — refresh cost is
    // |delta ⋈ dim| + |view|, never the fact table. The oracle is the
    // full recompute: hash-match = delta-merge ≡ recompute.
    "join_incremental" -> ((s, d) => {
      val c = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      def agg(o: DataFrame) = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val base = agg(orders(s, d).filter(col("o_orderkey") % 10 =!= 0))
      val delta = agg(orders(s, d).filter(col("o_orderkey") % 10 === 0))
      base.unionByName(delta).groupBy("c_nationkey")
        .agg(sum("n").cast("long").as("n"),
          sum("cents").cast("long").as("cents"))
        .orderBy("c_nationkey")
    }),

    // TPC-H Q2 shape (min-cost supplier per part in a region) over the
    // DERIVED partsupp (see partsuppDerived — testdata ships none).
    // Dims broadcast (region-filtered suppliers, size/type-filtered
    // parts); the min-cost relation groups the already-filtered ps and
    // rejoins on the SAME partkey partitioning — the fact-side pair
    // relation shuffles once. All money on the integer cents grid.
    "tpch_q2" -> ((s, d) => {
      val sup = supplier(s, d)
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("s_acctbal_cents"),
          col("n_name"))
      val parts = part(s, d)
        .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
        .select(col("p_partkey"))
      // min-cost-per-part as a WINDOW over ps_partkey, not agg+rejoin:
      // the rejoin formulation consumes `eligible` twice (the
      // lineitem-distinct derive runs twice — the copies' exchanges
      // never canonicalize equal), and a checkpoint-staged rejoin
      // planned a SortMergeJoin with a min-cost side whose size grows
      // with |part| (not broadcast-safe at scale). The window needs ONE
      // shuffle on the natural key and the filter runs in the same
      // stage — the single-pass plan a 1000-executor run wants.
      val eligible = partsuppDerived(s, d)
        .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
      eligible
        .withColumn("min_cost",
          min("ps_supplycost_cents").over(
            org.apache.spark.sql.expressions.Window.partitionBy("ps_partkey")))
        .filter(col("ps_supplycost_cents") === col("min_cost"))
        .select(col("s_acctbal_cents"), col("s_name"), col("n_name"),
          col("ps_partkey"), col("ps_supplycost_cents"))
        .orderBy(col("s_acctbal_cents").desc, col("n_name"), col("s_name"),
          col("ps_partkey"))
        .limit(100)
    }),

    // TPC-H Q11 shape (important stock): per-part inventory value inside
    // one nation vs a fixed fraction (1/1000, cross-multiplied — no
    // float threshold) of that nation's total. The global total arrives
    // as a broadcast 1-row relation; the pair relation shuffles once for
    // the per-part sum. Value = cost_cents × availqty, exact longs.
    "tpch_q11" -> ((s, d) => {
      val sup = supplier(s, d)
        .join(broadcast(nation(s, d).filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      // natPs feeds BOTH the grand total and the per-part sum — a lazy
      // localCheckpoint pins one evaluation of the lineitem-distinct
      // derive (q15 precedent); materialized: two longs per in-nation
      // pair, executor-storage-backed.
      val natPs = partsuppDerived(s, d)
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
        .select(col("ps_partkey"),
          (col("ps_supplycost_cents") * col("ps_availqty")).as("v"))
        .localCheckpoint(false)
      val total = natPs.agg(sum("v").as("total_v"))
      natPs.groupBy("ps_partkey").agg(sum("v").as("value_cents"))
        .crossJoin(broadcast(total))
        .filter(col("value_cents") * 1000L > col("total_v"))
        .select(col("ps_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("ps_partkey"))
    }),

    // TPC-H Q16 shape (supplier diversity per part attribute): distinct
    // suppliers per (brand, type, size) bucket, excluding one brand, the
    // PROMO type, and "problem" suppliers (negative balance stands in
    // for the reference schema's complaint-comment scan — this schema
    // carries no s_comment). The exclusion list is a broadcast ANTI
    // join; the distinct-count shuffles pre-projected (key, suppkey)
    // pairs only.
    "tpch_q16" -> ((s, d) => {
      val bad = supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val p = part(s, d)
        .filter(col("p_brand") =!= "Brand#15" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 9, 15, 22, 30, 44, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size").cast("long").as("p_size"))
      partsuppDerived(s, d)
        .join(broadcast(bad), col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q20 shape (promotion-ready suppliers): suppliers in one
    // nation whose derived stock of a name-prefixed part exceeds half
    // the quantity they shipped of it in calendar-2000
    // (2·availqty > Σqty — integer cross-multiply). The year slice of
    // lineitem pre-aggregates to (part, supp, Σqty) before meeting ps;
    // candidate suppkeys collapse via distinct, then a semi join keeps
    // matching suppliers — the supplier table itself never shuffles
    // (broadcast-able candidate set).
    "tpch_q20" -> ((s, d) => {
      val pBlue = part(s, d).filter(col("p_name").startsWith("blue"))
        .select(col("p_partkey"))
      val shipped = lineitem(s, d)
        .filter(to_date(col("l_shipdate")) >= to_date(lit("2000-01-01")) &&
          to_date(col("l_shipdate")) < to_date(lit("2001-01-01")))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      val candidates = partsuppDerived(s, d)
        .join(broadcast(pBlue), col("ps_partkey") === col("p_partkey"))
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2L > col("sum_qty"))
        .select(col("ps_suppkey")).distinct()
      supplier(s, d)
        .join(broadcast(candidates), col("s_suppkey") === col("ps_suppkey"),
          "left_semi")
        .join(broadcast(nation(s, d).filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("s_acctbal_cents"))
        .orderBy("s_name")
    }),

    // TPC-H Q8 shape (national market share): of the ECONOMY-part
    // revenue sold into the ASIA-region market, the per-order-year
    // fraction supplied by one nation. Share emitted as ppm via
    // integer floor-division (both engines agree on positive longs) —
    // no float division crosses the hash gate; numerator/denominator
    // ship alongside. Market membership is a semi join; parts and the
    // supplier→nation map broadcast; the fact shuffles once onto
    // orderkey for the orders join.
    "tpch_q8" -> ((s, d) => {
      val asiaCust = customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val ord = orders(s, d)
        .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"),
          year(to_date(col("o_orderdate"))).cast("long").as("o_year"))
      val supN = supplier(s, d)
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), (col("n_name") === "NATION_5").as("is_target"))
      val ecoParts = part(s, d).filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
            (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
            .as("rev_e4"))
        .join(broadcast(ecoParts), col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy("o_year")
        .agg(sum(when(col("is_target"), col("rev_e4")).otherwise(lit(0L)))
            .as("nation_rev_e4"),
          sum(col("rev_e4")).as("total_rev_e4"))
        .select(col("o_year"),
          // ppm from UNIT-scale sums (e4 grid DIV 10000): multiplying
          // the e4-grid sum by 1e6 directly would overflow Long ~2-3
          // orders of magnitude above bench SF — Spark's non-ANSI sum
          // wraps silently where DuckDB promotes to HUGEINT, a silent
          // cross-engine divergence. Dividing BEFORE the multiply keeps
          // ~500× more headroom; greatest(...,1) guards the pathological
          // sub-unit total. Both engines compute this exact form.
          expr("CAST((nation_rev_e4 DIV 10000) * 1000000" +
            " DIV greatest(total_rev_e4 DIV 10000, 1L) AS BIGINT)")
            .as("share_ppm"),
          col("nation_rev_e4"), col("total_rev_e4"))
        .orderBy("o_year")
    }),

    // TPC-H Q9 shape (product-type profit): revenue minus derived
    // supply cost for 'red *' parts, by supplier nation and order
    // year. amount_e4 = price_c·(100−disc_pct) − cost_cents·100·qty,
    // all exact longs. The ps join runs on the (partkey, suppkey)
    // pair — the partsupp-family fact shape (the cost being a
    // deterministic function of the keys would allow computing it
    // inline, but the operator under test is the pair-keyed join).
    "tpch_q9" -> ((s, d) => {
      val redParts = part(s, d).filter(col("p_name").like("red%"))
        .select(col("p_partkey"))
      val supN = supplier(s, d)
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val ord = orders(s, d).select(col("o_orderkey"),
        year(to_date(col("o_orderdate"))).cast("long").as("o_year"))
      lineitem(s, d)
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .join(partsuppDerived(s, d),
          col("l_partkey") === col("ps_partkey") &&
            col("l_suppkey") === col("ps_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .select(col("n_name"), col("o_year"),
          (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
            (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")) -
            col("ps_supplycost_cents") * lit(100L) *
              col("l_quantity").cast("long")).as("amount_e4"))
        .groupBy("n_name", "o_year")
        .agg(sum("amount_e4").as("profit_e4"))
        .orderBy(col("n_name"), col("o_year").desc)
    }),

    // TPC-H Q15 shape (top supplier): per-supplier revenue over one
    // quarter; the max arrives as a broadcast 1-row relation and ties
    // all surface. The rev view feeds BOTH the probe side and the max —
    // referencing the DataFrame twice would scan the fact twice
    // (downstream join filters push into the two copies differently,
    // so their exchanges never canonicalize equal and AQE can't reuse
    // them); a lazy localCheckpoint pins ONE evaluation of the
    // quarter-slice scan, and what's materialized is bounded at one
    // row per supplier (the PageRank iteration-cadence precedent).
    "tpch_q15" -> ((s, d) => {
      val rev = lineitem(s, d)
        .filter(to_date(col("l_shipdate")) >= to_date(lit("2000-01-01")) &&
          to_date(col("l_shipdate")) < to_date(lit("2000-04-01")))
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
          (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
          .as("total_rev_e4"))
        .localCheckpoint(false)
      val best = rev.agg(max("total_rev_e4").as("max_rev"))
      rev.crossJoin(broadcast(best))
        .filter(col("total_rev_e4") === col("max_rev"))
        .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_e4"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    // this schema: no commit/receipt dates, so "late" = shipped more
    // than 60 days after the order date. For finished ('F') orders
    // with multiple suppliers where EXACTLY ONE supplier was late,
    // count those orders per late supplier in one nation. The
    // exists/not-exists pair of the reference formulation collapses
    // into per-order window counts over the pre-aggregated
    // (order, supplier, late) relation — one shuffle onto orderkey
    // instead of two self-joins of the fact.
    "tpch_q21" -> ((s, d) => {
      val ord = orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      val perSupp = lineitem(s, d)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(to_date(col("l_shipdate")) > date_add(col("od"), 60), 1L)
          .otherwise(0L)).as("late"))
      val w = Window.partitionBy("l_orderkey")
      perSupp
        .withColumn("n_supp", count(lit(1)).over(w))
        .withColumn("n_late", sum(col("late")).over(w))
        .filter(col("late") === 1L && col("n_supp") > 1 && col("n_late") === 1L)
        .join(broadcast(supplier(s, d)
          .join(broadcast(nation(s, d).filter(col("n_name") === "NATION_2")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),
  )

  /** Content-aware once-per-source cache guard for /tmp derived inputs
    * (CSV/JSONL/ORC/partitioned/KV/stream caches). The done-marker
    * carries a token of each source parquet's (size, mtime): a
    * driver-side TESTDATA REGENERATION invalidates every derived cache
    * instead of silently serving stale bytes to keys whose oracle reads
    * the FRESH parquet (the failure class behind round 4's event-time
    * breakage — schema drift was caught, content drift would not have
    * been). `build` runs before the marker is written, so a crashed
    * build retries next run. */
  private[graft] def cachedDir(dirName: String, d: String, sources: Seq[String])
                              (build: String => Unit): String = {
    val cache = new java.io.File(dirName)
    val marker = new java.io.File(cache, "_graft_done")
    val token = sources.map { t =>
      val f = new java.io.File(d, s"$t.parquet")
      // a missing source would token as a stable "t=0:0" and validate a
      // stale cache forever — fail loud instead
      require(f.exists, s"cachedDir: source parquet missing: $f")
      s"$t=${f.length}:${f.lastModified}"
    }.mkString(";")
    val current =
      if (marker.exists)
        new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
      else ""
    if (current != token) {
      build(cache.toString)
      java.nio.file.Files.write(marker.toPath, token.getBytes("UTF-8"))
    }
    cache.toString
  }

  /** State-store partition cap for the streaming keys. Stateful
    * streaming operators keep one state store PER shuffle partition,
    * and per-micro-batch overhead (store open/commit/maintenance, task
    * latency) scales with store count, not data volume: measured on
    * stream_join at sf0.1, 32 partitions = 8.5 s wall / 199 CPU-s vs
    * 8 partitions = 3.5 s / 12 CPU-s for the identical result. Sizing
    * state partitions to state VOLUME instead of core count is the
    * standard Structured Streaming deployment tuning; a real high-rate
    * deployment raises it with state size. Results are partitioning-
    * independent — every stream key is oracle-checked. */
  private val StreamStatePartitions = 8

  /** Runs a streaming key's body with `spark.sql.shuffle.partitions`
    * capped at [[StreamStatePartitions]] (min with the session value,
    * so a small session keeps its own), restored afterwards. The
    * streaming query pins the conf at `.start()`; the post-run batch
    * read of the memory sink executes under the restored value. */
  private def withStreamPartitions[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, math.min(old.toInt, StreamStatePartitions).toString)
    try body finally s.conf.set(key, old)
  }

  /** One-time transaction-log table scenario for the table_log_* keys
    * (see [[graft.sources.TxLog]]): v0 append a quarter of orders,
    * v1 append another quarter, v2 copy-on-write delete of one custkey
    * band, v3 compact (no logical change), v4 append a third quarter
    * carrying a NEW column (schema evolution — old segments stay
    * untouched; readers merge). Deterministic — the oracle recomputes
    * each version's contents from the same filters. Dir name carries a
    * scenario version tag: cachedDir tokens only SOURCE stats, so a
    * scenario change must rename to invalidate. */
  private def txLogCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txlog_v2_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      // the build must be IDEMPOTENT: a testdata-regeneration rebuild
      // (or crashed-build retry) re-runs it against a surviving _txlog,
      // which would append the scenario at v5+ while readers still
      // replay the stale v0-v4 — wipe the table first
      val root = new java.io.File(out)
      graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"))
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 4 === 0), out)
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 4 === 1), out)
      graft.sources.TxLog.delete(s, out, "o_custkey % 10 = 3")
      graft.sources.TxLog.compact(s, out)
      graft.sources.TxLog.append(
        o.filter(col("o_orderkey") % 4 === 2)
          .withColumn("o_channel",
            concat(lit("ch"), (col("o_orderkey") % 3).cast("string"))),
        out)
    }

  /** One-time PQ + IVF model artifacts for the similarity_pq/pq_topk/
    * ivfpq keys — index BUILD is an offline job in production (run once,
    * persist, serve queries); caching it like any derived input makes
    * the bench measure QUERY-time cost. Four parquet dirs: cb
    * (codebooks), codes (vec_id, m, cell, d2q), cents (IVF centroids),
    * assigned (vec_id, cell). Deterministic — the oracles retrain the
    * identical model in SQL. */
  private def pqModelCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_pqmodel2_${new java.io.File(d).getName}", d,
        Seq("embeddings")) { out =>
      val (cb, codes) = Similarity.pqTrain(embeddings(s, d), "vec_id", "embedding")
      LocalFs.writer(cb).mode("overwrite").parquet(s"$out/cb")
      LocalFs.writer(codes.select("vec_id", "m", "cell", "d2q"))
        .mode("overwrite").parquet(s"$out/codes")
      val e = embeddings(s, d).select(col("vec_id"),
          Similarity.asDouble(col("embedding")).as("v"))
        .withColumn("nv", Similarity.l2norm(col("v")))
      val cents = Similarity.ivfCentroids(e, 16, 2)
      LocalFs.writer(cents).mode("overwrite").parquet(s"$out/cents")
      val assigned = Similarity.assignCells(e, cents).select("vec_id", "cell")
      LocalFs.writer(assigned).mode("overwrite").parquet(s"$out/assigned")
      // residual PQ model for IVFPQ (codebooks trained on v − centroid)
      val resid = Similarity.residuals(e,
        s.read.parquet(s"$out/cents"), s.read.parquet(s"$out/assigned"))
      val (rcb, rcodes) = Similarity.pqTrain(resid, "vec_id", "r")
      LocalFs.writer(rcb).mode("overwrite").parquet(s"$out/rcb")
      LocalFs.writer(rcodes.select("vec_id", "m", "cell", "d2q"))
        .mode("overwrite").parquet(s"$out/rcodes")
    }

  /** One-time DML + Z-ORDER TxLog scenario for the update/zorder keys:
    * v0/v1 append orders split by orderkey parity, v2 copy-on-write
    * UPDATE (cents += 5000 where o_custkey%10=3), v3 OPTIMIZE clustered
    * by zorder2(o_custkey, o_orderkey DIV 4) into 16 stats-bearing
    * segments (DIV 4 bounds the dimension under the 2^16 grid at sf0.1
    * while preserving per-dimension monotone locality). */
  private def txDmlCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txdml_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      val root = new java.io.File(out)
      if (root.isDirectory)
        graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 0), out)
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 1), out)
      graft.sources.TxLog.update(s, out, "o_custkey % 10 = 3",
        Map("cents" -> "cents + 5000"))
      // zorder2 masks to 16 bits per dimension: values beyond the grid
      // would alias onto low z-bits and silently destroy locality —
      // fail loud at build time instead (testdata regen guard)
      val mx = o.agg(max(col("o_custkey")),
        max(expr("o_orderkey DIV 4"))).head()
      require(mx.getLong(0) < 65536 && mx.getLong(1) < 65536,
        s"zorder grid overflow: custkey max ${mx.getLong(0)}, " +
          s"orderkey/4 max ${mx.getLong(1)} must both be < 2^16")
      graft.sources.TxLog.optimizeBy(s, out,
        graft.sources.Warehouse.zorder2(col("o_custkey"),
          expr("o_orderkey DIV 4")),
        numSegments = 16, statsCols = Seq("o_custkey", "o_orderkey"))
    }

  /** One-time REPLACE WHERE scenario: v0 appends the 1996 slice
    * (entirely inside the frame), v1 the 1995 slice (outside), v2 the
    * 1997-2001 slice (straddles), v3 replaceWhere restates the
    * 1996-01..1997-06 frame with cents+1000 in one commit. */
  private def txReplaceCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txreplace_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      val root = new java.io.File(out)
      graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("o_orderdate"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      def slice(lo: String, hi: String) =
        o.filter(col("o_orderdate").between(lo, hi))
      graft.sources.TxLog.appendWithStats(s,
        slice("1996-01-01", "1996-12-31"), out, Seq("o_orderdate"))
      graft.sources.TxLog.appendWithStats(s,
        slice("1995-01-01", "1995-12-31"), out, Seq("o_orderdate"))
      graft.sources.TxLog.appendWithStats(s,
        slice("1997-01-01", "2001-12-31"), out, Seq("o_orderdate"))
      graft.sources.TxLog.replaceWhere(s, out,
        "o_orderdate BETWEEN '1996-01-01' AND '1997-06-30'",
        slice("1996-01-01", "1997-06-30").withColumn("cents", col("cents") + 1000L),
        statsCols = Seq("o_orderdate"))
    }

  /** One-time PROTOCOL scenario: v0 appends the even-key half (floor
    * 1|1), v1 records an explicit reader/writer floor of 2|2, v2
    * appends the odd half under the raised floor. */
  private def txProtoCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txproto_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      val root = new java.io.File(out)
      graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 0), out)
      graft.sources.TxLog.upgradeProtocol(out, 2, 2)
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 1), out)
    }

  /** One-time PERSISTENT-CONSTRAINT scenario: v0 appends the even
    * half, v1 ALTER TABLE ADD CONSTRAINT (validates existing rows,
    * writer floor -> 3), v2 appends the odd half under enforcement;
    * the builder also proves a violating append is refused and
    * reclaimed. */
  private def txConsCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txcons_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      val root = new java.io.File(out)
      graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 0), out)
      graft.sources.TxLog.addConstraint(s, out, "cents_nonneg", "cents >= 0")
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 1), out)
      val refused =
        try { graft.sources.TxLog.append(
          o.limit(1).withColumn("cents", lit(-1L)), out); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("cents_nonneg") }
      require(refused, "violating append must be refused naming the constraint")
    }

  /** One-time COLUMN-DEFAULT scenario: v0 appends the even half with
    * an explicit src column, v1 SET DEFAULT src = 'defaulted', v2
    * appends the odd half WITHOUT src — the default materializes at
    * staging. */
  private def txDefCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txdef_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      val root = new java.io.File(out)
      graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(
        o.filter(col("o_orderkey") % 2 === 0).withColumn("src", lit("seeded")),
        out)
      graft.sources.TxLog.setColumnDefault(out, "src", "'defaulted'")
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 1), out)
    }

  /** One-time GENERATED-COLUMN scenario: v0 appends the even half
    * with bucket precomputed (the retrofit validation target), v1 ADD
    * GENERATED bucket AS cents DIV 1000, v2 appends the odd half
    * WITHOUT bucket (computed at staging); the builder also proves a
    * wrong-bucket batch is refused. */
  private def txGenCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txgen_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      val root = new java.io.File(out)
      graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(
        o.filter(col("o_orderkey") % 2 === 0)
          .withColumn("bucket", expr("CAST(cents DIV 1000 AS BIGINT)")),
        out)
      graft.sources.TxLog.addGeneratedColumn(s, out, "bucket",
        "CAST(cents DIV 1000 AS BIGINT)")
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 1), out)
      val refused =
        try { graft.sources.TxLog.append(
          o.limit(1).withColumn("bucket", lit(-1L)), out); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("generated:bucket") }
      require(refused, "wrong generated value must be refused by name")
    }

  /** One-time OPTIMIZE WHERE scenario: v0-v3 append four date slices
    * with stats, v4 re-clusters ONLY the 1996-1998 frame (stats-
    * intersecting segments) into 4 date-ordered segments; the 1995 and
    * 1999-2001 slices carry by reference. */
  private def txOptWhereCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txoptwhere_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      val root = new java.io.File(out)
      graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("o_orderdate"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      Seq(("1995-01-01", "1995-12-31"), ("1996-01-01", "1996-12-31"),
          ("1997-01-01", "1998-12-31"), ("1999-01-01", "2001-12-31"))
        .foreach { case (lo, hi) =>
          graft.sources.TxLog.appendWithStats(s,
            o.filter(col("o_orderdate").between(lo, hi)), out,
            Seq("o_orderdate"))
        }
      val v = graft.sources.TxLog.optimizeWhere(s, out, "o_orderdate",
        "1996-01-01", "1998-12-31", sortCols = Seq("o_orderdate"),
        numSegments = 4, statsCols = Seq("o_orderdate"))
      require(v.contains(4), s"expected the optimize_where commit at v4, got $v")
    }

  /** One-time RESTORE scenario: v0/v1 append order halves, v2 CoW
    * delete of a custkey band, v3 RESTORE to v1 — head re-references
    * v1's segments, undoing the delete without copying data. */
  private def txRestoreCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txrestore_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      val root = new java.io.File(out)
      if (root.isDirectory)
        graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 0), out)
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 1), out)
      graft.sources.TxLog.delete(s, out, "o_custkey % 5 = 2")
      graft.sources.TxLog.restore(out, toVersion = 1)
    }

  /** One-time MERGE-ON-READ DML scenario — the full MoR triad: v0/v1
    * append order halves, v2 deleteMoR (o_custkey%7=3 tombstoned by a
    * dv-* sidecar, zero segments rewritten), v3 updateMoR (cents += 111
    * where o_custkey%7=4: new images in one appended segment, old
    * images tombstoned), v4 mergeMoR (upsert: cents += 5000 for
    * o_orderkey%500=7, insert negated %500=8 keys — matched old rows
    * tombstoned, the updates frame itself is the added segment). The
    * narrow-DML-over-wide-table shape whose write cost is ∝ matched
    * rows, not dirty segments. */
  private def txMorCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txmor2_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      val root = new java.io.File(out)
      if (root.isDirectory)
        graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 0), out)
      graft.sources.TxLog.append(o.filter(col("o_orderkey") % 2 === 1), out)
      graft.sources.TxLog.deleteMoR(s, out, "o_custkey % 7 = 3")
      graft.sources.TxLog.updateMoR(s, out, "o_custkey % 7 = 4",
        Map("cents" -> "cents + 111"))
      val upd = o.filter(col("o_orderkey") % 500 === 7)
        .withColumn("cents", col("cents") + 5000L)
        .unionByName(o.filter(col("o_orderkey") % 500 === 8)
          .withColumn("o_orderkey", -col("o_orderkey")))
      graft.sources.TxLog.mergeMoR(s, out, upd, "o_orderkey")
    }

  /** Column-mapping scenario: v0 even orders appended with stats under
    * `cents`, v1 RENAME cents→revenue (metadata-only), v2 odd orders
    * appended under the NEW label (stats recorded — same physical key),
    * v3 MoR update in logical terms, v4 DROP o_custkey. */
  private def txRenameCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txren_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      val root = new java.io.File(out)
      if (root.isDirectory)
        graft.sources.TxLog.deleteRecursively(root.toPath)
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.sources.TxLog.appendWithStats(s,
        o.filter(col("o_orderkey") % 2 === 0), out, Seq("cents"))
      graft.sources.TxLog.renameColumn(s, out, "cents", "revenue")
      graft.sources.TxLog.appendWithStats(s,
        o.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("cents", "revenue"), out, Seq("revenue"))
      graft.sources.TxLog.updateMoR(s, out, "o_custkey % 10 = 3",
        Map("revenue" -> "revenue + 7"), statsCols = Seq("revenue"))
      graft.sources.TxLog.dropColumn(s, out, "o_custkey")
    }

  /** 4-part events stream source for the multi-batch sink keys: one
    * parquet file per micro-batch under maxFilesPerTrigger=1. */
  private def streamCache4(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_stream4_${new java.io.File(d).getName}", d,
        Seq("events")) { out =>
      LocalFs.writer(events(s, d).repartition(4)).mode("overwrite").parquet(out)
    }

  /** One-time stats-bearing TxLog table for the data-skipping + MERGE
    * keys: orders in 4 disjoint o_orderdate range segments (per-segment
    * min/max recorded at append), then one CoW merge (update
    * o_orderkey%500=7, insert negated %500=8 keys). Skipping reads AS
    * OF v3; merge reads head. Wiped before rebuild like [[txLogCache]]
    * so a retry can't replay the scenario on top of a stale log. */
  private def txStatsCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_txstats3_${new java.io.File(d).getName}", d,
        Seq("orders")) { out =>
      val root = new java.io.File(out)
      graft.sources.TxLog.deleteRecursively(root.toPath)
      // o_orderdate normalized to a yyyy-MM-dd STRING: segment min/max
      // on ISO strings order correctly and match the oracle's substr
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("o_orderdate"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      // testdata order dates span 1995-01-01 .. 2001-08-01
      Seq(("1995-01-01", "1995-12-31"), ("1996-01-01", "1996-12-31"),
          ("1997-01-01", "1998-12-31"), ("1999-01-01", "2001-12-31"))
        .foreach { case (lo, hi) =>
          graft.sources.TxLog.appendWithStats(s,
            o.filter(col("o_orderdate").between(lo, hi)), out,
            Seq("o_orderdate", "o_orderkey"),
            bloomCols = Seq("o_orderkey"))
        }
      val upd = o.filter(col("o_orderkey") % 500 === 7)
        .withColumn("cents", col("cents") + 100000L)
        .unionByName(o.filter(col("o_orderkey") % 500 === 8)
          .withColumn("o_orderkey", -col("o_orderkey")))
      graft.sources.TxLog.merge(s, out, upd, "o_orderkey",
        statsCols = Seq("o_orderdate", "o_orderkey"))
      // v5: OPTIMIZE — re-cluster the whole table on o_orderkey into 8
      // range segments (logical no-op; head contents unchanged, so the
      // merge oracle is untouched) to make the KEY dimension skippable
      graft.sources.TxLog.optimize(s, out, Seq("o_orderkey"), 8,
        statsCols = Seq("o_orderdate", "o_orderkey"))
    }

  /** One-time supplier KV dump (s_name \t acctbal-cents) for the DSv2
    * connector keys — written through the reference byte contract. */
  private def kvCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_kvds_${new java.io.File(d).getName}", d,
        Seq("supplier")) { out =>
      // 4 part files so the streaming key's per-file admission gets
      // real multi-batch state merging
      graft.sources.TextKV.writeKV(
        supplier(s, d).select(col("s_name"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("cents"))
          .repartition(4),
        out)
    }

  /** File-stream source directory for the oracle-checked streaming keys:
    * the events table written once, NORMALIZED through [[Tables.events]]
    * (ts as epoch-nanos BIGINT), into a dedicated dir (streaming file
    * sources list DIRECTORIES; reusing the testdata dir would stream
    * every table). Written — not copied — because the raw testdata file's
    * ts physical type has drifted across driver regenerations (INT64
    * nanos → TIMESTAMP micros) and the stream schema must match what the
    * batch-side `events(s, d).schema` declares. Dir name versioned so a
    * stale pre-normalization cache in /tmp is never picked up. */
  private def streamCache(s: SparkSession, d: String): String =
    cachedDir(s"/tmp/graft_stream_ns_${new java.io.File(d).getName}", d,
        Seq("events")) { out =>
      LocalFs.writer(events(s, d).coalesce(1)).mode("overwrite").parquet(out)
    }

  /** Derived partsupp: the testdata ships no partsupp table, so the
    * TPC-H partsupp-family keys (q2/q11/q16/q20) derive one from the
    * DISTINCT (l_partkey, l_suppkey) pairs actually traded, with supply
    * cost and available quantity as deterministic integer functions of
    * the keys — the same derive-what's-missing precedent as tpch_q12's
    * ship_mode. Both engines compute identical longs (positive ints, so
    * `%` agrees). Scale shape: the distinct is a two-column map-side-
    * partial shuffle over lineitem (pre-aggregated, never wide rows);
    * the attribute columns are free projections after it.
    */
  private def partsuppDerived(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
      .select(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"),
        ((col("l_partkey") * 31 + col("l_suppkey") * 17) % 90000 + 10000)
          .cast("long").as("ps_supplycost_cents"),
        ((col("l_partkey") * 7 + col("l_suppkey") * 13) % 60 + 1)
          .cast("long").as("ps_availqty"))

  /** DuckDB CTE mirroring [[partsuppDerived]] — shared by the
    * partsupp-family oracles so the derivation lives in ONE place. */
  private val psCteSql: String =
    """ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST((l_partkey * 31 + l_suppkey * 17) % 90000 + 10000 AS BIGINT)
           AS ps_supplycost_cents,
         CAST((l_partkey * 7 + l_suppkey * 13) % 60 + 1 AS BIGINT)
           AS ps_availqty
       FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))"""

  /** Undirected co-purchase pair relation (parts sharing an order):
    * per-order sorted DISTINCT part set expanded to ordered (a < b)
    * pairs MAP-SIDE (orders hold <= 7 parts, so the per-group quadratic
    * is O(1)) — the shared input graph of the graph_* keys, replacing a
    * lineitem self-join (measured 3.9 s -> <1 s at sf0.1). One row per
    * (order, pair) OCCURRENCE: graph_project counts them as support,
    * the others dedupe/canonicalize per their own contracts. */
  private def coPurchasePairs(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      .groupBy("k")
      .agg(sort_array(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS a, y AS b))))"))
        .as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))

  /** Deterministic PageRank input graph from the TPC-H-ish tables:
    * vertex `o<orderkey>` links its customer + one `p<partkey>` per
    * lineitem occurrence (duplicates kept — out-degree semantics);
    * vertex `c<custkey>` links all its orders. Part targets have no
    * vertex → red links (dropped mass), exercising the reference's
    * marker-join semantics at scale. */
  private[graft] def pagerankGraph(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d); val li = lineitem(s, d)
    // No sort_array on the collected link lists: out-link ORDER is
    // rank-irrelevant (contributions are per-occurrence and summation is
    // order-absorbed by the per-iteration 1e-9 rounding that keeps the
    // DuckDB CTE oracle in lock-step), and sorting 150k arrays was pure
    // graph-build overhead in both pagerank bench keys.
    // r17 (guide §2.3 narrower types): collect the raw LONG keys and
    // apply the 'p'/'o' prefix AFTER the aggregation — the groupBy
    // exchanges carry 8-byte longs instead of variable-width strings
    // (locally neutral at sf0.1; at scale the collect exchanges are the
    // build's dominant bytes). Same arrays, same order, same titles.
    val orderParts = li.groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_partkey")).as("pkeys"))
    val orderVerts = o.join(orderParts, o("o_orderkey") === orderParts("l_orderkey"), "left")
      .select(concat(lit("o"), col("o_orderkey")).as("title"),
        concat(array(concat(lit("c"), col("o_custkey"))),
          transform(coalesce(col("pkeys"), array().cast("array<long>")),
            x => concat(lit("p"), x))).as("outlinks"))
    val custVerts = o.groupBy(col("o_custkey"))
      .agg(collect_list(col("o_orderkey")).as("okeys"))
      .select(concat(lit("c"), col("o_custkey")).as("title"),
        transform(col("okeys"), x => concat(lit("o"), x)).as("outlinks"))
    orderVerts.unionByName(custVerts)
  }

  /** Shared BM25 query set — the oracle SQL is GENERATED from this, so
    * Spark and DuckDB can never drift on the query terms. */
  private[graft] val bm25Queries: Seq[(Long, String)] = Seq(
    (0L, "spark join merge"), (1L, "table scan filter"),
    (2L, "window agg hash"))

  /** Generated BM25 oracle CTEs (`q` = query terms, `r` = ranked
    * results) — shared by the bm25_topk and rank_fusion oracles so the
    * two can never drift. Constants interpolate from the same doubles
    * the Spark side uses (Double.toString round-trips exactly). */
  private[graft] lazy val bm25OracleCtes: String = {
    val k1 = 1.2; val b = 0.75
    val qvals = bm25Queries.flatMap { case (qid, q) =>
      q.split(" ").distinct.map(w => s"($qid, '$w')") }.mkString(", ")
    val qwords = bm25Queries.flatMap(_._2.split(" ")).distinct
      .map(w => s"'$w'").mkString(", ")
    s"""q AS (SELECT CAST(c0 AS BIGINT) AS query_id, c1 AS word
           FROM (VALUES $qvals) t(c0, c1)),
       tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents),
       dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       stats AS (SELECT count(*) AS n_docs,
           CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
           WHERE word IN ($qwords) GROUP BY doc_id, word),
       df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
       sc AS (SELECT t.doc_id, t.word,
           ln((s.n_docs - d.df + CAST(0.5 AS DOUBLE))
              / (d.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
             * (t.tf * CAST(${k1 + 1} AS DOUBLE))
             / (t.tf + CAST($k1 AS DOUBLE) * (CAST(${1.0 - b} AS DOUBLE)
                + CAST($b AS DOUBLE) * l.dl / s.avgdl)) AS tscore
         FROM tf t JOIN df d USING (word)
         JOIN dl l ON l.doc_id = t.doc_id, stats s),
       agg AS (SELECT q.query_id, sc.doc_id,
           round(sum(sc.tscore), 6) AS score
         FROM sc JOIN q ON q.word = sc.word
         GROUP BY q.query_id, sc.doc_id),
       r AS (SELECT query_id, doc_id, score, row_number() OVER
               (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         FROM agg)"""
  }

  /** The same deterministic testdata graph as `pagerankGraph`, as a flat
    * (src, dst) edge relation: o→c and c→o from orders, o→p from
    * lineitem (parts are pure authorities — no out-edges). */
  /** Blocked Jaro–Winkler candidate pairs shared by fuzzy_join /
    * fuzzy_clusters — must stay in lockstep with `fuzzyPairsCtes`. */
  private[graft] def fuzzyNamePairs(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d).filter(col("p_partkey") < 600)
      .select(col("p_partkey"), col("p_name"),
        split(col("p_name"), " ").getItem(0).as("blk"))
    val a = p.select(col("blk"), col("p_partkey").as("a_key"), col("p_name").as("a_name"))
    val b = p.select(col("blk"), col("p_partkey").as("b_key"), col("p_name").as("b_name"))
    val jw = ColumnShim.column(graft.functions.JaroWinkler(
      ColumnShim.expression(col("a_name")), ColumnShim.expression(col("b_name"))))
    a.join(b, Seq("blk"))
      .filter(col("a_key") < col("b_key") && col("a_name") =!= col("b_name"))
      .select(col("a_key"), col("b_key"), round(jw, 6).as("jw"))
      .filter(col("jw") >= 0.9)
  }

  private[graft] def graphEdges(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d); val li = lineitem(s, d)
    o.select(concat(lit("o"), col("o_orderkey")).as("src"),
        concat(lit("c"), col("o_custkey")).as("dst"))
      .unionByName(li.select(concat(lit("o"), col("l_orderkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("dst")))
      .unionByName(o.select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("o"), col("o_orderkey")).as("dst")))
  }

  /** The tripartite graph with POSITIVE INTEGER weights: customer↔order
    * hops cost 1; order→part costs 1 + ⌊quantity/10⌋ (1..6) — integer by
    * construction, which is the [[graft.graph.ShortestPaths.runWeighted]]
    * convergence contract. */
  private[graft] def weightedEdges(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d); val li = lineitem(s, d)
    o.select(concat(lit("o"), col("o_orderkey")).as("src"),
        concat(lit("c"), col("o_custkey")).as("dst"), lit(1L).as("w"))
      .unionByName(o.select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("o"), col("o_orderkey")).as("dst"), lit(1L).as("w")))
      .unionByName(li.select(concat(lit("o"), col("l_orderkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("dst"),
        (lit(1L) + floor(col("l_quantity") / 10).cast("long")).as("w")))
      // the reverse part→order arm keeps parts from being sinks, so the
      // traversal actually fans out across the co-purchase structure
      .unionByName(li.select(concat(lit("p"), col("l_partkey")).as("src"),
        concat(lit("o"), col("l_orderkey")).as("dst"),
        (lit(1L) + floor(col("l_quantity") / 10).cast("long")).as("w")))
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL — same column names, same ordering, same rounding.
  // ---------------------------------------------------------------------

  /** Shared PQ replay (see `similarity_pq[_topk]`/`similarity_ivfpq`):
    * subspace slicing, md5-prefix seeds, one integer-grid Lloyd step,
    * argmin-L2 assignment (tie: larger code) with per-dim
    * floor-quantized distortion. 8 subspaces x 8 dims x 16 codes.
    * `src` is the (vec_id, v) relation the codebooks train on — `e`
    * for raw vectors, a residual relation for IVFPQ. Every CTE is
    * prefixed with `p` so raw and residual replays can coexist. Ends
    * at `{p}af` = (vec_id, m, sv, cell, d2q) and `{p}cb1`. */
  private def pqOracleCtesOn(p: String, src: String): String = {
    val sub = 8
    def d2Sql(a: String, b: String) =
      s"""list_reduce(list_transform(generate_series(1, $sub),
            i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"""
    def d2qSql(a: String, b: String) =
      s"""list_reduce(list_transform(generate_series(1, $sub),
            i -> CAST(floor(($a[i] - $b[i]) * ($a[i] - $b[i]) * 1000000.0 + 0.5)
                 AS BIGINT)), (x, y) -> x + y)"""
    s"""${p}subs AS (SELECT t.vec_id, CAST(g.m AS BIGINT) AS m,
           list_slice(t.v, g.m * $sub + 1, g.m * $sub + $sub) AS sv
         FROM $src t CROSS JOIN generate_series(0, 7) g(m)),
       ${p}seeds AS (SELECT m, vec_id FROM (
           SELECT m, vec_id, row_number() OVER (PARTITION BY m
               ORDER BY CAST(concat('0x', substr(md5(concat(
                 CAST(vec_id AS VARCHAR), ':', CAST(m AS VARCHAR))), 1, 13))
                 AS BIGINT), vec_id) AS rn
           FROM ${p}subs) WHERE rn <= 16),
       ${p}cb0 AS (SELECT s.m, s.vec_id AS cell, s.sv AS cv
         FROM ${p}subs s JOIN ${p}seeds d ON d.m = s.m AND d.vec_id = s.vec_id),
       ${p}a1 AS (SELECT vec_id, m, sv, cell FROM (
           SELECT s.vec_id, s.m, s.sv, c.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY ${d2Sql("s.sv", "c.cv")} ASC, c.cell DESC) AS arn
           FROM ${p}subs s JOIN ${p}cb0 c ON c.m = s.m) WHERE arn = 1),
       ${p}u AS (SELECT m, cell, g.i AS dim,
           CAST(sum(CAST(floor(sv[g.i] * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s,
           count(*) AS cnt
         FROM ${p}a1 CROSS JOIN generate_series(1, $sub) g(i)
         GROUP BY m, cell, g.i),
       ${p}cb1 AS (SELECT m, cell,
           list((CAST(s AS DOUBLE) / cnt) / 1000000.0 ORDER BY dim) AS cv
         FROM ${p}u GROUP BY m, cell),
       ${p}af AS (SELECT vec_id, m, sv, cell, d2q FROM (
           SELECT s.vec_id, s.m, s.sv, c.cell, ${d2qSql("s.sv", "c.cv")} AS d2q,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY ${d2Sql("s.sv", "c.cv")} ASC, c.cell DESC) AS arn
           FROM ${p}subs s JOIN ${p}cb1 c ON c.m = s.m) WHERE arn = 1)"""
  }

  /** Unprefixed raw-vector PQ replay (includes the `e` base CTE). */
  private lazy val pqOracleCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       ${pqOracleCtesOn("", "e")}"""

  private def ivfDotSql(a: String, b: String) =
    s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i]*$b[i]), (x, y) -> x + y)"
  private def ivfNormSql(a: String) = s"sqrt(${ivfDotSql(a, a)})"

  /** IVF coarse-quantizer replay (see `similarity_ivf[pq]`): md5-seeded
    * 16 cells, two integer-grid Lloyd refinements, final max-cosine
    * assignment. Assumes a CTE `e` = (vec_id, v DOUBLE[]) exists.
    * Emits `{p}n` (normed vectors), `{p}c2` (refined centroids) and
    * `{p}af` (vec_id, v, nv, cell); `p` prefixes every CTE so the
    * block can coexist with the PQ CTEs in one WITH. */
  private def ivfOracleCtes(p: String): String = {
    def assign(name: String, cents: String) =
      s"""${name}s AS (SELECT n.vec_id, n.v, n.nv, c.cell,
           ${ivfDotSql("n.v", "c.cv")} / (${ivfNormSql("c.cv")} * n.nv) AS cs
         FROM ${p}n n CROSS JOIN $cents c),
       $name AS (SELECT vec_id, v, nv, cell FROM (
           SELECT vec_id, v, nv, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cell DESC) AS arn
           FROM ${name}s)
         WHERE arn = 1)"""
    def update(prev: String, out: String) =
      s"""${out}u AS (SELECT cell, g.i AS dim,
           CAST(sum(CAST(floor(v[g.i] * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s,
           count(*) AS cnt
         FROM $prev CROSS JOIN generate_series(1, 64) g(i)
         GROUP BY cell, g.i),
       $out AS (SELECT cell,
           list((CAST(s AS DOUBLE) / cnt) / 1000000.0 ORDER BY dim) AS cv
         FROM ${out}u GROUP BY cell)"""
    s"""${p}n AS (SELECT vec_id, v, ${ivfNormSql("v")} AS nv FROM e),
       ${p}c0 AS (SELECT vec_id AS cell, v AS cv FROM ${p}n
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       ${assign(s"${p}a1", s"${p}c0")},
       ${update(s"${p}a1", s"${p}c1")},
       ${assign(s"${p}a2", s"${p}c1")},
       ${update(s"${p}a2", s"${p}c2")},
       ${assign(s"${p}af", s"${p}c2")}"""
  }

  /** Shared CTE prefix for the portable-simhash oracles: tokenize →
    * per-word md5-bit sums → 60-bit signature → 4×15-bit bands. Mirrors
    * `Dedup.simhashPortable` + `Dedup.simhashBands` digit for digit. */
  private lazy val simhashOracleCtes: String = {
    val bitSums = (0 until 60).map { i =>
      s"sum(CASE WHEN (((strpos('0123456789abcdef', substr(h, ${i / 4 + 1}, 1)) - 1) >> ${i % 4}) & 1) = 1 THEN cnt ELSE -cnt END) AS b$i"
    }.mkString(",\n             ")
    val sigExpr = (0 until 60)
      .map(i => s"(CASE WHEN b$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         occ AS (SELECT doc_id, word, count(*) AS cnt
           FROM (SELECT doc_id, unnest(w) AS word FROM tok) GROUP BY doc_id, word),
         hh AS (SELECT doc_id, cnt, md5(word) AS h FROM occ),
         bits AS (SELECT doc_id,
             $bitSums
           FROM hh GROUP BY doc_id),
         sig AS (SELECT doc_id, $sigExpr AS sig FROM bits),
         bands AS (SELECT s.doc_id, b.band_id, (s.sig >> (b.band_id * 15)) & 32767 AS bkey
           FROM sig s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_id) b)"""
  }

  /** Shared CTE prefix for the MinHash oracles: tokenize → distinct
    * 3-shingles (`sh`) → 8 md5 minhashes → 4×2-row bands → candidate
    * pairs (`cand`). Mirrors `Dedup.minhashSignatures` + `lshBands` +
    * `bucketPairs` hash for hash (the sf0.01 corpus has no bucket above
    * the pair cap, so the capped expansion equals the full self-join). */
  private lazy val minhashOracleCtes: String = {
    val sigCols = (0 until 8)
      .map(p => s"list_min(list_transform(sgl, s -> md5('$p:' || s))) AS s$p")
      .mkString(",\n             ")
    val bandRows = (0 until 4).map { b =>
      val prefix = if (b == 0) "SELECT doc_id, 0 AS band_id, " else s"UNION ALL SELECT doc_id, $b, "
      s"$prefix s${2 * b} || '|' || s${2 * b + 1}${if (b == 0) " AS bkey" else ""} FROM sig"
    }.mkString("\n           ")
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sgl FROM tok),
         sig AS (SELECT doc_id,
             $sigCols
           FROM sh),
         bands AS (
           $bandRows),
         cand AS (
           SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM bands x JOIN bands y
             ON x.band_id = y.band_id AND x.bkey = y.bkey AND x.doc_id < y.doc_id)"""
  }

  /** [[minhashOracleCtes]] extended through the exact n-gram-Jaccard
    * verification: adds `j` (intersection/union sizes) and `verified`
    * (pairs with Jaccard ≥ 0.5) — the pair relation the cluster-keeper
    * and split oracles close over. */
  private lazy val ngramVerifiedCtes: String =
    s"""$minhashOracleCtes,
         j AS (
           SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(sa.sgl, sb.sgl)) AS BIGINT) AS i,
               CAST(len(sa.sgl) + len(sb.sgl) - len(list_intersect(sa.sgl, sb.sgl)) AS BIGINT) AS u
           FROM cand c
           JOIN sh sa ON sa.doc_id = c.doc_a
           JOIN sh sb ON sb.doc_id = c.doc_b),
         verified AS (SELECT doc_a, doc_b FROM j WHERE CAST(i AS DOUBLE) / u >= 0.5)"""

  /** First-md5-byte bucket (0..255) of a BIGINT column's string form —
    * the portable hash `Sampling.hashBucket` computes with conv(). */
  private def md5BucketSql(c: String): String =
    s"""((strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 1, 1)) - 1) * 16
       + strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 2, 1)) - 1)"""

  /** Min-label transitive closure over a pair CTE, as recursive SQL: node
    * × every label reachable from it, min per node = component. The
    * closure is O(component²) rows — fine at oracle scale; the Spark side
    * is the O(log² n)-round star algorithm, which is the point of the
    * cross-check (two unrelated formulations, one fixpoint). Yields CTEs
    * `edges`, `cc`, `comp(node, component)`; the full query must open
    * with WITH RECURSIVE. */
  private def ccClosureCtes(pairsCte: String, a: String, b: String): String =
    s"""edges AS (SELECT $a AS eu, $b AS ev FROM $pairsCte
           UNION ALL SELECT $b, $a FROM $pairsCte),
         cc(cu, lbl) AS (
           SELECT eu, eu FROM (SELECT DISTINCT eu FROM edges)
           UNION
           SELECT e.eu, c.lbl FROM edges e JOIN cc c ON c.cu = e.ev),
         comp AS (SELECT cu AS node, min(lbl) AS component FROM cc GROUP BY cu)"""

  /** DuckDB mirror of [[fuzzyNamePairs]] — blocked Jaro–Winkler pairs,
    * filtered on the 6dp-rounded value on both sides so the threshold
    * test sees identical doubles. DuckDB's jaro_winkler_similarity IS
    * the 0.7-boost-threshold variant the native expression implements
    * (byte-level on these ASCII names). Yields CTEs `fp`,
    * `fcand(a_key, b_key, jw)`. */
  private val fuzzyPairsCtes: String =
    """fp AS (SELECT p_partkey, p_name,
               split_part(p_name, ' ', 1) AS blk
           FROM part WHERE p_partkey < 600),
         fcand AS (
           SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
               round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
           FROM fp a JOIN fp b ON a.blk = b.blk
             AND a.p_partkey < b.p_partkey AND a.p_name <> b.p_name
           WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.9)"""

  /** Unrolled parallel k-core peeling for the DuckDB oracle: round i+1
    * keeps the vertices whose degree WITHIN round i's survivor set is
    * ≥ k. The k-core is the unique fixpoint of that map, and once a
    * round removes nothing every later round is an identity — so a
    * fixed unroll depth is exact as long as peeling converges within
    * it (5 rounds at sf0.01 for k=80; 16 leaves ×3 headroom, and the
    * Spark side runs to convergence regardless). A recursive CTE can't
    * express this (the recursive relation would need TWO self-joins
    * per step); chaining generated CTEs can. MATERIALIZED is load-
    * bearing: inlined, DuckDB re-expands `edges` at every reference
    * and runs out of file handles re-opening the parquet. */
  /** Unrolled Bellman–Ford over the weighted tripartite graph. With
    * integer weights ≥ 1, a shortest path of cost ≤ maxCost has ≤
    * maxCost edges, so maxCost rounds reach the fixpoint EXACTLY (extra
    * rounds are identity) — same discipline as kcoreOracleSql, but here
    * the unroll depth is a theorem, not an observation. MATERIALIZED
    * stops DuckDB inlining d_{r-1} twice per round (2^rounds blowup). */
  private def ssspOracleSql(maxCost: Int): String = {
    val rounds = (1 to maxCost).map { r =>
      s"""d$r AS MATERIALIZED (SELECT title, min(d) AS d FROM (
             SELECT title, d FROM d${r - 1}
             UNION ALL
             SELECT e.dst, p.d + e.w FROM d${r - 1} p
             JOIN edges e ON e.src = p.title
             WHERE p.d + e.w <= $maxCost) GROUP BY title)"""
    }.mkString(",\n         ")
    s"""WITH edges AS MATERIALIZED (
           SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
                  'c' || CAST(o_custkey AS VARCHAR) AS dst,
                  CAST(1 AS BIGINT) AS w FROM orders
           UNION ALL SELECT 'c' || CAST(o_custkey AS VARCHAR),
                  'o' || CAST(o_orderkey AS VARCHAR), CAST(1 AS BIGINT)
             FROM orders
           UNION ALL SELECT 'o' || CAST(l_orderkey AS VARCHAR),
                  'p' || CAST(l_partkey AS VARCHAR),
                  1 + CAST(floor(l_quantity / 10) AS BIGINT) FROM lineitem
           UNION ALL SELECT 'p' || CAST(l_partkey AS VARCHAR),
                  'o' || CAST(l_orderkey AS VARCHAR),
                  1 + CAST(floor(l_quantity / 10) AS BIGINT) FROM lineitem),
         d0 AS (SELECT 'c1' AS title, CAST(0 AS BIGINT) AS d),
         $rounds
         SELECT title, CAST(d AS BIGINT) AS dist
         FROM d$maxCost ORDER BY title"""
  }

  /** Unrolled synchronous LPA rounds: the (freq desc, label asc) winner
    * via a per-round row_number — the window formulation is fine at
    * oracle scale; the Spark side computes the same argmax as a
    * max(struct) monoid. Fixed-round contract ⇒ the unroll IS the
    * semantics (no fixpoint assumption needed). */
  /** Shared LPA unrolled-round CTE body (through `l$rounds`) — used by
    * the graph_lpa oracle and composed into graph_modularity so the
    * community assignment can never drift between the two. */
  private def lpaOracleCtes(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (
             SELECT node, label FROM (
               SELECT e.u AS node, l.label, count(*) AS cnt,
                   row_number() OVER (PARTITION BY e.u
                     ORDER BY count(*) DESC, l.label ASC) AS rn
               FROM edges e JOIN l${r - 1} l ON l.node = e.v
               GROUP BY e.u, l.label) WHERE rn = 1)"""
    }.mkString(",\n         ")
    s"""pp AS MATERIALIZED (
           SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         edges AS MATERIALIZED (SELECT a AS u, b AS v FROM pp
           UNION ALL SELECT b, a FROM pp),
         l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM edges),
         $steps"""
  }

  private def lpaOracleSql(rounds: Int): String =
    s"""WITH ${lpaOracleCtes(rounds)}
         SELECT node, CAST(label AS BIGINT) AS label
         FROM l$rounds ORDER BY node"""

  /** Symbol-frame markers for the BPE state string: every symbol is
    * framed M1symM2, so the pair (a, b) occurs at a symbol
    * boundary iff the string contains M1aM2M1bM2 —
    * and a plain left-to-right non-overlapping `replace` of that
    * pattern IS BPE's greedy merge-application order. The corpus is
    * checked space-and-printable-ASCII, so the markers can't collide. */
  private val BpeM1 = "\u0001"
  private val BpeM2 = "\u0002"

  /** Iterated BPE merge training (the loop bpe_pair_counts samples one
    * step of): k greedy merge steps over the corpus VOCABULARY. Each
    * step counts adjacent symbol pairs weighted by word frequency,
    * picks the top pair (n desc, a, b), and applies it to every word
    * via one codegen'd string `replace` over the marker-framed state.
    *
    * Scale shape: the corpus is touched ONCE (the word-count shuffle);
    * every step after that is vocab-bounded — pair explode, one agg,
    * a 1-row TakeOrdered, and a map-side replace. The top pair reaches
    * the merge as a broadcast of a 1-row relation, not a driver
    * collect: the whole k-step train is one lazy plan. Each state and
    * top are checkpoint-staged so step i+1 consumes step i once — no
    * exponential re-execution of the chain.
    *
    * Returns (final state(word, c, st), per-step top pairs
    * (step, a, b, n)). */
  private def bpeTrain(s: SparkSession, d: String, k: Int)
      : (DataFrame, Seq[DataFrame]) = {
    val wc = documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("c"))
    var st = wc.select(col("word"), col("c"),
        regexp_replace(col("word"), "(.)", BpeM1 + "$1" + BpeM2).as("st"))
      .localCheckpoint(false)
    val tops = Seq.newBuilder[DataFrame]
    for (i <- 1 to k) {
      val syms = st.select(col("c"),
        split(col("st").substr(lit(2), length(col("st")) - 2),
          BpeM2 + BpeM1).as("cs"))
      val top = syms.filter(size(col("cs")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(1, size(cs) - 1), " +
            "i -> struct(element_at(cs, i) AS a, " +
            "element_at(cs, CAST(i + 1 AS INT)) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .localCheckpoint(false)
      tops += top.select(lit(i).cast("long").as("step"),
        col("a"), col("b"), col("n"))
      st = st
        .crossJoin(broadcast(top.select(
          concat(lit(BpeM1), col("a"), lit(BpeM2),
            lit(BpeM1), col("b"), lit(BpeM2)).as("_pat"),
          concat(lit(BpeM1), col("a"), col("b"), lit(BpeM2)).as("_rep"))))
        .withColumn("st", expr("replace(st, _pat, _rep)"))
        .drop("_pat", "_rep")
        .localCheckpoint(false)
    }
    (st, tops.result())
  }

  /** DuckDB mirror of [[bpeTrain]], unrolled as k CTE step triples
    * (symbols → top pair → merged state) — the graph_kcore fixed-unroll
    * trick. chr(1)/chr(2) keep the marker bytes out of the SQL text. */
  private def bpeOracleSql(k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""sy$i AS MATERIALIZED (SELECT c,
             string_split(substr(st, 2, len(st) - 2), chr(2) || chr(1)) AS cs
           FROM st${i - 1}),
         t$i AS MATERIALIZED (SELECT a, b, CAST(sum(c) AS BIGINT) AS n
           FROM (SELECT cs[i] AS a, cs[i + 1] AS b, c
                 FROM sy$i,
                   LATERAL (SELECT unnest(generate_series(1, len(cs) - 1)) AS i) ix
                 WHERE len(cs) >= 2)
           GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1),
         st$i AS MATERIALIZED (SELECT word, c,
             replace(st, chr(1) || t.a || chr(2) || chr(1) || t.b || chr(2),
                     chr(1) || t.a || t.b || chr(2)) AS st
           FROM st${i - 1}, t$i t)"""
    }.mkString(",\n         ")
    s"""WITH wc AS MATERIALIZED (
           SELECT word, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           WHERE len(word) > 0 GROUP BY word),
         st0 AS MATERIALIZED (SELECT word, c,
             regexp_replace(word, '(.)', chr(1) || '\\1' || chr(2), 'g') AS st
           FROM wc),
         $steps"""
  }

  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { i =>
      s"""v$i AS MATERIALIZED (SELECT e.u AS node FROM edges e
           JOIN v${i - 1} x ON e.u = x.node JOIN v${i - 1} y ON e.v = y.node
           GROUP BY e.u HAVING count(*) >= $k)"""
    }.mkString(",\n         ")
    s"""WITH pp AS MATERIALIZED (
           SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         edges AS MATERIALIZED (SELECT a AS u, b AS v FROM pp
           UNION ALL SELECT b, a FROM pp),
         v0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM edges),
         $peels
         SELECT e.u AS node, CAST(count(*) AS BIGINT) AS core_deg
         FROM edges e
         JOIN v$rounds x ON e.u = x.node JOIN v$rounds y ON e.v = y.node
         GROUP BY e.u ORDER BY node"""
  }

  /** SQL 2008 `WITH RECURSIVE` — the SAME text runs on both engines.
    * Spark 4 executes it as a `UnionLoopExec` (iterative union-anchor
    * plan); DuckDB runs its native recursive CTE. The hierarchy is the
    * synthetic org tree parent = floor(key/10): every node has exactly
    * one parent, so UNION ALL recursion visits each node once (no path
    * explosion) and the rollup is an exact integer-cents sum. Children
    * are constrained to key > 9 so the root band 1..9 can't re-enter
    * (custkey 0's floor(0/10)=0 self-loop stays out of the tree). */
  /** Shared by cdc_apply and its streaming twin stream_cdc_apply. */
  private val cdcApplyOracleSql: String =
    """WITH log AS (SELECT user_id, event_id,
           CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
           CAST(round(value * 100) AS BIGINT) AS v_cents FROM events),
       last AS (SELECT user_id, count(*) AS n_ops,
           max(event_id) AS last_seq,
           arg_max(op, event_id) AS last_op,
           arg_max(v_cents, event_id) AS value_cents
         FROM log GROUP BY user_id)
       SELECT user_id, n_ops, last_seq, value_cents
       FROM last WHERE last_op <> 'D' ORDER BY user_id"""

  /** Shared same-text constants (zero-drift family). */
  private val sqlTryCastText: String =
    """SELECT doc_id,
         try_cast(CASE WHEN doc_id % 3 = 0
             THEN 'x' || CAST(doc_id AS STRING)
             ELSE CAST(doc_id AS STRING) END AS BIGINT) AS parsed,
         try_cast(CASE WHEN doc_id % 5 = 0 THEN NULL
             ELSE CAST(doc_id AS STRING) END AS BIGINT) AS parsed2
       FROM documents ORDER BY doc_id"""

  private val sqlGroupByAllText: String =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
       FROM orders GROUP BY ALL ORDER BY ALL"""

  /** Ranking + framed running window in pure SQL — IDENTICAL text on
    * both engines (the sql_recursive zero-drift discipline); money on
    * the exact cents grid, every tie broken by the unique order key. */
  private val sqlWindowText: String =
    """SELECT o_orderkey, o_orderstatus,
         CAST(row_number() OVER (PARTITION BY o_orderstatus
             ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                      o_orderkey) AS BIGINT) AS rn,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
       FROM orders ORDER BY o_orderkey"""

  private val sqlRecursiveText: String =
    """WITH RECURSIVE org AS (
         SELECT c_custkey AS node, c_custkey AS root,
                0 AS depth,
                CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
         FROM customer WHERE c_custkey BETWEEN 1 AND 9
         UNION ALL
         SELECT c.c_custkey, org.root, org.depth + 1,
                CAST(round(c.c_acctbal * 100) AS BIGINT)
         FROM org JOIN customer c
           ON CAST(floor(c.c_custkey / 10.0) AS BIGINT) = org.node
              AND c.c_custkey > 9
         WHERE org.depth < 6
       )
       SELECT root, CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(max(depth) AS BIGINT) AS max_depth,
              CAST(sum(bal_cents) AS BIGINT) AS subtree_cents
       FROM org GROUP BY root ORDER BY root"""

  /** Correlated LATERAL derived table with ORDER BY + LIMIT — per-group
    * top-k in pure SQL, same text on both engines. Catalyst decorrelates
    * the LIMIT into a ranked window join (no per-row subquery
    * execution); integer-cents ranking with a key tie-break keeps the
    * order total. */
  private val sqlLateralText: String =
    """SELECT n.n_nationkey, l.c_custkey, l.bal_cents
       FROM nation n,
       LATERAL (SELECT c_custkey,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
                FROM customer c
                WHERE c.c_nationkey = n.n_nationkey
                ORDER BY bal_cents DESC, c_custkey
                LIMIT 2) l
       ORDER BY n_nationkey, bal_cents DESC, c_custkey"""

  /** Generated MMR oracle: the greedy loop unrolled into the SAME k−1
    * steps the Spark side executes — per-step max-sim aggregate against
    * the accumulated selection, NOT-EXISTS remaining filter, argmax on
    * the identical unrounded mmr double (0.5-halves of 1e-6-rounded
    * inputs are IEEE-exact, so ranking can't diverge). */
  private lazy val mmrOracleSql: String = {
    val candK = 20; val k = 5
    val steps = (2 to k).map { i =>
      val prev = s"acc${i - 1}"
      s"""sel$i AS (
           SELECT query_id, cid, rel, $i AS rank,
               round(0.5 * rel - 0.5 * max_sim, 7) AS mmr_score
           FROM (
             SELECT r.query_id, r.cid, r.rel, m.max_sim,
                 row_number() OVER (PARTITION BY r.query_id
                   ORDER BY (0.5 * r.rel - 0.5 * m.max_sim) DESC, r.cid) AS rn
             FROM cand r
             JOIN (SELECT p.query_id, p.ca AS cid, max(p.ps) AS max_sim
                   FROM ps p JOIN $prev s
                     ON s.query_id = p.query_id AND s.cid = p.cb
                   GROUP BY p.query_id, p.ca) m
               ON m.query_id = r.query_id AND m.cid = r.cid
             WHERE NOT EXISTS (SELECT 1 FROM $prev s2
                               WHERE s2.query_id = r.query_id
                                 AND s2.cid = r.cid)
           ) x WHERE rn = 1),
         acc$i AS (SELECT * FROM acc${i - 1} UNION ALL SELECT * FROM sel$i)"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]),
                              (x, y) -> x + y)) AS nv
           FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, nv AS nq FROM n WHERE vec_id < 3),
         prs AS (
           SELECT q.query_id, n.vec_id AS cid,
               list_reduce(list_transform(generate_series(1, len(n.v)), i -> q.qv[i]*n.v[i]),
                           (x, y) -> x + y) / (q.nq * n.nv) AS cos
           FROM q, n WHERE q.query_id <> n.vec_id),
         cand AS (SELECT query_id, cid, round(cos, 6) AS rel FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, cid) AS rn FROM prs) x
           WHERE rn <= $candK),
         cv AS (SELECT c.query_id, c.cid, n.v, n.nv
                FROM cand c JOIN n ON n.vec_id = c.cid),
         ps AS (
           SELECT a.query_id, a.cid AS ca, b.cid AS cb,
               round(list_reduce(list_transform(generate_series(1, len(a.v)),
                       i -> a.v[i] * b.v[i]), (x, y) -> x + y) / (a.nv * b.nv), 6) AS ps
           FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.cid <> b.cid),
         sel1 AS (SELECT query_id, cid, rel, 1 AS rank, rel AS mmr_score FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY rel DESC, cid) AS rn FROM cand) x WHERE rn = 1),
         acc1 AS (SELECT * FROM sel1),
         $steps
         SELECT query_id, cid AS neighbor_id, CAST(rank AS BIGINT) AS rank,
             rel, mmr_score
         FROM acc$k ORDER BY query_id, rank"""
  }

  /** One oracle, two engine formulations (`join_asof` union+window,
    * `join_asof_merge` custom merge-scan plan): DuckDB's NATIVE ASOF
    * JOIN — an independent third implementation. */
  private val asOfOracleSql: String =
    """WITH ev AS (
           SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
                  event_type, value
           FROM events),
         p AS (SELECT event_id, user_id, t_us FROM ev WHERE event_type = 'purchase'),
         c AS (SELECT user_id, t_us, max(event_id) AS click_id,
                      arg_max(value, event_id) AS click_value
               FROM ev WHERE event_type = 'click' GROUP BY user_id, t_us)
         SELECT p.event_id, p.user_id, p.t_us, c.click_id, c.click_value
         FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.t_us >= c.t_us
         ORDER BY p.event_id"""

  /** Shared CTE body (no leading WITH) for the language-ID oracles:
    * tokenize → per-language stopword scores → ranked argmax (`best`).
    * Generated from the same `TextAnalysis.LangStopWords` the Spark side
    * uses, so the profile lists can never drift. */
  private lazy val langIdOracleCtes: String = langOracleCtes("")

  /** Same CTEs with a name prefix, for composition into oracles whose
    * namespace already has a (non-lowercased) `tok`. */
  private def langOracleCtes(p: String): String = {
    val branches = graft.text.TextAnalysis.LangStopWords.toSeq.sortBy(_._1)
      .map { case (lang, sw) =>
        val list = sw.map(s => s"'$s'").mkString("[", ", ", "]")
        s"""SELECT doc_id, '$lang' AS lang,
             CAST(len(list_filter(w, x -> list_contains($list, x))) AS BIGINT) AS score
           FROM ${p}tok"""
      }.mkString("\n         UNION ALL ")
    s"""${p}tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         ${p}scored AS (
         $branches),
         ${p}best AS (SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang DESC) AS rn
           FROM ${p}scored)"""
  }

  /** DuckDB-dialect Spark `xxhash64` (seed 42) of every distinct corpus
    * word, unrolled for the <= 8-byte ASCII words the deterministic
    * documents corpus carries (verified at sf0.001/0.01/0.1: max word
    * length 8 bytes, zero non-ASCII, 31 distinct words) — which closes
    * the `dedup_simhash` oracle gap (VERDICT r16 item 6) without
    * touching the query: the oracle recomputes the exact XXH64 bit
    * pattern in 128-bit SQL arithmetic.
    *
    * Arithmetic mapping (all values HUGEINT in [0, 2^64)):
    *  - a*b mod 2^64 splits a into 32-bit halves so no intermediate
    *    exceeds 2^97 (HUGEINT holds 2^127);
    *  - rotl(a,r) = (a*2^r mod 2^64) + (a // 2^(64-r)) — the two parts
    *    occupy disjoint bit ranges, so + is |;
    *  - xor() is DuckDB-native on HUGEINT;
    *  - bit i of h is (h // 2^i) % 2 with 2^i from power(2,i) (exact as
    *    a double for powers of two; `1::UBIGINT << 63` raises instead).
    * Word-length phases: one 8-byte lane (n = 8), one 4-byte lane
    * (4 <= n < 8), then up to three single-byte steps, then the final
    * avalanche — Spark's XXH64.hashUnsafeBytes for n < 32 exactly. */
  private[graft] lazy val simhashOracleSql: String = {
    val M = BigInt(1) << 64
    val P1 = BigInt("9E3779B185EBCA87", 16); val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
    val P3 = BigInt("165667B19E3779F9", 16); val P4 = BigInt("85EBCA77C2B2AE63", 16)
    val P5 = BigInt("27D4EB2F165667C5", 16)
    def mul64(a: String, b: BigInt): String =
      s"((((($a) // 4294967296) * ($b)) % 4294967296) * 4294967296" +
        s" + (($a) % 4294967296) * ($b)) % $M"
    def rotl(a: String, r: Int): String =
      s"((($a) * ${BigInt(1) << r}) % $M + (($a) // ${BigInt(1) << (64 - r)}))"
    def xor(a: String, b: String): String = s"xor(($a)::HUGEINT, ($b)::HUGEINT)"
    val bcols = (1 to 8).map(k =>
      s"CASE WHEN len(word) >= $k THEN ord(substr(word, $k, 1))::HUGEINT" +
        s" ELSE 0::HUGEINT END AS b$k").mkString(", ")
    val le64 = (1 to 8).map(k => s"b$k * ${BigInt(1) << (8 * (k - 1))}::HUGEINT").mkString(" + ")
    val le32 = (1 to 4).map(k => s"b$k * ${BigInt(1) << (8 * (k - 1))}::HUGEINT").mkString(" + ")
    val byteSteps = (1 to 3).map { j =>
      val bidx = s"CASE WHEN n >= 4 THEN b${math.min(4 + j, 8)} ELSE b$j END"
      val cond = s"((n >= 4 AND n < 8 AND n >= ${4 + j}) OR (n < 4 AND n >= $j))"
      val prevCte = if (j == 1) "s2" else s"s3${j - 1}"
      val prevCol = if (j == 1) "h2" else s"h3${j - 1}"
      s"s3$j AS (SELECT *, CASE WHEN $cond THEN" +
        s" ${mul64(rotl(xor(prevCol, mul64(s"($bidx)", P5)), 11), P1)}" +
        s" ELSE $prevCol END AS h3$j FROM $prevCte)"
    }.mkString(",\n         ")
    s"""WITH occ AS (SELECT doc_id, word, count(*)::HUGEINT AS cnt FROM
           (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
           WHERE word != '' GROUP BY doc_id, word),
         wrds AS (SELECT DISTINCT word FROM occ),
         wb AS (SELECT word, len(word)::HUGEINT AS n, $bcols FROM wrds),
         s0 AS (SELECT *, (42 + $P5 + n) % $M AS h0 FROM wb),
         sk AS (SELECT *, ${mul64(s"($le64)", P2)} AS kw0 FROM s0),
         sk2 AS (SELECT *, ${mul64(rotl("kw0", 31), P1)} AS kw FROM sk),
         s1 AS (SELECT *, CASE WHEN n = 8 THEN
             (${mul64(rotl(xor("h0", "kw"), 27), P1)} + $P4) % $M
           ELSE h0 END AS h1 FROM sk2),
         s2 AS (SELECT *, CASE WHEN n >= 4 AND n < 8 THEN
             (${mul64(rotl(xor("h1", mul64(s"($le32)", P1)), 23), P2)} + $P3) % $M
           ELSE h1 END AS h2 FROM s1),
         $byteSteps,
         f1 AS (SELECT *, ${xor("h33", s"h33 // ${BigInt(1) << 33}")} AS fa FROM s33),
         f2 AS (SELECT *, ${mul64("fa", P2)} AS fb FROM f1),
         f3 AS (SELECT *, ${xor("fb", s"fb // ${BigInt(1) << 29}")} AS fc FROM f2),
         f4 AS (SELECT *, ${mul64("fc", P3)} AS fd FROM f3),
         wh AS (SELECT word, ${xor("fd", s"fd // ${BigInt(1) << 32}")} AS h FROM f4),
         bits AS (SELECT CAST(power(2, i) AS HUGEINT) AS p FROM range(64) t(i)),
         bsum AS (SELECT o.doc_id, b.p,
             sum(CASE WHEN ((w.h // b.p) % 2) = 1 THEN o.cnt ELSE -o.cnt END) AS s
           FROM occ o JOIN wh w USING (word) CROSS JOIN bits b
           GROUP BY o.doc_id, b.p),
         sig AS (SELECT doc_id,
             sum(CASE WHEN s > 0 THEN p ELSE 0::HUGEINT END) AS u
           FROM bsum GROUP BY doc_id)
         SELECT doc_id, CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
             THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS simhash
         FROM sig ORDER BY doc_id"""
  }

  def oracleSql: Map[String, String] = Map(
    "dedup_simhash" -> simhashOracleSql,
    "scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem WHERE l_quantity >= 30
         ORDER BY l_orderkey, l_linenumber""",
    "filter_rlike" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE regexp_matches(text, 'spark (join|merge)')
         ORDER BY doc_id""",
    "regex_extract" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_val
         FROM events ORDER BY event_id""",
    "regex_replace" ->
      """SELECT doc_id, regexp_replace(text, '[aeiou]', '', 'g') AS scrubbed
         FROM documents ORDER BY doc_id""",
    // DuckDB native JSON probes over the identically-synthesized text;
    // json_extract_string strips the quotes exactly like the typed
    // variant_get(..., 'string') does
    "variant_json" ->
      """WITH j AS (SELECT event_id,
             '{"k": ' || json_extract_string(props, '$.k')
             || ', "user": {"id": ' || CAST(user_id AS VARCHAR)
             || '}, "tags": ["t' || CAST(event_id % 3 AS VARCHAR)
             || '", "x"]}' AS doc
           FROM events)
         SELECT event_id,
             CAST(json_extract(doc, '$.k') AS BIGINT) AS k_val,
             CAST(json_extract(doc, '$.user.id') AS BIGINT) AS uid,
             json_extract_string(doc, '$.tags[0]') AS tag0
         FROM j ORDER BY event_id""",
    "project_lower_trim" ->
      """SELECT c_custkey, lower(c_name) AS lname, trim(c_mktsegment) AS seg
         FROM customer ORDER BY c_custkey""",
    "cast_numeric" ->
      """SELECT l_orderkey, l_linenumber,
             CAST(floor(l_quantity) AS BIGINT) AS qty_int,
             CAST(l_partkey AS VARCHAR) AS part_str
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "scalar_arith" ->
      """SELECT l_orderkey, l_linenumber,
             round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge,
             round(-l_extendedprice / 100.0, 4) AS neg_centi
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "string_concat" ->
      """SELECT o_orderkey, concat(o_orderstatus, '#', o_orderpriority) AS tag
         FROM orders ORDER BY o_orderkey""",
    "explode_links" ->
      """SELECT m AS link, count(*) AS cnt
         FROM (SELECT unnest(regexp_extract_all(text, 'spark [a-z]+')) AS m FROM documents)
         GROUP BY m ORDER BY link""",
    "tokenize_explode" ->
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY word""",
    "count_distinct" ->
      "SELECT count(DISTINCT o_custkey) AS n FROM orders",
    "group_collect_list" ->
      """SELECT o_custkey,
             string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS orderkeys
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "inverted_index" ->
      """SELECT word, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY word""",
    // identical oracle on purpose: the salted build's whole contract is
    // bit-identical output to the plain build
    "inverted_index_salted" ->
      """SELECT word, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY word""",
    // deliberately NOT the incremental formulation: the direct
    // recompute over the whole table is the semantic the merge of
    // partials must reproduce
    "agg_incremental" ->
      """SELECT o_orderpriority AS pri, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
         FROM orders GROUP BY o_orderpriority ORDER BY pri""",
    "group_sum" ->
      """SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
             round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS sum_base,
             round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0, 4) AS sum_disc_price,
             round(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) / CAST(count(*) AS DOUBLE), 6) AS avg_qty,
             count(*) AS cnt
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "join_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "join_right" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM orders RIGHT JOIN (SELECT * FROM customer WHERE c_acctbal > 9000) c
           ON o_custkey = c_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 200000)
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 200000)
         ORDER BY c_custkey""",
    "union_all" ->
      """SELECT id, src FROM (
           SELECT c_custkey AS id, 'customer' AS src FROM customer
           UNION ALL
           SELECT s_suppkey AS id, 'supplier' AS src FROM supplier)
         ORDER BY src, id""",
    "sort_desc" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey""",
    "topk_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "window_rank" ->
      """SELECT o_orderkey, o_custkey,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS cust_total
         FROM orders ORDER BY o_orderkey""",
    "window_running" ->
      """SELECT o_orderkey, o_custkey,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
         FROM orders ORDER BY o_orderkey""",
    "join_asof" -> asOfOracleSql,
    // identical oracle: the custom merge-scan operator must reproduce the
    // union+window formulation bit for bit
    "join_asof_merge" -> asOfOracleSql,
    "group_sum_salted" ->
      """SELECT l_returnflag, l_linestatus,
             round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS sum_base
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "join_range" ->
      """SELECT s_suppkey, c_custkey
         FROM supplier, customer
         WHERE s_acctbal >= c_acctbal - 10 AND s_acctbal <= c_acctbal + 10
         ORDER BY s_suppkey, c_custkey""",
    // quantities are integral (TPC-H 1..50), so the BIGINT cast agrees
    // across engines despite Spark truncating and DuckDB rounding
    "join_skew" ->
      """WITH f AS (SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 1
               ELSE l_orderkey END AS k, l_quantity FROM lineitem)
         SELECT o.o_orderpriority, count(*) AS n,
             CAST(sum(CAST(f.l_quantity AS BIGINT)) AS BIGINT) AS qty
         FROM f JOIN orders o ON f.k = o.o_orderkey
         GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",
    "percentile_agg" ->
      """SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "json_extract" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_val
         FROM events ORDER BY event_id""",
    "from_json_struct" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_val
         FROM events ORDER BY event_id""",
    // map semantics recomputed entry-wise from the source columns; the
    // fixed literal keys sort chars < id < lang, so the sorted joins
    // are plain concatenations
    "map_funcs" ->
      """SELECT doc_id,
             'chars=' || CAST(n_chars * 2 AS BIGINT)
               || ',id=' || CAST(doc_id * 2 AS BIGINT) AS doubled,
             CASE WHEN n_chars % 2 = 0 AND doc_id % 2 = 0
                    THEN 'chars=' || n_chars || ',id=' || doc_id
                  WHEN n_chars % 2 = 0 THEN 'chars=' || n_chars
                  WHEN doc_id % 2 = 0 THEN 'id=' || doc_id
                  ELSE '' END AS evens,
             'chars=' || n_chars || ',id=' || doc_id || ',lang='
               || CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS merged,
             CAST(n_chars + doc_id AS BIGINT) AS val_sum
         FROM documents ORDER BY doc_id""",
    "from_xml_struct" ->
      """SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum,
             CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM events GROUP BY event_type ORDER BY event_type""",
    "scan_csv" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey""",
    "scan_json" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM orders ORDER BY o_orderkey""",
    "scan_partitioned" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
         FROM orders
         WHERE year(CAST(o_orderdate AS DATE)) = 1996
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // each version's logical contents recomputed from the scenario's
    // deterministic filters (v3 = compact = v2 by contract)
    "table_log_timetravel" ->
      """WITH base AS (SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
         v0 AS (SELECT * FROM base WHERE o_orderkey % 4 = 0),
         v1 AS (SELECT * FROM base WHERE o_orderkey % 4 IN (0, 1)),
         v2 AS (SELECT * FROM v1 WHERE o_custkey % 10 <> 3)
         SELECT version, n, cents FROM (
           SELECT CAST(0 AS BIGINT) AS version, count(*) AS n,
                  CAST(sum(c) AS BIGINT) AS cents FROM v0
           UNION ALL SELECT 1, count(*), CAST(sum(c) AS BIGINT) FROM v1
           UNION ALL SELECT 2, count(*), CAST(sum(c) AS BIGINT) FROM v2
           UNION ALL SELECT 3, count(*), CAST(sum(c) AS BIGINT) FROM v2)
         ORDER BY version""",
    // head contents = v2 survivors (channel null) + the v4 quarter with
    // its derived channel — the merged-schema union recomputed
    "table_log_evolve" ->
      """WITH base AS (SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
         v2 AS (SELECT o_orderkey, c FROM base
                WHERE o_orderkey % 4 IN (0, 1) AND o_custkey % 10 <> 3),
         hd AS (SELECT 'pre_evolution' AS channel, c FROM v2
                UNION ALL
                SELECT 'ch' || CAST(o_orderkey % 3 AS VARCHAR) AS channel, c
                FROM base WHERE o_orderkey % 4 = 2)
         SELECT channel, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
         FROM hd GROUP BY channel ORDER BY channel""",
    // the second append's exact quarter, row-level
    "table_log_incremental" ->
      """SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey % 4 = 1
         ORDER BY o_orderkey""",
    // the admitted batches are exactly the %3 != 1 orders
    "table_log_constraints" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey % 3 <> 1
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // single-delivery truth + the one matched-upsert bump per %10 key
    "stream_txlog_upsert" ->
      """SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
               + CASE WHEN event_id % 10 = 0 THEN 1000 ELSE 0 END)
               AS BIGINT) AS cents_sum
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the exactly-once sink's final table is the single-delivery truth
    "stream_txlog_sink" ->
      """SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the pre-merge (v3) table is exactly orders; the range read is a
    // plain date filter — pruning must not change results
    "table_log_skipping" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         WHERE o_orderdate BETWEEN '1996-01-01' AND '1996-12-31'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // analyze changes metadata only: the range read is a plain filter
    "table_log_analyze" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         WHERE o_orderdate BETWEEN '1996-01-01' AND '1996-12-31'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // all 12 commit slices land; the checkpoint fold loses nothing
    "table_log_checkpoint" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the clone starts as the merged source table (the table_log_merge
    // truth), then the clone-side delete removes the %1000=1 keys —
    // inserted negatives never match (sign-preserving % both engines)
    "table_log_clone" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderdate,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         upd AS (
           SELECT o_orderkey, o_orderdate, cents + 100000 AS cents
           FROM base WHERE o_orderkey % 500 = 7
           UNION ALL
           SELECT -o_orderkey, o_orderdate, cents
           FROM base WHERE o_orderkey % 500 = 8),
         merged AS (
           SELECT * FROM base
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
           UNION ALL SELECT * FROM upd)
         SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS yr, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS cents,
                CAST(sum(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS inserted
         FROM merged WHERE NOT (o_orderkey % 1000 = 1)
         GROUP BY yr ORDER BY yr""",
    // localization is a layout/ownership change only: the head equals
    // the full MoR stack (delete %7=3, bump %7=4, upsert) plus the
    // owned appended tail of negated %500=9 keys
    "table_log_localize" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c,
               o_custkey FROM orders),
         v2 AS (SELECT * FROM base WHERE o_custkey % 7 <> 3),
         v3 AS (SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_custkey % 7 = 4 THEN c + 111 ELSE c END AS c
           FROM v2),
         u AS (SELECT o_orderkey, o_orderstatus, c + 5000 AS c FROM base
               WHERE o_orderkey % 500 = 7
               UNION ALL
               SELECT -o_orderkey, o_orderstatus, c FROM base
               WHERE o_orderkey % 500 = 8),
         v4 AS (SELECT o_orderkey, o_orderstatus, c FROM v3
               WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
               UNION ALL SELECT o_orderkey, o_orderstatus, c FROM u),
         fin AS (SELECT * FROM v4
               UNION ALL
               SELECT -o_orderkey, o_orderstatus, c FROM base
               WHERE o_orderkey % 500 = 9)
         SELECT o_orderstatus, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents,
             CAST(sum(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS inserted
         FROM fin GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // sidecar coalescing changes no row: the head is orders minus the
    // three tombstoned custkey bands
    "table_log_dv_coalesce" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
         FROM orders WHERE o_custkey % 100 NOT IN (1, 2, 3)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // compaction is a layout change only: the head equals all of orders
    "table_log_compact_small" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the restored head is exactly the pre-delete table
    "table_log_restore" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the 4 append commits are the 4 date slices of orders (the later
    // merge/optimize commits are rewrites, filtered out by op)
    "stream_txlog_source" ->
      """SELECT CAST(v AS BIGINT) AS version, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM (
           SELECT 0 AS v, o_totalprice FROM orders
           WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'
           UNION ALL
           SELECT 1 AS v, o_totalprice FROM orders
           WHERE o_orderdate BETWEEN '1996-01-01' AND '1996-12-31'
           UNION ALL
           SELECT 2 AS v, o_totalprice FROM orders
           WHERE o_orderdate BETWEEN '1997-01-01' AND '1998-12-31'
           UNION ALL
           SELECT 3 AS v, o_totalprice FROM orders
           WHERE o_orderdate BETWEEN '1999-01-01' AND '2001-12-31')
         GROUP BY v ORDER BY version""",
    // the final Complete-mode refresh = the full batch aggregate
    "stream_txlog_complete" ->
      """SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the relay keeps exactly the 4 append-op commits = all of orders
    "stream_txlog_pipeline" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the rollup table's final upsert per window = the batch aggregate
    "stream_txlog_window" ->
      """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us,
             event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events
         GROUP BY hour_us, event_type
         ORDER BY hour_us, event_type""",
    // the pruned arbitrary-predicate read over the pre-merge slices is
    // a plain relational filter
    "table_log_read_where" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
         FROM orders
         WHERE o_orderdate BETWEEN '1996-01-01' AND '1997-06-30'
           AND o_orderkey % 2 = 0
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // every CoW change class replayed relationally: v3 deletes %100=7,
    // v4 updates %100=8 (pre+post), v5 replaces %100=9 (delete+insert)
    "table_log_cdf_cow" ->
      """SELECT CAST(v AS BIGINT) AS version, ct AS change_type,
             count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
         FROM (
           SELECT 3 AS v, 'delete' AS ct,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS c
           FROM orders WHERE o_orderkey % 100 = 7
           UNION ALL
           SELECT 4, 'update_preimage',
                  CAST(round(o_totalprice * 100) AS BIGINT)
           FROM orders WHERE o_orderkey % 100 = 8
           UNION ALL
           SELECT 4, 'update_postimage',
                  CAST(round(o_totalprice * 100) AS BIGINT) + 111
           FROM orders WHERE o_orderkey % 100 = 8
           UNION ALL
           SELECT 5, 'delete',
                  CAST(round(o_totalprice * 100) AS BIGINT)
           FROM orders WHERE o_orderkey % 100 = 9
           UNION ALL
           SELECT 5, 'insert',
                  CAST(round(o_totalprice * 100) AS BIGINT) + 5
           FROM orders WHERE o_orderkey % 100 = 9)
         GROUP BY v, ct ORDER BY version, change_type""",
    // the pruned-DML tape replayed relationally: 1995 deleted, 1996
    // backfilled at +7, 1999+ updated at +11
    "table_log_prune_dml" ->
      """SELECT o_orderstatus, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
         FROM (
           SELECT o_orderstatus,
             CASE WHEN o_orderdate BETWEEN '1996-01-01' AND '1996-12-31'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) + 7
                  WHEN o_orderdate >= '1999-01-01'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) + 11
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS c
           FROM orders
           WHERE NOT (o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'))
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the pushed one-year slice after the MoR delete dropped the
    // o_orderkey % 97 = 3 rows (the rename is name-only), relationally
    "scan_txlog_dsv2" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
         FROM orders
         WHERE o_orderdate BETWEEN '1996-01-01' AND '1996-12-31'
           AND NOT (o_orderkey % 97 = 3)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the three SQL-era writes replayed as a relational union:
    // CTAS evens, INSERT odds (+3), DataFrameWriter slice (+9)
    "table_log_write_sql" ->
      """SELECT o_orderstatus, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
         FROM (
           SELECT o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS c
           FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT) + 3 AS c
           FROM orders WHERE o_orderkey % 2 = 1
           UNION ALL
           SELECT o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT) + 9 AS c
           FROM orders WHERE o_orderkey % 1000 = 7)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the four DML statements replayed relationally: status delete,
    // modulo delete, conditional increment, full-row upsert from the
    // X-status source (matched keys replaced, unmatched inserted)
    "table_log_sql_dml" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         d AS (
           SELECT * FROM base
           WHERE NOT o_orderstatus = 'P' AND NOT (o_orderkey % 97 = 3)),
         u AS (
           SELECT o_orderkey, o_orderstatus,
                  CASE WHEN o_orderkey % 10 = 0 THEN cents + 7
                       ELSE cents END AS cents
           FROM d),
         src AS (
           SELECT o_orderkey, 'X' AS o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT) + 11 AS cents
           FROM orders WHERE o_orderkey % 1000 = 7),
         m AS (
           SELECT * FROM src
           UNION ALL
           SELECT * FROM u
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
         SELECT o_orderstatus, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS cents
         FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // same logical tape as table_log_sql_dml — MoR vs CoW is a PHYSICAL
    // choice, the relational answer must be identical
    "table_log_mor_dml_sql" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         d AS (
           SELECT * FROM base
           WHERE NOT o_orderstatus = 'P' AND NOT (o_orderkey % 97 = 3)),
         u AS (
           SELECT o_orderkey, o_orderstatus,
                  CASE WHEN o_orderkey % 10 = 0 THEN cents + 7
                       ELSE cents END AS cents
           FROM d),
         src AS (
           SELECT o_orderkey, 'X' AS o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT) + 11 AS cents
           FROM orders WHERE o_orderkey % 1000 = 7),
         m AS (
           SELECT * FROM src
           UNION ALL
           SELECT * FROM u
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
         SELECT o_orderstatus, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS cents
         FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the three snapshots replayed relationally: v0 = the CTAS slice
    // (even keys), v1 = all keys, head = v1 minus the deleted status
    "table_log_time_travel_sql" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         v0 AS (SELECT * FROM base WHERE o_orderkey % 2 = 0),
         v1 AS (SELECT * FROM base),
         head AS (SELECT * FROM v1 WHERE o_orderstatus <> 'F')
         SELECT * FROM (
           SELECT 'v0' AS snap, o_orderstatus, count(*) AS n,
                  CAST(sum(cents) AS BIGINT) AS cents
           FROM v0 GROUP BY o_orderstatus
           UNION ALL
           SELECT 'v1' AS snap, o_orderstatus, count(*) AS n,
                  CAST(sum(cents) AS BIGINT) AS cents
           FROM v1 GROUP BY o_orderstatus
           UNION ALL
           SELECT 'head' AS snap, o_orderstatus, count(*) AS n,
                  CAST(sum(cents) AS BIGINT) AS cents
           FROM head GROUP BY o_orderstatus)
         ORDER BY snap, o_orderstatus""",
    // restore(1) logically rolls the DELETE back, and optimize /
    // compact / vacuum are content-neutral physical maintenance — so
    // the surviving logical tape is just CTAS + INSERT = all orders
    "table_log_procedures_sql" ->
      """SELECT o_orderstatus, count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the partition tape replayed relationally: drop status P, bump
    // status F by the replaceWhere's +1, keep O untouched
    "table_log_partitioned" ->
      """SELECT o_orderstatus, count(*) AS n, CAST(sum(
           CAST(round(o_totalprice * 100) AS BIGINT) +
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
             AS cents
         FROM orders WHERE o_orderstatus <> 'P'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // maintenance is content-neutral: the statement tape ends at the
    // same full-orders aggregation the procedures tape ends at
    "table_log_maintenance_sql" ->
      """SELECT o_orderstatus, count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // every clause replayed relationally: matched rows split by the
    // %12 condition into updated-vs-deleted, not-matched target rows
    // run the two NMBS clauses (first-match-wins: the %10=2 delete
    // wins over the %10=4 update only by disjointness here), unmatched
    // source rows insert under the status condition with a literal
    // status
    "table_log_merge_shapes_sql" ->
      """WITH base AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         t0 AS (SELECT * FROM base WHERE k % 2 = 0),
         src AS (SELECT k, st, cents + 5 AS cents FROM base WHERE k % 3 = 0),
         m AS (
           SELECT t0.k, t0.st, src.cents + 100 AS cents
           FROM t0 JOIN src ON t0.k = src.k WHERE t0.k % 12 = 0),
         nmbs AS (
           SELECT k, st,
                  CASE WHEN k % 10 = 4 THEN cents - 1 ELSE cents END AS cents
           FROM t0
           WHERE k NOT IN (SELECT k FROM src) AND k % 10 <> 2),
         ins AS (
           SELECT src.k, 'N' AS st, src.cents FROM src
           WHERE src.k NOT IN (SELECT k FROM t0) AND src.st = 'O'),
         f AS (SELECT * FROM m UNION ALL SELECT * FROM nmbs
               UNION ALL SELECT * FROM ins)
         SELECT st AS o_orderstatus, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS cents
         FROM f GROUP BY st ORDER BY st""",
    // serial order ⟨delete, append⟩: the base slice loses its F rows,
    // the concurrently-appended slice keeps ALL rows (marker +5) —
    // including its F rows, which landed after the delete's snapshot
    "table_log_occ_retry" ->
      """SELECT o_orderstatus, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
         FROM (
           SELECT o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS c
           FROM orders
           WHERE o_orderkey % 3 = 0 AND o_orderstatus <> 'F'
           UNION ALL
           SELECT o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT) + 5 AS c
           FROM orders WHERE o_orderkey % 1000 = 1)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // skipRewrites delivers exactly the three append commits (0, 1, 4);
    // the optimize/delete rewrites at v2/v3 contribute nothing
    "stream_txlog_maintain" ->
      """SELECT CAST(v AS BIGINT) AS version, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
         FROM (
           SELECT 0 AS v, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT 1 AS v, o_totalprice FROM orders WHERE o_orderkey % 2 = 1
           UNION ALL
           SELECT 4 AS v, o_totalprice FROM orders WHERE o_orderkey % 500 = 8)
         GROUP BY v ORDER BY version""",
    // generation 1 = even event_ids (no tag), generation 2 = odd ids
    // (tagged src='evt'): tagged counts only the evolved generation
    "stream_txlog_evolve" ->
      """SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS tagged
         FROM events GROUP BY event_type ORDER BY event_type""",
    // merge-on-read delete replayed relationally: v2 = orders minus
    // the tombstoned custkey band
    "table_log_dv" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
         FROM orders WHERE o_custkey % 7 <> 3
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // stacked MoR commits replayed: delete band %7=3, then bump %7=4
    "table_log_update_mor" ->
      """WITH v2 AS (SELECT o_orderstatus, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c
           FROM orders WHERE o_custkey % 7 <> 3)
         SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CASE WHEN o_custkey % 7 = 4 THEN c + 111 ELSE c END)
               AS BIGINT) AS cents
         FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // v1 = the 1995 + 1996 date-slice appends, grouped by order year
    "table_log_timetravel_ts" ->
      """SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS yr,
             count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
         FROM orders WHERE o_orderdate BETWEEN '1995-01-01' AND '1996-12-31'
         GROUP BY yr ORDER BY yr""",
    // every row-level change class of the MoR stack recomputed:
    // v2 deletes the %7=3 band (original cents); v3 pre/post images of
    // the %7=4 band (c vs c+111); v4 deletes the matched %500=7 rows at
    // their v3 values and inserts the whole updates frame
    "table_log_cdf_rich" ->
      """WITH base AS (SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
         v2d AS (SELECT c FROM base WHERE o_custkey % 7 = 3),
         u3 AS (SELECT c FROM base WHERE o_custkey % 7 <> 3
                AND o_custkey % 7 = 4),
         v3 AS (SELECT o_orderkey,
               CASE WHEN o_custkey % 7 = 4 THEN c + 111 ELSE c END AS c
           FROM base WHERE o_custkey % 7 <> 3),
         m4 AS (SELECT c FROM v3 WHERE o_orderkey % 500 = 7),
         u4 AS (SELECT c + 5000 AS c FROM base WHERE o_orderkey % 500 = 7
                UNION ALL SELECT c FROM base WHERE o_orderkey % 500 = 8),
         feed AS (
           SELECT 2 AS v, 'delete' AS t, c FROM v2d
           UNION ALL SELECT 3, 'update_preimage', c FROM u3
           UNION ALL SELECT 3, 'update_postimage', c + 111 FROM u3
           UNION ALL SELECT 4, 'delete', c FROM m4
           UNION ALL SELECT 4, 'insert', c FROM u4)
         SELECT CAST(v AS BIGINT) AS version, t AS change_type,
             count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
         FROM feed GROUP BY v, t ORDER BY version, change_type""",
    // the STREAMED feed also carries v0/v1's append inserts (the
    // stream starts at version 0; the batch key reads from version 2)
    "stream_txlog_cdf" ->
      """WITH base AS (SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
         v2d AS (SELECT c FROM base WHERE o_custkey % 7 = 3),
         u3 AS (SELECT c FROM base WHERE o_custkey % 7 <> 3
                AND o_custkey % 7 = 4),
         v3 AS (SELECT o_orderkey,
               CASE WHEN o_custkey % 7 = 4 THEN c + 111 ELSE c END AS c
           FROM base WHERE o_custkey % 7 <> 3),
         m4 AS (SELECT c FROM v3 WHERE o_orderkey % 500 = 7),
         u4 AS (SELECT c + 5000 AS c FROM base WHERE o_orderkey % 500 = 7
                UNION ALL SELECT c FROM base WHERE o_orderkey % 500 = 8),
         feed AS (
           SELECT 0 AS v, 'insert' AS t, c FROM base WHERE o_orderkey % 2 = 0
           UNION ALL SELECT 1, 'insert', c FROM base WHERE o_orderkey % 2 = 1
           UNION ALL SELECT 2, 'delete', c FROM v2d
           UNION ALL SELECT 3, 'update_preimage', c FROM u3
           UNION ALL SELECT 3, 'update_postimage', c + 111 FROM u3
           UNION ALL SELECT 4, 'delete', c FROM m4
           UNION ALL SELECT 4, 'insert', c FROM u4)
         SELECT CAST(v AS BIGINT) AS version, t AS change_type,
             count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
         FROM feed GROUP BY v, t ORDER BY version, change_type""",
    // the full MoR stack replayed: delete band %7=3, bump %7=4, then
    // upsert — matched keys replaced by the updates frame, unmatched
    // updates (incl. keys deleted at v2) inserted
    "table_log_merge_mor" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c,
               o_custkey FROM orders),
         v2 AS (SELECT * FROM base WHERE o_custkey % 7 <> 3),
         v3 AS (SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_custkey % 7 = 4 THEN c + 111 ELSE c END AS c
           FROM v2),
         u AS (SELECT o_orderkey, o_orderstatus, c + 5000 AS c FROM base
               WHERE o_orderkey % 500 = 7
               UNION ALL
               SELECT -o_orderkey, o_orderstatus, c FROM base
               WHERE o_orderkey % 500 = 8),
         v4 AS (SELECT o_orderkey, o_orderstatus, c FROM v3
               WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
               UNION ALL SELECT o_orderkey, o_orderstatus, c FROM u)
         SELECT o_orderstatus, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents,
             CAST(sum(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS inserted
         FROM v4 GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the incremental MV must equal the full head-state recompute —
    // same v4 replay as table_log_merge_mor, without the insert marker
    "table_log_mv_refresh" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c,
               o_custkey FROM orders),
         v2 AS (SELECT * FROM base WHERE o_custkey % 7 <> 3),
         v3 AS (SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_custkey % 7 = 4 THEN c + 111 ELSE c END AS c
           FROM v2),
         u AS (SELECT o_orderkey, o_orderstatus, c + 5000 AS c FROM base
               WHERE o_orderkey % 500 = 7
               UNION ALL
               SELECT -o_orderkey, o_orderstatus, c FROM base
               WHERE o_orderkey % 500 = 8),
         v4 AS (SELECT o_orderkey, o_orderstatus, c FROM v3
               WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
               UNION ALL SELECT o_orderkey, o_orderstatus, c FROM u)
         SELECT o_orderstatus, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
         FROM v4 GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the streamed MV must ALSO equal the full head-state recompute
    "stream_mv_refresh" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c,
               o_custkey FROM orders),
         v2 AS (SELECT * FROM base WHERE o_custkey % 7 <> 3),
         v3 AS (SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_custkey % 7 = 4 THEN c + 111 ELSE c END AS c
           FROM v2),
         u AS (SELECT o_orderkey, o_orderstatus, c + 5000 AS c FROM base
               WHERE o_orderkey % 500 = 7
               UNION ALL
               SELECT -o_orderkey, o_orderstatus, c FROM base
               WHERE o_orderkey % 500 = 8),
         v4 AS (SELECT o_orderkey, o_orderstatus, c FROM v3
               WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
               UNION ALL SELECT o_orderkey, o_orderstatus, c FROM u)
         SELECT o_orderstatus, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
         FROM v4 GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the logical view after rename+update+drop = the same update
    // replay, under the renamed label
    "table_log_rename" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CASE WHEN o_custkey % 10 = 3
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) + 7
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
               AS BIGINT) AS revenue
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // update replayed relationally
    "table_log_update" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CASE WHEN o_custkey % 10 = 3
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) + 5000
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
               AS BIGINT) AS cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // optimize_where is a logical no-op: contents = all four slices
    "table_log_optimize_where" ->
      """SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS yr, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY yr ORDER BY yr""",
    // the generated contract replayed relationally: bucket is
    // cents DIV 1000 for every row regardless of which side wrote it
    "table_log_generated" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS cents,
             CAST(sum(CAST(floor(cents / 1000) AS BIGINT)) AS BIGINT) AS buckets
         FROM (SELECT o_orderstatus,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the default replayed relationally: even keys carried 'seeded',
    // odd keys got the metadata default at write time
    "table_log_default" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'seeded'
                ELSE 'defaulted' END AS src,
             count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY 1 ORDER BY src""",
    // enforcement commits are metadata-only: contents = both halves
    // (the violating batch was refused before any commit)
    "table_log_add_constraint" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the protocol commit is metadata-only: contents = both halves
    "table_log_protocol" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // replaceWhere replayed relationally: rows in the frame restated
    // with cents+1000, everything else untouched
    "table_log_replace_where" ->
      """SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS yr, count(*) AS n,
             CAST(sum(CASE WHEN o_orderdate BETWEEN '1996-01-01' AND '1997-06-30'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) + 1000
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
               AS BIGINT) AS cents
         FROM orders GROUP BY yr ORDER BY yr""",
    // update replay + the custkey band; z-order pruning must not
    // change results
    "table_log_zorder" ->
      """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CASE WHEN o_custkey % 10 = 3
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) + 5000
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
               AS BIGINT) AS cents
         FROM orders WHERE o_custkey BETWEEN 30 AND 59
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // appends after v1 are the 1997-98 and 1999-2001 date slices
    "table_log_cdf" ->
      """SELECT CAST(v AS BIGINT) AS version, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM (
           SELECT 2 AS v, o_totalprice FROM orders
           WHERE o_orderdate BETWEEN '1997-01-01' AND '1998-12-31'
           UNION ALL
           SELECT 3 AS v, o_totalprice FROM orders
           WHERE o_orderdate BETWEEN '1999-01-01' AND '2001-12-31')
         GROUP BY v ORDER BY version""",
    // the scenario's commit sequence, from first principles
    "table_log_history" ->
      """SELECT CAST(v AS BIGINT) AS version, op FROM (VALUES
           (0, 'append'), (1, 'append'), (2, 'append'), (3, 'append'),
           (4, 'merge'), (5, 'optimize')) t(v, op)
         ORDER BY version""",
    // pre-merge (v3) contents are exactly orders; the point lookups are
    // a plain IN filter — bloom pruning must not change results
    "table_log_bloom" ->
      """SELECT o_orderkey, o_custkey,
             substr(CAST(o_orderdate AS VARCHAR), 1, 10) AS o_orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey IN (777, 778, 779)
         ORDER BY o_orderkey""",
    // the optimize is a logical no-op over the merged head: replay the
    // merge, filter the key band, same per-year rollup
    "table_log_optimize" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderdate,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         upd AS (
           SELECT o_orderkey, o_orderdate, cents + 100000 AS cents
           FROM base WHERE o_orderkey % 500 = 7
           UNION ALL
           SELECT -o_orderkey, o_orderdate, cents
           FROM base WHERE o_orderkey % 500 = 8),
         merged AS (
           SELECT * FROM base
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
           UNION ALL SELECT * FROM upd)
         SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS yr,
                count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
         FROM merged WHERE o_orderkey BETWEEN 300 AND 499
         GROUP BY yr ORDER BY yr""",
    // relational replay of the CoW merge: update %500=7, insert
    // negated %500=8, then the same per-year rollup
    "table_log_merge" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderdate,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         upd AS (
           SELECT o_orderkey, o_orderdate, cents + 100000 AS cents
           FROM base WHERE o_orderkey % 500 = 7
           UNION ALL
           SELECT -o_orderkey, o_orderdate, cents
           FROM base WHERE o_orderkey % 500 = 8),
         merged AS (
           SELECT * FROM base
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
           UNION ALL SELECT * FROM upd)
         SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS yr, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS cents,
                CAST(sum(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS inserted
         FROM merged GROUP BY yr ORDER BY yr""",
    // blob bytes rebuilt from the index formula — no filesystem access
    "scan_binaryfile" ->
      """SELECT CAST(i AS BIGINT) AS blob_id,
             CAST(strlen(repeat('graft-blob-' || i || ';', i % 5 + 1))
                  AS BIGINT) AS length,
             md5(repeat('graft-blob-' || i || ';', i % 5 + 1)) AS digest
         FROM range(40) t(i) ORDER BY blob_id""",
    "scan_orc" ->
      """SELECT s_suppkey, s_name, s_nationkey
         FROM supplier WHERE s_acctbal > 0 ORDER BY s_suppkey""",
    "scan_json_corrupt" ->
      """SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
             CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
             CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN n_chars ELSE 0 END) AS BIGINT) AS sum_chars
         FROM documents""",
    "join_null_safe" ->
      """SELECT o_orderkey, tag FROM (
           SELECT o_orderkey, nullif(o_orderstatus, 'O') AS k FROM orders) o
         JOIN (SELECT k, coalesce(k, 'open') AS tag FROM
                (SELECT DISTINCT nullif(o_orderstatus, 'O') AS k FROM orders)) d
           ON o.k IS NOT DISTINCT FROM d.k
         ORDER BY o_orderkey""",
    "explode_pos" ->
      """SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.word AS word FROM (
           SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
               i -> {'pos': i, 'word': w[i]})) AS s
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents WHERE doc_id < 50))
         ORDER BY doc_id, pos""",
    "set_intersect" ->
      """SELECT id FROM (
           SELECT c_custkey AS id FROM customer
           INTERSECT
           SELECT o_custkey AS id FROM orders WHERE o_totalprice > 250000)
         ORDER BY id""",
    "set_except" ->
      """SELECT id FROM (
           SELECT c_custkey AS id FROM customer
           EXCEPT
           SELECT o_custkey AS id FROM orders WHERE o_totalprice > 250000)
         ORDER BY id""",
    "explode_outer" ->
      """WITH e AS (SELECT doc_id,
             regexp_extract_all(text, 'spark|merge') AS hits FROM documents)
         SELECT doc_id,
             unnest(CASE WHEN len(hits) = 0
                         THEN [CAST(NULL AS VARCHAR)] ELSE hits END) AS hit
         FROM e ORDER BY doc_id, hit NULLS FIRST""",
    "decimal_sum" ->
      """SELECT o_orderpriority,
             CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(14,2))) AS VARCHAR) AS total,
             count(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "date_arith" ->
      """SELECT o_orderkey,
             strftime(dt, '%Y-%m-%d') AS d,
             strftime(dt + INTERVAL 30 DAY, '%Y-%m-%d') AS d30,
             strftime(date_trunc('month', dt), '%Y-%m-%d') AS mstart,
             CAST(dt - DATE '1995-01-01' AS BIGINT) AS since
         FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS dt FROM orders)
         ORDER BY o_orderkey""",
    "histogram_fixed" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
             count(*) AS n
         FROM orders GROUP BY 1 ORDER BY bucket""",
    "set_except_all" ->
      """SELECT id, count(*) AS n FROM (
           SELECT l_partkey AS id FROM lineitem WHERE l_quantity >= 45
           EXCEPT ALL
           SELECT l_partkey AS id FROM lineitem WHERE l_quantity >= 48)
         GROUP BY id ORDER BY id""",
    "set_intersect_all" ->
      """SELECT id, count(*) AS n FROM (
           SELECT l_partkey AS id FROM lineitem WHERE l_quantity >= 45
           INTERSECT ALL
           SELECT l_partkey AS id FROM lineitem WHERE l_discount >= 0.05)
         GROUP BY id ORDER BY id""",
    "stats_agg" ->
      """WITH m AS (SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
             CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
             CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)
                      * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
             round(CAST(sxy AS DOUBLE) / n
               - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n), 6) AS cov_pop,
             round((CAST(sxy AS DOUBLE) / n
                 - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
               / sqrt((CAST(sxx AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                 * (CAST(syy AS DOUBLE) / n
                   - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))), 6) AS corr
         FROM m ORDER BY l_returnflag""",
    "rollup_agg" ->
      """SELECT n_name, c_mktsegment, count(*) AS cnt,
             round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS acct_total
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY ROLLUP (n_name, c_mktsegment)
         ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""",
    "cube_agg" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
             round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS price_total
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "events_window" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, count(*) AS n,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS v
         FROM events
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "sessionize" ->
      """WITH b AS (
           SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events),
         f AS (
           SELECT *, CASE WHEN t_us - lag(t_us) OVER
               (PARTITION BY user_id ORDER BY t_us, event_id) > 1800000000
             THEN 1 ELSE 0 END AS flag FROM b),
         s AS (
           SELECT *, sum(flag) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id FROM f)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             count(*) AS n_events, min(t_us) AS start_us, max(t_us) AS end_us
         FROM s GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "window_ntile" ->
      """SELECT o_orderkey, o_orderstatus,
             CAST(ntile(4) OVER (PARTITION BY o_orderstatus
                                 ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
         FROM orders ORDER BY o_orderkey""",
    // identical moment arithmetic: m = tsum/7, sd = sqrt(greatest(0,
    // tsum2/7 - m*m)) — one float rounding per op, same sequence
    "anomaly_zscore" ->
      """WITH daily AS (
           SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         t AS (SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             CAST(sum(x) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS tsum,
             CAST(sum(x * x) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS tsum2
           FROM daily),
         z AS (SELECT event_type, day, x,
             CAST(tsum AS DOUBLE) / 7.0 AS m,
             sqrt(greatest(0.0, CAST(tsum2 AS DOUBLE) / 7.0
               - (CAST(tsum AS DOUBLE) / 7.0) * (CAST(tsum AS DOUBLE) / 7.0))) AS sd
           FROM t WHERE rn > 7)
         SELECT event_type, day, x,
             CASE WHEN sd > 0
                  THEN round((CAST(x AS DOUBLE) - m) / sd, 6) END AS z,
             CAST(CASE WHEN sd > 0 AND abs(CAST(x AS DOUBLE) - m) > 2.0 * sd
                       THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
         FROM z ORDER BY event_type, day""",
    // same sessionization CTE as `sessionize`; trigram expansion via
    // list_transform + unnest, inclusive list_slice = 3 elements
    "session_paths" ->
      """WITH b AS (
           SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events),
         f AS (
           SELECT *, CASE WHEN t_us - lag(t_us) OVER
               (PARTITION BY user_id ORDER BY t_us, event_id) > 1800000000
             THEN 1 ELSE 0 END AS flag FROM b),
         s AS (
           SELECT *, sum(flag) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id FROM f),
         seq AS (
           SELECT user_id, session_id,
               list(event_type ORDER BY t_us, event_id) AS types
           FROM s GROUP BY user_id, session_id),
         g AS (
           SELECT unnest(list_transform(generate_series(1, len(types) - 2),
               i -> array_to_string(list_slice(types, i, i + 2), '>'))) AS path
           FROM seq WHERE len(types) >= 3)
         SELECT path, count(*) AS n FROM g
         GROUP BY path ORDER BY n DESC, path LIMIT 20""",
    // greedy stage walk mirrored with chained CTEs; a missed stage makes
    // every later bound NULL (x > NULL is not true → list_filter drops)
    "funnel_stages" ->
      """WITH u AS (
           SELECT user_id,
             list_sort(list(epoch_us(CAST(ts AS TIMESTAMP)))
                       FILTER (WHERE event_type = 'signup')) AS a0,
             list_sort(list(epoch_us(CAST(ts AS TIMESTAMP)))
                       FILTER (WHERE event_type = 'view')) AS a1,
             list_sort(list(epoch_us(CAST(ts AS TIMESTAMP)))
                       FILTER (WHERE event_type = 'click')) AS a2,
             list_sort(list(epoch_us(CAST(ts AS TIMESTAMP)))
                       FILTER (WHERE event_type = 'purchase')) AS a3
           FROM events
           WHERE event_type IN ('signup', 'view', 'click', 'purchase')
           GROUP BY user_id),
         s0 AS (SELECT user_id, a1, a2, a3, a0[1] AS t0 FROM u),
         s1 AS (SELECT user_id, a2, a3, t0,
             list_filter(a1, x -> x > t0)[1] AS t1 FROM s0),
         s2 AS (SELECT user_id, a3, t0, t1,
             list_filter(a2, x -> x > t1)[1] AS t2 FROM s1),
         s3 AS (SELECT user_id, t0, t1, t2,
             list_filter(a3, x -> x > t2)[1] AS t3 FROM s2)
         SELECT user_id,
             CAST(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage_reached,
             t0 AS t_first, coalesce(t3, t2, t1, t0) AS t_last
         FROM s3 WHERE t0 IS NOT NULL ORDER BY user_id""",
    "cohort_retention" ->
      """WITH uw AS (
           SELECT DISTINCT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
           FROM events),
         f AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id)
         SELECT f.cohort_wk, uw.wk - f.cohort_wk AS week_offset,
             CAST(count(DISTINCT uw.user_id) AS BIGINT) AS n_users
         FROM uw JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // open/close picked by row_number over the same (t_us, event_id)
    // total order the Spark struct min/max encodes
    "events_ohlc" ->
      """WITH b AS (
           SELECT event_type, event_id, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
               epoch_us(CAST(ts AS TIMESTAMP))
                 - epoch_us(CAST(ts AS TIMESTAMP)) % 3600000000 AS bar_us
           FROM events),
         r AS (
           SELECT *,
               row_number() OVER (PARTITION BY bar_us, event_type
                                  ORDER BY t_us, event_id) AS rn_a,
               row_number() OVER (PARTITION BY bar_us, event_type
                                  ORDER BY t_us DESC, event_id DESC) AS rn_d
           FROM b)
         SELECT bar_us, event_type,
             max(CASE WHEN rn_a = 1 THEN value END) AS open,
             max(CASE WHEN rn_d = 1 THEN value END) AS close,
             max(value) AS high, min(value) AS low, count(*) AS n,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS total
         FROM r GROUP BY 1, 2 ORDER BY 1, 2""",
    // island flag compares against the RUNNING max end of all previous
    // intervals (a long interval can swallow several later short ones)
    "interval_merge" ->
      """WITH b AS (
           SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
               epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS e_us
           FROM events),
         f AS (
           SELECT *, CASE WHEN s_us > coalesce(
               max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(-9223372036854775808 AS BIGINT)) THEN 1 ELSE 0 END AS nw
           FROM b),
         i AS (
           SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS island
           FROM f)
         SELECT user_id, CAST(island AS BIGINT) AS island,
             min(s_us) AS start, max(e_us) AS "end", count(*) AS n_src
         FROM i GROUP BY 1, 2 ORDER BY 1, 2""",
    "gapfill_ffill" ->
      """WITH d AS (
           SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
               round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS v_day
           FROM events GROUP BY 1, 2),
         sp AS (
           SELECT user_id, unnest(generate_series(d0, d1)) AS day
           FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
                 FROM d GROUP BY user_id)),
         j AS (
           SELECT sp.user_id, sp.day, d.v_day
           FROM sp LEFT JOIN d USING (user_id, day))
         SELECT user_id, day,
             last_value(v_day IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill,
             CAST(CASE WHEN v_day IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
         FROM j ORDER BY user_id, day""",
    "dedup_temporal" ->
      """WITH b AS (
           SELECT user_id, event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
           FROM events),
         f AS (
           SELECT *, CASE WHEN t_us - lag(t_us) OVER
               (PARTITION BY user_id, event_type ORDER BY t_us, event_id)
               > 3600000000 THEN 1 ELSE 0 END AS nw
           FROM b),
         s AS (
           SELECT *, sum(nw) OVER (PARTITION BY user_id, event_type
                                   ORDER BY t_us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS burst
           FROM f),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY user_id, event_type, burst
                                        ORDER BY t_us, event_id) AS rn
           FROM s)
         SELECT user_id, event_type, CAST(burst AS BIGINT) AS burst,
             max(CASE WHEN rn = 1 THEN event_id END) AS kept_id,
             max(CASE WHEN rn = 1 THEN t_us END) AS kept_ts,
             count(*) AS n_absorbed
         FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
         FROM documents GROUP BY md5(text) ORDER BY keep_id""",
    "dedup_minhash" ->
      s"""WITH $minhashOracleCtes
         SELECT doc_a, doc_b FROM cand
         ORDER BY doc_a, doc_b""",
    "dedup_ngram" ->
      s"""WITH $minhashOracleCtes,
         j AS (
           SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(sa.sgl, sb.sgl)) AS BIGINT) AS i,
               CAST(len(sa.sgl) + len(sb.sgl) - len(list_intersect(sa.sgl, sb.sgl)) AS BIGINT) AS u
           FROM cand c
           JOIN sh sa ON sa.doc_id = c.doc_a
           JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / u, 6) AS jaccard
         FROM j WHERE CAST(i AS DOUBLE) / u >= 0.5
         ORDER BY doc_a, doc_b""",
    // EXACT ground truth: all 40-char grams joined on gram text — the
    // winnowing + extend-verify pipeline must reproduce it bit-for-bit
    "dedup_substring" ->
      """WITH g AS (SELECT doc_id, substr(text, i, 40) AS gram
           FROM documents,
             LATERAL (SELECT unnest(generate_series(1, len(text) - 39)) AS i) ix)
         SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
         ORDER BY da, db""",
    // brute-force ALL-pairs Jaccard — deliberately NOT the prefix-filter
    // re-derivation: hash-match proves the pruning loses nothing
    "dedup_prefix" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sgl FROM tok),
         nz AS (SELECT doc_id, sgl FROM sh WHERE len(sgl) > 0),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.sgl, b.sgl)) AS BIGINT) AS i,
             CAST(len(a.sgl) + len(b.sgl)
                  - len(list_intersect(a.sgl, b.sgl)) AS BIGINT) AS u
           FROM nz a JOIN nz b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / u, 6) AS jaccard
         FROM p WHERE CAST(i AS DOUBLE) / u >= 0.5
         ORDER BY doc_a, doc_b""",
    // same candidate CTEs, containment verify (min-size denominator)
    "dedup_containment" ->
      s"""WITH $minhashOracleCtes,
         j AS (
           SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(sa.sgl, sb.sgl)) AS BIGINT) AS i,
               CAST(least(len(sa.sgl), len(sb.sgl)) AS BIGINT) AS m
           FROM cand c
           JOIN sh sa ON sa.doc_id = c.doc_a
           JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / m, 6) AS containment
         FROM j WHERE CAST(i AS DOUBLE) / m >= 0.8
         ORDER BY doc_a, doc_b""",
    // same candidate CTEs, character-level Levenshtein verify; the
    // integer permille threshold mirrors the Spark side exactly
    "dedup_edit" ->
      s"""WITH $minhashOracleCtes
         SELECT c.doc_a, c.doc_b,
             CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
         FROM cand c
         JOIN documents da ON da.doc_id = c.doc_a
         JOIN documents db ON db.doc_id = c.doc_b
         WHERE CAST(levenshtein(da.text, db.text) AS BIGINT) * 1000
             <= 300 * greatest(length(da.text), length(db.text))
         ORDER BY doc_a, doc_b""",
    // DuckDB's jaro_winkler_similarity IS the 0.7-boost-threshold
    // variant the native expression implements (byte-level on ASCII
    // names); filter on the 6dp-rounded value on both sides so the
    // threshold test sees identical doubles
    "fuzzy_join" ->
      s"""WITH $fuzzyPairsCtes
         SELECT a_key, b_key, jw FROM fcand ORDER BY a_key, b_key""",
    // same pair evidence, closed transitively — the recursive min-label
    // CTE cross-checks the large-star/small-star fixpoint over the
    // Jaro-Winkler pair graph
    "fuzzy_clusters" ->
      s"""WITH RECURSIVE $fuzzyPairsCtes,
         ${ccClosureCtes("fcand", "a_key", "b_key")}
         SELECT node AS p_partkey, component FROM comp ORDER BY p_partkey""",
    // same closure, then per-field survivorship: arg_min for the oldest
    // name, plain maxima for the rest — DuckDB's arg_min ≡ the Spark
    // min(struct) monoid because p_partkey is unique
    "golden_record" ->
      s"""WITH RECURSIVE $fuzzyPairsCtes,
         ${ccClosureCtes("fcand", "a_key", "b_key")},
         lab AS (SELECT p.p_partkey,
             coalesce(c.component, p.p_partkey) AS entity_id, p.p_name,
             CAST(round(p.p_retailprice * 100) AS BIGINT) AS cents,
             CAST(p.p_size AS BIGINT) AS psize
           FROM part p LEFT JOIN comp c ON c.node = p.p_partkey)
         SELECT entity_id, arg_min(p_name, p_partkey) AS canon_name,
             max(cents) AS max_price_cents, max(psize) AS max_size,
             count(*) AS n_members
         FROM lab GROUP BY entity_id ORDER BY entity_id""",
    // the full-corpus mining restricted to pairs touching the new batch —
    // exactly what the incremental path must reproduce
    "dedup_incremental" ->
      s"""WITH $minhashOracleCtes
         SELECT doc_a, doc_b FROM cand
         WHERE doc_a >= 400 OR doc_b >= 400
         ORDER BY doc_a, doc_b""",
    // Transitive closure over the MinHash candidate pairs: the recursive
    // min-label CTE is a formulation-independent cross-check of the
    // large-star/small-star fixpoint (same components, totally different
    // algorithm).
    "neardup_components" ->
      s"""WITH RECURSIVE $minhashOracleCtes,
         ${ccClosureCtes("cand", "doc_a", "doc_b")}
         SELECT node AS doc_id, component FROM comp ORDER BY doc_id""",
    // Full near-dup curation: ngram-verified pairs → closure → cluster
    // keeper (node = component min) + the curate_corpus quality gates.
    // Lang CTEs carry an 'l' prefix — their tokenizer lowercases, the
    // minhash tok must not.
    "curate_corpus_neardup" ->
      s"""WITH RECURSIVE $ngramVerifiedCtes,
         ${ccClosureCtes("verified", "doc_a", "doc_b")},
         ${langOracleCtes("l")},
         lang AS (SELECT doc_id,
             CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
           FROM lbest WHERE rn = 1),
         m AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             round(CAST(len(list_filter(string_split(text, ' '),
                 w -> w IN ('the','a','of','to','and','in','is','it'))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS stop_ratio
           FROM documents)
         SELECT m.doc_id, m.n_tokens, m.stop_ratio, l.lang_pred
         FROM m JOIN lang l ON l.doc_id = m.doc_id
         LEFT JOIN comp ON comp.node = m.doc_id
         WHERE coalesce(comp.component, m.doc_id) = m.doc_id
           AND m.n_tokens >= 10 AND m.stop_ratio > 0 AND l.lang_pred = 'en'
         ORDER BY m.doc_id""",
    // The portable SimHash oracle rebuilds the 60-bit signature exactly as
    // Dedup.simhashPortable does: bit 4j+k of the signature = bit k of hex
    // digit j+1 of md5(word), occurrence-weighted. The 60 per-bit sums and
    // the signature assembly are generated, not hand-written.
    "dedup_simhash_pairs" ->
      s"""$simhashOracleCtes,
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM bands x JOIN bands y
             ON x.band_id = y.band_id AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         SELECT c.doc_a, c.doc_b, CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
         FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
         WHERE bit_count(xor(sa.sig, sb.sig)) <= 3
         ORDER BY doc_a, doc_b""",
    "dedup_bucket_overflow" ->
      s"""$simhashOracleCtes
         SELECT CAST(band_id AS BIGINT) AS band_id, bkey, count(*) AS bucket_size
         FROM bands GROUP BY band_id, bkey HAVING count(*) > 1
         ORDER BY band_id, bkey""",
    // The decode-stub checksum is ((acc*31 + byte) % 1000000007) folded
    // over the utf-8 payload bytes; on the (spec-asserted) ASCII corpus
    // byte == unicode(char), so DuckDB reproduces it character by
    // character. list_reduce without an init seeds with the first element
    // — identical to a 0-seeded fold since 0*31 + b0 = b0.
    "multimodal_features" ->
      """SELECT doc_id AS media_id,
             CAST(length(text) AS BIGINT) AS n_bytes,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE list_reduce(
                    list_transform(generate_series(1, length(text)),
                                   i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)),
                    (acc, c) -> (acc * 31 + c) % 1000000007)
             END AS checksum
         FROM documents ORDER BY media_id""",
    // The decoded-pixel checksum: channel c of pixel (x,y) of image id is
    // (id + 7x + 13y + 29c) mod 256 (the Multimodal.pixelValue closed
    // form); the fold walks flattened index i in row-major (y, x, RGB)
    // order. Spark reaches the same numbers THROUGH ImageIO decode of a
    // real BMP — the roundtrip is what the hash match certifies.
    "multimodal_decode" ->
      """WITH m AS (SELECT doc_id AS media_id,
             CAST(doc_id % 16 + 1 AS INT) AS width,
             CAST(doc_id % 12 + 1 AS INT) AS height
           FROM documents)
         SELECT media_id, width, height,
             CAST(width * height AS BIGINT) AS n_pixels,
             list_reduce([CAST(0 AS BIGINT)] || list_transform(
                 generate_series(0, width * height * 3 - 1),
                 i -> (media_id + ((i % (width * 3)) // 3) * 7
                       + (i // (width * 3)) * 13 + (i % 3) * 29) % 256),
               (acc, v) -> (acc * 31 + v) % 1000000007) AS checksum
         FROM m ORDER BY media_id""",
    // sampled-frame pixel fold: frame 2s of video id uses pixelValue
    // with id + 1e6·2s; flat index i walks (frame, y, x, channel)
    "multimodal_video" ->
      """WITH m AS (SELECT doc_id AS media_id,
             CAST(doc_id % 8 + 1 AS BIGINT) AS w,
             CAST(doc_id % 6 + 1 AS BIGINT) AS h,
             CAST(doc_id % 5 + 2 AS BIGINT) AS nf
           FROM documents),
         s AS (SELECT media_id, w, h, nf, (nf + 1) // 2 AS ns FROM m)
         SELECT media_id, nf AS n_frames, ns AS n_sampled,
             list_reduce([CAST(0 AS BIGINT)] || list_transform(
                 range(ns * h * w * 3),
                 i -> (media_id + 1000000 * (2 * (i // (h * w * 3)))
                       + ((i % (w * 3)) // 3) * 7
                       + ((i % (h * w * 3)) // (w * 3)) * 13
                       + (i % 3) * 29) % 256),
               (acc, v) -> (acc * 31 + v) % 1000000007) AS checksum
         FROM s ORDER BY media_id""",
    // The decoded-sample checksum: unsigned sample i of signal id is
    // (31·id + 17·i) mod 65536 (Multimodal.sampleValue); Spark reaches
    // the same numbers through a REAL WAV encode→decode roundtrip.
    "multimodal_audio" ->
      """WITH m AS (SELECT doc_id AS media_id,
             CAST(doc_id % 50 + 10 AS BIGINT) AS n FROM documents)
         SELECT media_id,
             CAST(8000 AS BIGINT) AS sample_rate,
             n AS n_samples,
             list_reduce([CAST(0 AS BIGINT)] || list_transform(
                 range(n), i -> (media_id * 31 + i * 17) % 65536),
               (acc, v) -> (acc * 31 + v) % 1000000007) AS checksum
         FROM m ORDER BY media_id""",
    "multimodal_resize" ->
      """WITH m AS (SELECT doc_id AS media_id,
             (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
             CAST(doc_id % 64 + 1 AS INT) AS width,
             CAST(doc_id % 48 + 1 AS INT) AS height
           FROM documents),
         s AS (SELECT media_id, kind, width, height,
             least(32.0 / width, 32.0 / height, 1.0) AS sc FROM m)
         SELECT media_id, kind,
             CAST(trunc(width * sc) AS INT) AS w,
             CAST(trunc(height * sc) AS INT) AS h
         FROM s ORDER BY media_id""",
    "multimodal_frames" ->
      """WITH m AS (SELECT doc_id AS media_id,
             (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
             doc_id * 40 % 10000 AS dur FROM documents)
         SELECT media_id, unnest(generate_series(0, dur, 500)) AS frame_ms
         FROM m WHERE kind = 'video' ORDER BY media_id, frame_ms""",
    // mirrors dedup_embedding exactly: double-cast first, perturb dim 1,
    // axis-sign 4x8-bit banding (generated), sequential-fold cosine
    // (list_reduce without init seeds with the first element == a
    // 0.0-seeded fold)
    "dedup_embedding" -> {
      val bandKey = (0 until 8)
        .map(k => s"(CASE WHEN v[b.band_id * 8 + ${k + 1}] > 0 THEN ${1 << k} ELSE 0 END)")
        .mkString("\n             + ")
      s"""WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pert AS (SELECT vec_id + 10000 AS vec_id,
             list_transform(generate_series(1, len(v)),
                            i -> CASE WHEN i = 1 THEN v[i] + 0.01 ELSE v[i] END) AS v
           FROM base),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]),
                              (x, y) -> x + y)) AS nv
           FROM u),
         bands AS (
           SELECT vec_id AS doc_id, b.band_id,
               $bandKey AS bkey
           FROM n CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_id) b),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM bands x JOIN bands y
             ON x.band_id = y.band_id AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         scored AS (
           SELECT c.doc_a, c.doc_b,
               list_reduce(list_transform(generate_series(1, len(na.v)), i -> na.v[i]*nb.v[i]),
                           (x, y) -> x + y) / (na.nv * nb.nv) AS cos
           FROM cand c JOIN n na ON na.vec_id = c.doc_a JOIN n nb ON nb.vec_id = c.doc_b)
         SELECT doc_a, doc_b, round(cos, 6) AS cos
         FROM scored WHERE cos >= 0.99 ORDER BY doc_a, doc_b"""
    },
    // same banding CTEs over the UNPERTURBED vectors; rank = rounded
    // cosine desc, then the STRING form of the neighbor id (TopKAgg
    // compares tags as strings)
    "knn_join" -> {
      val bandKey = (0 until 8)
        .map(k => s"(CASE WHEN v[b.band_id * 8 + ${k + 1}] > 0 THEN ${1 << k} ELSE 0 END)")
        .mkString("\n             + ")
      s"""WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]),
                              (x, y) -> x + y)) AS nv
           FROM base),
         bands AS (
           SELECT vec_id AS doc_id, b.band_id,
               $bandKey AS bkey
           FROM n CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_id) b),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM bands x JOIN bands y
             ON x.band_id = y.band_id AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         sym AS (SELECT doc_a AS doc_id, doc_b AS nbr FROM cand
           UNION ALL SELECT doc_b, doc_a FROM cand),
         scored AS (SELECT s.doc_id, s.nbr,
             round(list_reduce(list_transform(generate_series(1, len(na.v)), i -> na.v[i]*nb.v[i]),
                         (x, y) -> x + y) / (na.nv * nb.nv), 6) AS cos
           FROM sym s JOIN n na ON na.vec_id = s.doc_id
           JOIN n nb ON nb.vec_id = s.nbr),
         r AS (SELECT doc_id, nbr, cos,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY cos DESC, CAST(nbr AS VARCHAR)) AS rn,
             count(*) OVER (PARTITION BY doc_id) AS n_cands
           FROM scored)
         SELECT doc_id, CAST(max(n_cands) AS BIGINT) AS n_cands,
             string_agg(CASE WHEN rn <= 3 THEN CAST(nbr AS VARCHAR) END,
                        ',' ORDER BY rn) AS top_nbrs
         FROM r GROUP BY doc_id ORDER BY doc_id"""
    },
    // pairs → clusters on the vector path: base / +0.01 / +0.02 copies of
    // each vector all collapse to the base id through the recursive
    // closure (even where the LSH pair set is only a chain).
    "dedup_embedding_clusters" -> {
      val bandKey = (0 until 8)
        .map(k => s"(CASE WHEN v[b.band_id * 8 + ${k + 1}] > 0 THEN ${1 << k} ELSE 0 END)")
        .mkString("\n             + ")
      s"""WITH RECURSIVE base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pert1 AS (SELECT vec_id + 10000 AS vec_id,
             list_transform(generate_series(1, len(v)),
                            i -> CASE WHEN i = 1 THEN v[i] + 0.01 ELSE v[i] END) AS v
           FROM base),
         pert2 AS (SELECT vec_id + 20000 AS vec_id,
             list_transform(generate_series(1, len(v)),
                            i -> CASE WHEN i = 1 THEN v[i] + 0.02 ELSE v[i] END) AS v
           FROM base),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM pert1
               UNION ALL SELECT * FROM pert2),
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]),
                              (x, y) -> x + y)) AS nv
           FROM u),
         bands AS (
           SELECT vec_id AS doc_id, b.band_id,
               $bandKey AS bkey
           FROM n CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_id) b),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM bands x JOIN bands y
             ON x.band_id = y.band_id AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         scored AS (
           SELECT c.doc_a, c.doc_b,
               list_reduce(list_transform(generate_series(1, len(na.v)), i -> na.v[i]*nb.v[i]),
                           (x, y) -> x + y) / (na.nv * nb.nv) AS cos
           FROM cand c JOIN n na ON na.vec_id = c.doc_a JOIN n nb ON nb.vec_id = c.doc_b),
         pairs AS (SELECT doc_a, doc_b FROM scored WHERE cos >= 0.99),
         ${ccClosureCtes("pairs", "doc_a", "doc_b")}
         SELECT node AS vec_id, component FROM comp ORDER BY vec_id"""
    },
    "sample_hash" ->
      s"""WITH b AS (SELECT doc_id, ${md5BucketSql("doc_id")} AS bucket FROM documents)
         SELECT doc_id, CAST(bucket AS BIGINT) AS bucket
         FROM b WHERE bucket < 32 ORDER BY doc_id""",
    "sample_stratified" ->
      s"""WITH b AS (SELECT doc_id, lang, ${md5BucketSql("doc_id")} AS bucket
           FROM documents)
         SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
         FROM b WHERE bucket < CASE WHEN lang = 'en' THEN 64 ELSE 16 END
         ORDER BY doc_id""",
    // same md5-derived uniform, same -ln(u)/w race, same 1e-9 rounding;
    // ln agrees between Java Math.log and DuckDB (the bm25 precedent)
    "sample_weighted" ->
      """WITH b AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS h
           FROM documents),
         r AS (SELECT doc_id, w,
             round(-ln((CAST(h AS DOUBLE) + 0.5) / 4294967296.0) / w, 9) AS es_key
           FROM b)
         SELECT doc_id, w, es_key FROM r
         ORDER BY es_key, doc_id LIMIT 200""",
    // closure over ngram-verified pairs (shared CTEs), then bucket by the
    // COMPONENT hash — the oracle reproduces the leakage-free property
    // bit for bit, not just statistically
    "split_leakage_free" ->
      s"""WITH RECURSIVE $ngramVerifiedCtes,
         ${ccClosureCtes("verified", "doc_a", "doc_b")},
         lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
           FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
         b AS (SELECT doc_id, component, ${md5BucketSql("component")} AS bucket FROM lab)
         SELECT doc_id, component, CAST(bucket AS BIGINT) AS bucket,
             CASE WHEN bucket < 26 THEN 'eval' ELSE 'train' END AS split
         FROM b ORDER BY doc_id""",
    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT vec_id, v,
             list_reduce([0.0] || list_transform(v, x -> abs(x)),
                         (m, x) -> greatest(m, x)) AS scale
           FROM e)
         SELECT vec_id, round(scale, 6) AS scale,
             array_to_string(
               CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                    ELSE list_transform(v, x -> CAST(floor(x / scale * 127 + 0.5) AS INT))
               END, ',') AS codes
         FROM s ORDER BY vec_id""",
    "mmr_rerank" -> mmrOracleSql,
    "similarity_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]),
                              (x, y) -> x + y)) AS nv
           FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, nv AS nq FROM n WHERE vec_id < 10),
         pairs AS (
           SELECT q.query_id, n.vec_id AS neighbor_id,
               list_reduce(list_transform(generate_series(1, len(n.v)), i -> q.qv[i]*n.v[i]),
                           (x, y) -> x + y) / (q.nq * n.nv) AS cos
           FROM q, n WHERE q.query_id <> n.vec_id),
         r AS (SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
           FROM pairs)
         SELECT query_id, neighbor_id, round(cos, 6) AS sim, rn
         FROM r WHERE rn <= 5 ORDER BY query_id, rn""",
    // Generated: the 32 seeded gaussian hyperplanes are embedded as double
    // literals (Double.toString round-trips to the identical bits), and
    // the SQL mirrors annTopK exactly — per-band sign keys (bit r = sign
    // of plane b*4+r), multi-probe (exact key + each single-bit flip of
    // the first 4 bits, query side only), distinct candidates, exact
    // sequential-fold cosine, row_number top-5.
    "similarity_ann" -> {
      val planes = Similarity.hyperplanes(32, 64)
      val planeRows = planes.zipWithIndex
        .map { case (p, i) => s"($i, [${p.mkString(", ")}])" }
        .mkString(",\n           ")
      s"""WITH planes(plane_id, pv) AS (VALUES
           $planeRows),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]),
                              (x, y) -> x + y)) AS nv FROM e),
         signs AS (SELECT n.vec_id, p.plane_id,
             CASE WHEN list_reduce(list_transform(generate_series(1, len(n.v)),
                                                  i -> p.pv[i]*n.v[i]),
                                   (x, y) -> x + y) > 0 THEN 1 ELSE 0 END AS s
           FROM n CROSS JOIN planes p),
         bands AS (SELECT vec_id, plane_id // 4 AS band_id,
             CAST(sum(s * (1 << (plane_id % 4))) AS BIGINT) AS bkey
           FROM signs GROUP BY vec_id, plane_id // 4),
         qb AS (SELECT b.vec_id AS query_id, b.band_id,
             CASE WHEN pr.p < 0 THEN b.bkey ELSE xor(b.bkey, 1 << pr.p) END AS bkey
           FROM bands b CROSS JOIN (SELECT unnest([-1, 0, 1, 2, 3]) AS p) pr
           WHERE b.vec_id < 10),
         cand AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
           FROM qb q JOIN bands c ON c.band_id = q.band_id AND c.bkey = q.bkey
           WHERE c.vec_id <> q.query_id),
         scored AS (SELECT c.query_id, c.neighbor_id,
             list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]),
                         (x, y) -> x + y) / (a.nv * b.nv) AS cos
           FROM cand c JOIN n a ON a.vec_id = c.query_id
                       JOIN n b ON b.vec_id = c.neighbor_id),
         r AS (SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
           FROM scored)
         SELECT query_id, neighbor_id, round(cos, 6) AS sim, rn
         FROM r WHERE rn <= 5 ORDER BY query_id, rn"""
    },
    // The full IVF quantizer re-run in SQL: md5-spread seeds, two Lloyd
    // steps with FIXED-POINT means (integer 1e-6-grid sums — order-
    // independent, which is what made this key oracle-able at all; a
    // float avg() depends on partial-sum order), then probe + exact
    // cosine. Assignment tie-break mirrors Spark's struct-max: cs DESC,
    // cell DESC; query probing mirrors row_number: cs DESC, cell ASC.
    // PQ replay (shared CTEs): per-(subspace, code) rollup
    "similarity_pq" ->
      s"""WITH $pqOracleCtes
         SELECT m, cell, count(*) AS cnt,
             CAST(sum(d2q) AS BIGINT) AS distortion_q6
         FROM af GROUP BY m, cell ORDER BY m, cell""",
    // full IVF-PQ search replay: per-query integer distance table
    // against cb1, ADC shortlist of 100 by (adist, vec_id), exact
    // quantized-L2 re-rank of the shortlist, top-5 by (ed, vec_id)
    "similarity_pq_topk" ->
      s"""WITH $pqOracleCtes,
         qtab AS (SELECT s.vec_id AS query_id, s.m, c.cell,
             list_reduce(list_transform(generate_series(1, 8),
               i -> CAST(floor((c.cv[i] - s.sv[i]) * (c.cv[i] - s.sv[i])
                    * 1000000.0 + 0.5) AS BIGINT)), (x, y) -> x + y) AS dq
           FROM subs s JOIN cb1 c ON c.m = s.m
           WHERE s.vec_id < 10),
         ad AS (SELECT q.query_id, f.vec_id, CAST(sum(q.dq) AS BIGINT) AS adist
           FROM af f JOIN qtab q ON q.m = f.m AND q.cell = f.cell
           WHERE q.query_id <> f.vec_id
           GROUP BY q.query_id, f.vec_id),
         short AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY adist ASC, vec_id ASC) AS srn
             FROM ad) WHERE srn <= 100),
         ex AS (SELECT sh.query_id, sh.vec_id,
             list_reduce(list_transform(generate_series(1, 64),
               i -> CAST(floor((c.v[i] - q.v[i]) * (c.v[i] - q.v[i])
                    * 1000000.0 + 0.5) AS BIGINT)), (x, y) -> x + y) AS ed
           FROM short sh
           JOIN e c ON c.vec_id = sh.vec_id
           JOIN e q ON q.vec_id = sh.query_id),
         r AS (SELECT query_id, vec_id, ed,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY ed ASC, vec_id ASC) AS BIGINT) AS rn
           FROM ex)
         SELECT query_id, rn, vec_id AS neighbor_id, ed AS ed_q6
         FROM r WHERE rn <= 5 ORDER BY query_id, rn""",
    "similarity_ivf" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ${ivfOracleCtes("")},
         q AS (SELECT n.vec_id AS query_id, n.v AS qv, n.nv AS nq, c.cell,
             ${ivfDotSql("n.v", "c.cv")} / (${ivfNormSql("c.cv")} * n.nv) AS cs
           FROM n CROSS JOIN c2 c WHERE n.vec_id < 10),
         qc AS (SELECT query_id, qv, nq, cell FROM (
             SELECT query_id, qv, nq, cell,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cs DESC, cell ASC) AS cr
             FROM q) WHERE cr <= 4),
         pairs AS (SELECT DISTINCT qc.query_id, af.vec_id AS neighbor_id,
             ${ivfDotSql("qc.qv", "af.v")} / (qc.nq * af.nv) AS cos
           FROM af JOIN qc ON af.cell = qc.cell AND qc.query_id <> af.vec_id),
         r AS (SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rn
           FROM pairs)
         SELECT query_id, neighbor_id, round(cos, 6) AS sim, rn
         FROM r WHERE rn <= 5 ORDER BY query_id, rn""",
    // FAISS-IVFPQ replay with RESIDUAL encoding: IVF cells prune
    // (nprobe=4 of 16), PQ codebooks train on v − centroid, per-(query,
    // probed cell) distance tables rank via ADC, exact quantized-L2
    // re-rank of the 50-row shortlist
    "similarity_ivfpq" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ${ivfOracleCtes("iv")},
         resid AS (SELECT a.vec_id,
             list_transform(generate_series(1, 64), i -> a.v[i] - c.cv[i]) AS v,
             a.cell AS ivfcell
           FROM ivaf a JOIN ivc2 c ON c.cell = a.cell),
         ${pqOracleCtesOn("r", "resid")},
         qiv AS (SELECT ivn.vec_id AS query_id, c.cell, ivn.v AS qv, c.cv,
             ${ivfDotSql("ivn.v", "c.cv")} / (${ivfNormSql("c.cv")} * ivn.nv) AS cs
           FROM ivn CROSS JOIN ivc2 c WHERE ivn.vec_id < 10),
         qcells AS (SELECT query_id, cell,
             list_transform(generate_series(1, 64), i -> qv[i] - cv[i]) AS qr
           FROM (
             SELECT query_id, cell, qv, cv,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cs DESC, cell ASC) AS cr
             FROM qiv) WHERE cr <= 4),
         probed AS (SELECT qc.query_id, a.vec_id, a.cell AS ivfcell
           FROM ivaf a JOIN qcells qc
             ON a.cell = qc.cell AND qc.query_id <> a.vec_id),
         qtab AS (SELECT qc.query_id, qc.cell AS ivfcell,
             CAST(g.m AS BIGINT) AS m, c.cell,
             list_reduce(list_transform(generate_series(1, 8),
               i -> CAST(floor((c.cv[i] - qc.qr[g.m * 8 + i])
                    * (c.cv[i] - qc.qr[g.m * 8 + i])
                    * 1000000.0 + 0.5) AS BIGINT)), (x, y) -> x + y) AS dq
           FROM qcells qc
           CROSS JOIN generate_series(0, 7) g(m)
           JOIN rcb1 c ON c.m = g.m),
         ad AS (SELECT p.query_id, p.vec_id, CAST(sum(q.dq) AS BIGINT) AS adist
           FROM probed p
           JOIN raf f ON f.vec_id = p.vec_id
           JOIN qtab q ON q.query_id = p.query_id AND q.ivfcell = p.ivfcell
                      AND q.m = f.m AND q.cell = f.cell
           GROUP BY p.query_id, p.vec_id),
         short AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY adist ASC, vec_id ASC) AS srn
             FROM ad) WHERE srn <= 50),
         ex AS (SELECT sh.query_id, sh.vec_id,
             list_reduce(list_transform(generate_series(1, 64),
               i -> CAST(floor((c.v[i] - q.v[i]) * (c.v[i] - q.v[i])
                    * 1000000.0 + 0.5) AS BIGINT)), (x, y) -> x + y) AS ed
           FROM short sh
           JOIN e c ON c.vec_id = sh.vec_id
           JOIN e q ON q.vec_id = sh.query_id),
         r AS (SELECT query_id, vec_id, ed,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY ed ASC, vec_id ASC) AS BIGINT) AS rn
           FROM ex)
         SELECT query_id, rn, vec_id AS neighbor_id, ed AS ed_q6
         FROM r WHERE rn <= 5 ORDER BY query_id, rn""",
    // Generated from TextAnalysis.LangStopWords — one branch per language,
    // argmax with Spark's struct-max tie-break (score DESC, lang DESC).
    // The zh CJK branch is omitted: on the spec-asserted ASCII corpus its
    // score is identically 0, which can neither win a positive argmax nor
    // change the all-zero case (both engines then emit 'und' with score 0).
    "text_langid" ->
      s"""WITH $langIdOracleCtes
         SELECT doc_id,
             CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
             score AS lang_score
         FROM best WHERE rn = 1 ORDER BY doc_id""",
    // Composite curation: quality gates + language filter + exact-dedup
    // keeper flag — a min-over-content-hash window, the same shape as the
    // Spark side (no keeper-set join)
    "curate_corpus" ->
      s"""WITH $langIdOracleCtes,
         lang AS (SELECT doc_id,
             CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
           FROM best WHERE rn = 1),
         m AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             round(CAST(len(list_filter(string_split(text, ' '),
                 w -> w IN ('the','a','of','to','and','in','is','it'))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS stop_ratio,
             (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS is_keeper
           FROM documents)
         SELECT m.doc_id, m.n_tokens, m.stop_ratio, l.lang_pred
         FROM m JOIN lang l ON l.doc_id = m.doc_id
         WHERE m.is_keeper AND m.n_tokens >= 10 AND m.stop_ratio > 0
           AND l.lang_pred = 'en'
         ORDER BY m.doc_id""",
    "text_quality" ->
      """SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             round(CAST(len(list_filter(string_split(text, ' '),
                 w -> w IN ('the','a','of','to','and','in','is','it'))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS stop_ratio,
             round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS distinct_ratio,
             round((CAST(length(text) AS DOUBLE) - (len(string_split(text, ' ')) - 1))
               / len(string_split(text, ' ')), 6) AS mean_word_len
         FROM documents ORDER BY doc_id""",
    "token_count" ->
      """SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
         FROM documents ORDER BY doc_id""",
    // same window cumsum; admission while the budget was not yet spent
    // BEFORE the doc (cum - own < budget) keeps the crossing doc
    "curate_token_budget" ->
      """SELECT doc_id, source, n_tokens, cum_tokens FROM (
           SELECT doc_id, source, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
                 AS cum_tokens
           FROM (SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents))
         WHERE cum_tokens - n_tokens < 800
         ORDER BY doc_id""",
    "curate_source_cap" ->
      """SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM (
           SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn <= 10 ORDER BY doc_id""",
    // same 5-gram construction as the Spark side, from the shared
    // tokenize ≡ string_split precondition; eval = md5 buckets 0-7
    "decontaminate" ->
      s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS w,
             ${md5BucketSql("doc_id")} AS bucket FROM documents),
         ev AS (SELECT DISTINCT unnest(list_transform(generate_series(1, len(w) - 4),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS sgl
           FROM b WHERE bucket < 8),
         tr AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS sgl
           FROM b WHERE bucket >= 8)
         SELECT tr.doc_id, CAST(count(DISTINCT tr.sgl) AS BIGINT) AS n_hits
         FROM tr JOIN ev USING (sgl)
         GROUP BY tr.doc_id ORDER BY doc_id""",
    "heavy_hitters" ->
      """SELECT tok, count(*) AS n_total,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         GROUP BY tok ORDER BY n_total DESC, tok LIMIT 50""",
    "quality_cut" ->
      """WITH s AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
         t AS (SELECT quantile_cont(n_tokens, 0.75) AS thr FROM s)
         SELECT s.doc_id, s.n_tokens, round(t.thr, 6) AS thr
         FROM s, t WHERE s.n_tokens >= t.thr
         ORDER BY doc_id""",
    "text_fingerprint" ->
      """SELECT doc_id,
             list_reduce([CAST(0 AS BIGINT)] ||
                 list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)),
               (h, c) -> (h * 31 + c) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",
    "pagerank_oracle" ->
      """WITH RECURSIVE
         verts AS (
           SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS title FROM orders
           UNION ALL SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) FROM orders),
         edges AS (
           SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
                  'c' || CAST(o_custkey AS VARCHAR) AS dst FROM orders
           UNION ALL SELECT 'o' || CAST(l_orderkey AS VARCHAR),
                  'p' || CAST(l_partkey AS VARCHAR) FROM lineitem
           UNION ALL SELECT 'c' || CAST(o_custkey AS VARCHAR),
                  'o' || CAST(o_orderkey AS VARCHAR) FROM orders),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         n AS (SELECT count(*) AS n FROM verts),
         ranks(iter, title, rank) AS (
           SELECT 0, title, round(1.0 / (SELECT n FROM n), 9) FROM verts
           UNION ALL
           SELECT r.iter + 1, r.title,
             round(0.85 * coalesce((
               SELECT sum(r2.rank / dg.d)
               FROM ranks r2 JOIN edges e ON e.src = r2.title AND e.dst = r.title
               JOIN deg dg ON dg.src = r2.title), 0) + (1.0 - 0.85), 9)
           FROM ranks r WHERE r.iter < 10)
         SELECT title, round(rank, 6) AS rank FROM ranks WHERE iter = 10
         ORDER BY title""",
    // personalized teleport: 1/3 to each seed, 0 elsewhere; 1.0/3 is the
    // same IEEE division on both engines, every iteration 1e-9-pinned
    "pagerank_personal" ->
      """WITH RECURSIVE
         verts AS (
           SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS title FROM orders
           UNION ALL SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) FROM orders),
         edges AS (
           SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
                  'c' || CAST(o_custkey AS VARCHAR) AS dst FROM orders
           UNION ALL SELECT 'o' || CAST(l_orderkey AS VARCHAR),
                  'p' || CAST(l_partkey AS VARCHAR) FROM lineitem
           UNION ALL SELECT 'c' || CAST(o_custkey AS VARCHAR),
                  'o' || CAST(o_orderkey AS VARCHAR) FROM orders),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         ranks(iter, title, rank) AS (
           SELECT 0, title,
               round(CASE WHEN title IN ('c1', 'c2', 'c3')
                          THEN 1.0 / 3 ELSE 0.0 END, 9)
           FROM verts
           UNION ALL
           SELECT r.iter + 1, r.title,
             round(0.85 * coalesce((
               SELECT sum(r2.rank / dg.d)
               FROM ranks r2 JOIN edges e ON e.src = r2.title AND e.dst = r.title
               JOIN deg dg ON dg.src = r2.title), 0)
               + (1.0 - 0.85) * CASE WHEN r.title IN ('c1', 'c2', 'c3')
                             THEN 1.0 / 3 ELSE 0.0 END, 9)
           FROM ranks r WHERE r.iter < 10)
         SELECT title, round(rank, 6) AS rank FROM ranks WHERE iter = 10
         ORDER BY title""",
    // ties broken by the STRING form of the key in both engines (the
    // aggregator compares tags as strings)
    "topk_per_group" ->
      """WITH r AS (SELECT o_orderpriority AS grp,
             CAST(o_orderkey AS VARCHAR) AS okey,
             CAST(o_totalprice AS DOUBLE) AS v,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY CAST(o_totalprice AS DOUBLE) DESC,
                                         CAST(o_orderkey AS VARCHAR)) AS rn
           FROM orders)
         SELECT grp, string_agg(okey, ',' ORDER BY rn) AS top_keys
         FROM r WHERE rn <= 3 GROUP BY grp ORDER BY grp""",
    // normalized variant: parts are vertices (dangling sinks), every edge
    // resolves; the recursive arm carries TWO correlated aggregates over
    // the working table — contributions and the dangling mass D
    "pagerank_norm" ->
      """WITH RECURSIVE
         verts AS (
           SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS title FROM orders
           UNION ALL SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) FROM orders
           UNION ALL SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) FROM lineitem),
         edges AS (
           SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
                  'c' || CAST(o_custkey AS VARCHAR) AS dst FROM orders
           UNION ALL SELECT 'o' || CAST(l_orderkey AS VARCHAR),
                  'p' || CAST(l_partkey AS VARCHAR) FROM lineitem
           UNION ALL SELECT 'c' || CAST(o_custkey AS VARCHAR),
                  'o' || CAST(o_orderkey AS VARCHAR) FROM orders),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         n AS (SELECT count(*) AS n FROM verts),
         ranks(iter, title, rank) AS (
           SELECT 0, title, round(1.0 / (SELECT n FROM n), 9) FROM verts
           UNION ALL
           SELECT r.iter + 1, r.title,
             round((1.0 - 0.85) / (SELECT n FROM n)
               + 0.85 * (coalesce((
                   SELECT sum(r2.rank / dg.d)
                   FROM ranks r2 JOIN edges e ON e.src = r2.title AND e.dst = r.title
                   JOIN deg dg ON dg.src = r2.title), 0)
                 + coalesce((
                     SELECT sum(r3.rank) FROM ranks r3
                     WHERE NOT EXISTS (SELECT 1 FROM deg dg2 WHERE dg2.src = r3.title)), 0)
                   / (SELECT n FROM n)), 9)
           FROM ranks r WHERE r.iter < 10)
         SELECT title, round(rank, 6) AS rank FROM ranks WHERE iter = 10
         ORDER BY title""",
    "wiki_parse" ->
      """SELECT 'D' || CAST(doc_id AS VARCHAR) AS title,
             CAST(len(regexp_extract_all(text, 'spark|join|merge')) AS BIGINT) AS n_links,
             coalesce(array_to_string(list_sort(regexp_extract_all(text, 'spark|join|merge')), ','), '') AS links
         FROM documents ORDER BY title""",
    // identical result contract as wiki_parse — the fused Generator must
    // reproduce the regex pipeline bit for bit
    "wiki_parse_fused" ->
      """SELECT 'D' || CAST(doc_id AS VARCHAR) AS title,
             CAST(len(regexp_extract_all(text, 'spark|join|merge')) AS BIGINT) AS n_links,
             coalesce(array_to_string(list_sort(regexp_extract_all(text, 'spark|join|merge')), ','), '') AS links
         FROM documents ORDER BY title""",
    "join_full" ->
      """SELECT coalesce(c.nk, s.nk2) AS nationkey, n_cust, n_supp
         FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
               FROM customer WHERE c_acctbal > 9000 GROUP BY 1) c
         FULL JOIN
              (SELECT s_nationkey AS nk2, count(*) AS n_supp
               FROM supplier WHERE s_acctbal > 9000 GROUP BY 1) s
         ON c.nk = s.nk2
         ORDER BY nationkey""",
    "window_lag_lead" ->
      """SELECT o_orderkey, o_custkey,
             lag(o_totalprice, 1) OVER w AS prev_price,
             lead(o_totalprice, 1) OVER w AS next_price,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_orderkey""",
    "window_range_frame" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
               AS BIGINT) / 100.0, 2) AS hour_total
         FROM events ORDER BY event_id""",
    "grouping_sets_agg" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
             round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS price_total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus))
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "pivot_agg" ->
      """SELECT o_orderpriority,
             round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   FILTER (WHERE o_orderstatus = 'F') AS BIGINT) / 100.0, 2) AS total_f,
             round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   FILTER (WHERE o_orderstatus = 'O') AS BIGINT) / 100.0, 2) AS total_o,
             round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   FILTER (WHERE o_orderstatus = 'P') AS BIGINT) / 100.0, 2) AS total_p
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "unpivot_agg" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
           SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS metric,
                  l_extendedprice AS value FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem)
         ORDER BY l_orderkey, l_linenumber, metric""",
    "cond_agg" ->
      """SELECT o_orderpriority,
             count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
             count(*) AS n_all,
             round(CAST(sum(CAST(round(
                 (CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END) * 100)
                 AS BIGINT)) AS BIGINT) / 100.0, 2) AS f_total
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "multi_distinct" ->
      """SELECT o_orderstatus,
             count(DISTINCT o_custkey) AS n_cust,
             count(DISTINCT o_orderpriority) AS n_prio,
             count(*) AS n_rows
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "argmax_agg" ->
      """SELECT o_custkey, o_orderkey AS best_order, o_totalprice AS best_price
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
               FROM orders)
         WHERE rn = 1 ORDER BY o_custkey""",
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         b AS (SELECT doc_id, w,
             CASE WHEN len(w) >= 2
                  THEN list_transform(generate_series(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i + 1])
                  ELSE [] END AS bg
           FROM t)
         SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS dup_token_frac,
             CASE WHEN len(w) >= 2
                  THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
                  ELSE 0.0 END AS dup_2gram_frac
         FROM b ORDER BY doc_id""",
    // identical injection; reassembly via unnest + generate_subscripts
    // (positional zip) and an ORDER BY-ed string_agg
    "boilerplate_strip" ->
      """WITH d AS (SELECT doc_id,
             text || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'boiler alpha' ELSE '' END
                  || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'boiler beta' ELSE '' END
                  || chr(10) || 'unique ' || CAST(doc_id AS VARCHAR) AS text
           FROM documents),
         l AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM d),
         le AS (SELECT doc_id, unnest(arr) AS line,
                       generate_subscripts(arr, 1) AS idx FROM l),
         f AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd
                                 FROM le GROUP BY line) x WHERE nd >= 100),
         kept AS (SELECT le.doc_id, le.line, le.idx
                  FROM le LEFT JOIN f ON f.line = le.line
                  WHERE f.line IS NULL),
         res AS (SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY idx) AS clean_text,
                     count(*) AS n_kept
                 FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, len(arr) AS n_lines FROM l)
         SELECT r.doc_id, r.clean_text,
             CAST(t.n_lines - r.n_kept AS BIGINT) AS n_removed
         FROM res r JOIN tot t USING (doc_id) ORDER BY doc_id""",
    "text_corpus_freq" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         wc AS (SELECT word, count(*) AS wc FROM tok GROUP BY word),
         top AS (SELECT word FROM wc ORDER BY wc DESC, word LIMIT 1000),
         j AS (SELECT t.doc_id, c.wc,
                  t.word IN (SELECT word FROM top) AS known
               FROM tok t JOIN wc c USING (word))
         SELECT doc_id,
             count(*) AS n_tokens,
             round(CAST(sum(wc) AS BIGINT) / CAST(count(*) AS DOUBLE), 6) AS mean_word_freq,
             round(CAST(sum(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT)
               / CAST(count(*) AS DOUBLE), 6) AS oov_frac
         FROM j GROUP BY doc_id ORDER BY doc_id""",
    // HITS: 20 half-steps (even iter updates auth from hub, odd updates
    // hub from the JUST-computed auth); normalization divides by the MAX
    // of the working table — order-independent, unlike an L1/L2 norm's
    // global float sum — so both engines stay on the same 1e-9 grid
    "graph_hits" ->
      """WITH RECURSIVE
         edges AS (
           SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
                  'c' || CAST(o_custkey AS VARCHAR) AS dst FROM orders
           UNION ALL SELECT 'o' || CAST(l_orderkey AS VARCHAR),
                  'p' || CAST(l_partkey AS VARCHAR) FROM lineitem
           UNION ALL SELECT 'c' || CAST(o_custkey AS VARCHAR),
                  'o' || CAST(o_orderkey AS VARCHAR) FROM orders),
         verts AS (SELECT DISTINCT title FROM
           (SELECT src AS title FROM edges UNION ALL SELECT dst FROM edges)),
         state(iter, title, hub, auth) AS (
           SELECT 0, title, CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE) FROM verts
           UNION ALL
           SELECT s.iter + 1, s.title,
             CASE WHEN s.iter % 2 = 0 THEN s.hub
                  ELSE coalesce(round((SELECT sum(s2.auth) FROM state s2
                           JOIN edges e ON e.dst = s2.title AND e.src = s.title)
                         / (SELECT max(s3.auth) FROM state s3), 9), 0) END,
             CASE WHEN s.iter % 2 = 0
                  THEN coalesce(round((SELECT sum(s2.hub) FROM state s2
                           JOIN edges e ON e.src = s2.title AND e.dst = s.title)
                         / (SELECT max(s3.hub) FROM state s3), 9), 0)
                  ELSE s.auth END
           FROM state s WHERE s.iter < 20)
         SELECT title, round(hub, 6) AS hub, round(auth, 6) AS auth
         FROM state WHERE iter = 20 ORDER BY title""",
    "graph_degrees" ->
      """WITH edges AS (
           SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
                  'c' || CAST(o_custkey AS VARCHAR) AS dst FROM orders
           UNION ALL SELECT 'o' || CAST(l_orderkey AS VARCHAR),
                  'p' || CAST(l_partkey AS VARCHAR) FROM lineitem
           UNION ALL SELECT 'c' || CAST(o_custkey AS VARCHAR),
                  'o' || CAST(o_orderkey AS VARCHAR) FROM orders),
         o AS (SELECT src AS title, count(*) AS out_deg FROM edges GROUP BY src),
         i AS (SELECT dst AS title, count(*) AS in_deg FROM edges GROUP BY dst)
         SELECT coalesce(o.title, i.title) AS title,
             CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
             CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg
         FROM o FULL OUTER JOIN i ON o.title = i.title
         ORDER BY title""",
    "graph_triangles" ->
      """WITH pp AS (
           SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM pp e1
           JOIN pp e2 ON e2.a = e1.b
           JOIN pp e3 ON e3.a = e1.a AND e3.b = e2.b),
         v AS (SELECT x AS node FROM tri
           UNION ALL SELECT y FROM tri
           UNION ALL SELECT z FROM tri)
         SELECT node, CAST(count(*) AS BIGINT) AS n_tri
         FROM v GROUP BY node ORDER BY node""",
    // the DISTINCT per (order, pair) inside pp mirrors the collect_set;
    // the count over pp is then the order-support weight
    "graph_project" ->
      """WITH pp AS (
           SELECT DISTINCT x.l_orderkey, x.l_partkey AS a, y.l_partkey AS b
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)
         SELECT a, b, count(*) AS w FROM pp
         GROUP BY a, b HAVING count(*) >= 3 ORDER BY a, b""",
    // quantile_cont interpolates at rank p·(n−1) exactly like Spark's
    // percentile, and the interpolated value lands on the 0.1-cent grid,
    // so cut×10 rounds to the same long on both engines; the bucket test
    // is then the same pure integer comparison (value-based: ties share
    // a bucket — deliberately NOT ntile, which splits ties by row order)
    "histogram_equidepth" ->
      s"""WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem),
         c AS (SELECT ${(1 to 9).map(i =>
          s"CAST(round(quantile_cont(cents, 0.$i) * 10) AS BIGINT) AS c$i")
          .mkString(", ")} FROM li),
         b AS (SELECT cents, CAST(1 ${(1 to 9).map(i =>
          s"+ (CASE WHEN cents * 10 > c$i THEN 1 ELSE 0 END)").mkString(" ")}
             AS BIGINT) AS bucket
           FROM li, c)
         SELECT bucket, count(*) AS n,
             min(cents) AS lo_cents, max(cents) AS hi_cents
         FROM b GROUP BY bucket ORDER BY bucket""",
    "star_join" ->
      """SELECT n.n_name,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                      * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
               AS BIGINT) AS revenue_e4,
             count(*) AS n_items
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
           AND c.c_nationkey = s.s_nationkey
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n.n_name
         ORDER BY revenue_e4 DESC, n_name""",
    // md5-byte shard bucket + the dataset_hash fingerprint convention
    "shard_manifest" ->
      s"""WITH rows_h AS (SELECT
             ${md5BucketSql("doc_id")} % 16 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
               || CAST(n_chars AS VARCHAR)), 1, 8)) AS UBIGINT) AS h
           FROM documents)
         SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
             CAST(sum(ntok) AS BIGINT) AS token_sum,
             CAST(sum(h) AS BIGINT) AS fingerprint
         FROM rows_h GROUP BY shard ORDER BY shard""",
    // identical synthesized URLs, identical Java∩RE2 patterns
    "url_parse" ->
      """WITH u AS (SELECT doc_id,
             (CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END)
             || '://WWW.Site' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM'
             || (CASE WHEN doc_id % 4 = 0 THEN ':8080' ELSE '' END)
             || '/docs/' || CAST(doc_id AS VARCHAR) || '/view'
             || (CASE WHEN doc_id % 2 = 0
                 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&ref=feed'
                 ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END) AS url
           FROM documents),
         p AS (SELECT doc_id, url,
             regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
             lower(regexp_extract(url, '^[a-z]+://([^/?#:]+)', 1)) AS host,
             regexp_extract(url, '^[a-z]+://[^/?#:]+:([0-9]+)', 1) AS port,
             regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
             regexp_extract(url, '[?&]id=([0-9]+)', 1) AS qid
           FROM u)
         SELECT doc_id, url, scheme, host,
             regexp_extract(host, '([a-z0-9-]+\.[a-z0-9-]+)$', 1) AS domain,
             port, path, qid,
             scheme || '://' || host || path AS norm
         FROM p ORDER BY doc_id""",
    // same md5-byte bucket convention as the sampling keys (md5BucketSql)
    "feature_hash" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         b AS (SELECT doc_id, ${md5BucketSql("tok")} % 64 AS bucket
           FROM t WHERE len(tok) > 0),
         c AS (SELECT doc_id, bucket, count(*) AS cnt
           FROM b GROUP BY doc_id, bucket)
         SELECT doc_id,
             string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(cnt AS VARCHAR),
                        ' ' ORDER BY bucket) AS features
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    "label_index" ->
      """WITH m AS (SELECT o_orderpriority AS pri,
             CAST(row_number() OVER (ORDER BY count(*) DESC, o_orderpriority)
                  - 1 AS BIGINT) AS pri_idx
           FROM orders GROUP BY o_orderpriority)
         SELECT o.o_orderkey, o.o_orderpriority AS pri, m.pri_idx
         FROM orders o JOIN m ON m.pri = o.o_orderpriority
         ORDER BY o_orderkey""",
    // // on non-negative BIGINTs is the same floor div as Spark's `div`
    "feature_scale" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(round(l_quantity) AS BIGINT) AS qty FROM lineitem),
         s AS (SELECT min(cents) AS mnc, max(cents) AS mxc,
             min(qty) AS mnq, max(qty) AS mxq FROM li)
         SELECT l_orderkey, l_linenumber,
             CAST(CASE WHEN mxc > mnc
                  THEN (cents - mnc) * 1000000 // (mxc - mnc) ELSE 0
               END AS BIGINT) AS cents_ppm,
             CAST(CASE WHEN mxq > mnq
                  THEN (qty - mnq) * 1000000 // (mxq - mnq) ELSE 0
               END AS BIGINT) AS qty_ppm
         FROM li, s ORDER BY l_orderkey, l_linenumber""",
    // unrolled parallel peeling — see kcoreOracleSql; identity rounds
    // past the fixpoint make the fixed depth exact
    "graph_kcore" -> kcoreOracleSql(k = 80, rounds = 16),
    "graph_sssp" -> ssspOracleSql(maxCost = 8),
    "graph_lpa" -> lpaOracleSql(rounds = 4),
    // the SAME unrolled LPA CTEs, modularity aggregation on top —
    // 4m·e_in − deg_c² in exact integers (DuckDB HUGEINT → BIGINT)
    "graph_modularity" ->
      s"""WITH ${lpaOracleCtes(rounds = 4)},
         m AS (SELECT count(*) AS m FROM pp),
         el AS (SELECT la.label AS la, lb.label AS lb FROM pp
           JOIN l4 la ON la.node = pp.a JOIN l4 lb ON lb.node = pp.b),
         inc AS (SELECT la AS label, count(*) AS e_in FROM el
           WHERE la = lb GROUP BY la),
         degc AS (SELECT label, count(*) AS deg_c FROM
             (SELECT la AS label FROM el UNION ALL SELECT lb FROM el)
           GROUP BY label)
         SELECT CAST(degc.label AS BIGINT) AS label,
             CAST(coalesce(inc.e_in, 0) AS BIGINT) AS e_in,
             CAST(degc.deg_c AS BIGINT) AS deg_c,
             CAST(4 * (SELECT m FROM m) * coalesce(inc.e_in, 0)
                  - degc.deg_c * degc.deg_c AS BIGINT) AS q_num
         FROM degc LEFT JOIN inc ON inc.label = degc.label
         ORDER BY label""",
    // UNION (not UNION ALL) recursion: the working set is distinct
    // (title, dist) pairs, so cycles terminate and the row count is
    // bounded by V × hops; min(dist) collapses to the BFS hop count
    "graph_bfs" ->
      """WITH RECURSIVE edges AS (
           SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
                  'c' || CAST(o_custkey AS VARCHAR) AS dst FROM orders
           UNION ALL SELECT 'o' || CAST(l_orderkey AS VARCHAR),
                  'p' || CAST(l_partkey AS VARCHAR) FROM lineitem
           UNION ALL SELECT 'c' || CAST(o_custkey AS VARCHAR),
                  'o' || CAST(o_orderkey AS VARCHAR) FROM orders),
         d AS (
           SELECT 'c1' AS title, 0 AS dist
           UNION
           SELECT e.dst, d.dist + 1
           FROM d JOIN edges e ON e.src = d.title
           WHERE d.dist < 4)
         SELECT title, CAST(min(dist) AS BIGINT) AS dist
         FROM d GROUP BY title ORDER BY title""",
    // identical injected PII, identical Java∩RE2 patterns ('g' = all
    // occurrences, matching Spark regexp_replace's replace-all default)
    "text_pii_redact" ->
      """WITH p AS (SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
               || '.' || CAST(doc_id % 100 AS VARCHAR) || '.7 call 555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
           FROM documents)
         SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
               '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS redacted,
             CAST(len(regexp_extract_all(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
             CAST(len(regexp_extract_all(text,
               '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones
         FROM p ORDER BY doc_id""",
    // exact passage grouping (no hash on the oracle side — grouping by
    // the string itself is the collision-free reference formulation)
    "dedup_passage" ->
      """WITH d2 AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN 'this corpus entry is provided as is without warranty of any kind express or implied including merchantability fitness and noninfringement ' || text
                  ELSE text END AS text
           FROM documents),
         tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM d2),
         ch0 AS (SELECT doc_id, w,
             unnest(range(CAST(ceil(len(w) / 20.0) AS BIGINT))) AS g FROM tok),
         ch AS (SELECT doc_id, CAST(g AS BIGINT) AS chunk_idx,
             array_to_string(list_slice(w, g * 20 + 1, g * 20 + 20), ' ') AS passage
           FROM ch0 WHERE len(w) >= (g + 1) * 20),
         r AS (SELECT doc_id, chunk_idx, passage,
             row_number() OVER (PARTITION BY passage
                                ORDER BY doc_id, chunk_idx) AS rn
           FROM ch)
         SELECT doc_id, chunk_idx, passage FROM r WHERE rn > 1
         ORDER BY doc_id, chunk_idx""",
    // quantile_cont ≡ Spark percentile (interpolated, proven by
    // percentile_agg); everything after the two medians is BIGINT math
    "robust_outliers" ->
      """WITH ev AS (SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS v_cents FROM events),
         med AS (SELECT event_type,
             CAST(round(quantile_cont(v_cents, 0.5) * 2) AS BIGINT) AS m2
           FROM ev GROUP BY event_type),
         dev AS (SELECT ev.event_id, ev.event_type, ev.v_cents,
             abs(2 * ev.v_cents - med.m2) AS dev2
           FROM ev JOIN med USING (event_type)),
         mad AS (SELECT event_type,
             CAST(round(quantile_cont(dev2, 0.5) * 2) AS BIGINT) AS mad4
           FROM dev GROUP BY event_type)
         SELECT d.event_id, d.event_type, d.v_cents, d.dev2
         FROM dev d JOIN mad USING (event_type)
         WHERE 2 * d.dev2 > 5 * mad.mad4
         ORDER BY event_id""",
    // arg_max on the unique event_id is DuckDB's max_by — same
    // last-writer-wins semantics as the Spark struct-max
    "cdc_apply" -> cdcApplyOracleSql,
    // IDENTICAL oracle: the streaming monoid merge must land on the
    // same compacted state as the batch hash agg
    "stream_cdc_apply" -> cdcApplyOracleSql,
    "merge_upsert" ->
      """WITH cur AS (SELECT o_orderkey AS k, o_custkey,
             round(o_totalprice, 2) AS price FROM orders),
         chg AS (SELECT o_orderkey AS k, o_custkey,
               round(o_totalprice + 1.0, 2) AS price
             FROM orders WHERE o_orderkey % 3 = 0
           UNION ALL SELECT o_orderkey + 10000000, o_custkey,
               round(o_totalprice, 2)
             FROM orders WHERE o_orderkey % 5 = 0)
         SELECT coalesce(chg.k, cur.k) AS o_orderkey,
             CASE WHEN chg.k IS NOT NULL THEN chg.o_custkey
                  ELSE cur.o_custkey END AS o_custkey,
             CASE WHEN chg.k IS NOT NULL THEN chg.price
                  ELSE cur.price END AS price,
             CASE WHEN chg.k IS NOT NULL AND cur.k IS NOT NULL THEN 'update'
                  WHEN cur.k IS NULL THEN 'insert'
                  ELSE 'keep' END AS action
         FROM cur FULL OUTER JOIN chg ON cur.k = chg.k
         ORDER BY o_orderkey""",
    "scd2_build" ->
      """WITH b AS (SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events),
         f AS (SELECT user_id, event_id, event_type, t_us,
             CASE WHEN lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY t_us, event_id) IS NULL
                  OR lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY t_us, event_id) <> event_type
                  THEN 1 ELSE 0 END AS chg
           FROM b),
         g AS (SELECT user_id, event_type AS attr, t_us,
             lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
               AS valid_to
           FROM f WHERE chg = 1)
         SELECT user_id, attr, t_us AS valid_from, valid_to,
             valid_to IS NULL AS is_current
         FROM g ORDER BY user_id, valid_from, attr,
             valid_to NULLS FIRST""",
    // change relation rebuilt as in scd2_build, then DuckDB's NATIVE
    // ASOF JOIN — an independent as-of implementation — picks the
    // interval containing each purchase
    "join_pit" ->
      """WITH b AS (SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events),
         f AS (SELECT user_id, event_id, event_type, t_us,
             CASE WHEN lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY t_us, event_id) IS NULL
                  OR lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY t_us, event_id) <> event_type
                  THEN 1 ELSE 0 END AS chg
           FROM b),
         g AS (SELECT user_id, t_us AS vf, max(event_type) AS attr
           FROM f WHERE chg = 1 GROUP BY user_id, t_us),
         p AS (SELECT event_id, user_id, t_us FROM b
           WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.t_us, g.attr
         FROM p ASOF LEFT JOIN g
           ON p.user_id = g.user_id AND p.t_us >= g.vf
         ORDER BY event_id""",
    // DuckDB native ASOF again; arg_max(x, event_id) per (user, ts)
    // mirrors the Spark max(struct(event_id, ...)) dedup exactly
    // (event_id is unique, so it alone determines the winner)
    "attribution_last_touch" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events),
         t AS (SELECT user_id, t_us,
             arg_max(event_id, event_id) AS touch_id,
             arg_max(event_type, event_id) AS touch_type
           FROM e WHERE event_type IN ('click', 'view')
           GROUP BY user_id, t_us),
         p AS (SELECT event_id, user_id, t_us FROM e
           WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, t.touch_id, t.touch_type,
             CAST(p.t_us - t.t_us AS BIGINT) AS latency_us
         FROM p ASOF LEFT JOIN t
           ON p.user_id = t.user_id AND p.t_us >= t.t_us
         ORDER BY event_id""",
    "window_pct" ->
      """SELECT o_orderkey, o_orderpriority,
             round(percent_rank() OVER w, 6) AS pr,
             round(cume_dist() OVER w, 6) AS cd,
             first_value(o_orderkey) OVER w AS first_key
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey""",
    "pack_sequences" ->
      """WITH b AS (SELECT doc_id, doc_id % 64 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         c AS (SELECT doc_id, shard, n_tok,
             CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
           FROM b)
         SELECT doc_id, CAST(shard AS BIGINT) AS shard,
             cum_before // 2048 AS bin, cum_before % 2048 AS offset, n_tok
         FROM c ORDER BY doc_id""",
    "ngram_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         bg AS (SELECT unnest(list_transform(range(len(w) - 1),
               i -> w[i+1] || ' ' || w[i+2])) AS bigram
           FROM tok WHERE len(w) >= 2),
         c AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram),
         p AS (SELECT string_split(bigram, ' ')[1] AS w1, bigram, cnt FROM c),
         pc AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS pcnt FROM p GROUP BY w1)
         SELECT p.bigram, CAST(p.cnt AS BIGINT) AS cnt,
             round(CAST(p.cnt AS DOUBLE) / pc.pcnt, 6) AS prob
         FROM p JOIN pc USING (w1)
         ORDER BY cnt DESC, bigram LIMIT 100""",
    // same LM CTEs as ngram_lm; each bigram's ln P quantizes to an exact
    // integer before the per-doc sum (order-independent), and the final
    // division is the identical IEEE op sequence on both engines
    "lm_score" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         bg AS (SELECT doc_id, unnest(list_transform(range(len(w) - 1),
               i -> w[i+1] || ' ' || w[i+2])) AS bigram
           FROM tok WHERE len(w) >= 2),
         c AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram),
         pc AS (SELECT string_split(bigram, ' ')[1] AS w1,
               CAST(sum(cnt) AS BIGINT) AS pcnt
           FROM c GROUP BY 1),
         lm AS (SELECT c.bigram,
               CAST(floor(ln(CAST(c.cnt AS DOUBLE) / CAST(pc.pcnt AS DOUBLE))
                 * 1000000.0 + 0.5) AS BIGINT) AS q
           FROM c JOIN pc ON pc.w1 = string_split(c.bigram, ' ')[1])
         SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(lm.q) AS BIGINT) / 1000000.0
               / CAST(count(*) AS DOUBLE) AS avg_logp
         FROM bg b JOIN lm USING (bigram)
         GROUP BY b.doc_id ORDER BY doc_id""",
    "tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf
           FROM tok GROUP BY doc_id, word),
         dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         n AS (SELECT count(*) AS n FROM documents),
         sc AS (SELECT t.doc_id, t.word,
               round(t.tf * ln(CAST(n.n AS DOUBLE) / CAST(f.df AS DOUBLE)), 6)
                 AS tfidf
           FROM tf t JOIN dfq f USING (word) CROSS JOIN n
           WHERE t.doc_id < 50),
         r AS (SELECT doc_id, word, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, word) AS BIGINT) AS rn
           FROM sc)
         SELECT doc_id, rn, word, tfidf FROM r WHERE rn <= 5
         ORDER BY doc_id, rn""",
    "chunk_overlap" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         m AS (SELECT doc_id, w, len(w) AS m FROM tok WHERE len(w) > 0),
         ch AS (SELECT doc_id, w, m,
               unnest(generate_series(0,
                 CASE WHEN m <= 64 THEN 0 ELSE (m - 64 + 31) // 32 END))
                 AS chunk_id
           FROM m)
         SELECT doc_id, chunk_id,
             CAST(least(64, m - chunk_id * 32) AS BIGINT) AS n_tokens,
             md5(array_to_string(list_slice(w, chunk_id * 32 + 1,
               chunk_id * 32 + least(64, m - chunk_id * 32)), ' ')) AS digest
         FROM ch ORDER BY doc_id, chunk_id""",
    "mix_epochs" ->
      """WITH f AS (SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 3
                         WHEN 'src2' THEN 3 WHEN 'src3' THEN 2
                         WHEN 'src4' THEN 2 ELSE 1 END AS fac
           FROM documents)
         SELECT doc_id, source,
             CAST(unnest(generate_series(1, fac)) AS BIGINT) AS epoch
         FROM f ORDER BY doc_id, epoch""",
    // generated from bm25Queries + the default k1/b so constants parse
    // to the identical doubles (Double.toString round-trips; a bare 1.2
    // literal would be DECIMAL to DuckDB and diverge in the last ulp)
    "bm25_topk" ->
      s"""WITH $bm25OracleCtes
         SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",
    // same md5 ranking (hex prefix as BIGINT), QUALIFY top-10, same
    // fixed-point metric grid
    "retrieval_eval" ->
      """WITH qs AS (SELECT CAST(i AS BIGINT) AS query FROM range(10) t(i)),
         scored AS (
           SELECT qs.query, d.doc_id,
                  CAST(concat('0x', substr(md5(concat(CAST(qs.query AS VARCHAR),
                    ':', CAST(d.doc_id AS VARCHAR))), 1, 13)) AS BIGINT) AS score
           FROM qs CROSS JOIN documents d),
         ranked AS (
           SELECT query, doc_id,
                  CAST(row_number() OVER (PARTITION BY query
                    ORDER BY score, doc_id) AS BIGINT) AS rank
           FROM scored QUALIFY rank <= 10),
         rel AS (
           SELECT query, rank,
                  CASE WHEN (doc_id + query) % 5 = 0 THEN 1 ELSE 0 END AS rel
           FROM ranked)
         SELECT query, CAST(sum(rel) AS BIGINT) AS n_rel,
                CAST(coalesce(min(CASE WHEN rel = 1 THEN rank END), -1)
                     AS BIGINT) AS first_rel_rank,
                CAST(coalesce(floor(1000000.0 /
                       min(CASE WHEN rel = 1 THEN rank END) + 0.5), 0)
                     AS BIGINT) AS mrr_q6,
                CAST(sum(CASE WHEN rel = 1 THEN
                       CAST(floor(1000000.0 / log2(rank + 1) + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS dcg_q6
         FROM rel GROUP BY query ORDER BY query""",
    "sql_correlated" ->
      """SELECT c_custkey FROM customer c
         WHERE CAST(round(c_acctbal * 100) AS BIGINT)
               * (SELECT count(*) FROM customer c2
                  WHERE c2.c_nationkey = c.c_nationkey)
             > (SELECT CAST(sum(CAST(round(c2.c_acctbal * 100) AS BIGINT)) AS BIGINT)
                FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
         ORDER BY c_custkey""",
    "sql_exists" ->
      """SELECT c_custkey, c_acctbal FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_totalprice > 350000)
           AND EXISTS (SELECT 1 FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey
                         AND c2.c_custkey <> c.c_custkey
                         AND c2.c_acctbal < c.c_acctbal)
         ORDER BY c_custkey""",
    // the IDENTICAL text the Spark side executes — zero drift possible
    "sql_recursive" -> sqlRecursiveText,
    "sql_lateral" -> sqlLateralText,
    "sql_window" -> sqlWindowText,
    // candidates + ground truth from the SAME shared shingle CTEs the
    // minhash/prefix oracles use — the metric cannot drift from them
    "dedup_eval" ->
      s"""WITH $minhashOracleCtes,
         nz AS (SELECT doc_id, sgl FROM sh WHERE len(sgl) > 0),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.sgl, b.sgl)) AS BIGINT) AS i,
             CAST(len(a.sgl) + len(b.sgl)
                  - len(list_intersect(a.sgl, b.sgl)) AS BIGINT) AS u
           FROM nz a JOIN nz b ON a.doc_id < b.doc_id),
         truth AS (SELECT doc_a, doc_b FROM p
           WHERE CAST(i AS DOUBLE) / u >= 0.5),
         hit AS (SELECT t.doc_a, t.doc_b FROM truth t
           JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
         m AS (SELECT (SELECT count(*) FROM cand) AS n_cand,
                      (SELECT count(*) FROM truth) AS n_truth,
                      (SELECT count(*) FROM hit) AS n_hit)
         SELECT CAST(n_cand AS BIGINT) AS n_cand,
             CAST(n_truth AS BIGINT) AS n_truth,
             CAST(n_hit AS BIGINT) AS n_hit,
             CAST(n_hit * 1000000 // n_truth AS BIGINT) AS recall_ppm,
             CAST(n_hit * 1000000 // n_cand AS BIGINT) AS precision_ppm
         FROM m""",
    // same normalizations (cents grid, epoch-ms) as the Spark side, so
    // min/max stringify identically on both engines
    "profile_table" ->
      """WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             epoch_ms(o_orderdate) AS date_ms FROM orders),
         p AS (
           SELECT 'o_orderkey' AS col_name,
               CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
               CAST(min(o_orderkey) AS VARCHAR) AS min_s,
               CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM b
           UNION ALL
           SELECT 'o_custkey', CAST(count(*) - count(o_custkey) AS BIGINT),
               CAST(count(DISTINCT o_custkey) AS BIGINT),
               CAST(min(o_custkey) AS VARCHAR),
               CAST(max(o_custkey) AS VARCHAR) FROM b
           UNION ALL
           SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
               CAST(count(DISTINCT o_orderstatus) AS BIGINT),
               CAST(min(o_orderstatus) AS VARCHAR),
               CAST(max(o_orderstatus) AS VARCHAR) FROM b
           UNION ALL
           SELECT 'o_totalprice_cents', CAST(count(*) - count(price_cents) AS BIGINT),
               CAST(count(DISTINCT price_cents) AS BIGINT),
               CAST(min(price_cents) AS VARCHAR),
               CAST(max(price_cents) AS VARCHAR) FROM b
           UNION ALL
           SELECT 'o_orderdate_ms', CAST(count(*) - count(date_ms) AS BIGINT),
               CAST(count(DISTINCT date_ms) AS BIGINT),
               CAST(min(date_ms) AS VARCHAR),
               CAST(max(date_ms) AS VARCHAR) FROM b)
         SELECT * FROM p ORDER BY col_name""",
    // same deterministic evolution; IS DISTINCT FROM mirrors the
    // null-safe struct compare
    "snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         aft AS (
           SELECT k, st,
               CASE WHEN k % 89 = 0 THEN cents + 100 ELSE cents END AS cents
           FROM base WHERE k % 97 <> 0
           UNION ALL
           SELECT k + 100000000, st, cents FROM base WHERE k % 101 = 0),
         d AS (SELECT coalesce(b.k, a.k) AS o_orderkey,
             CASE WHEN a.k IS NULL THEN 'removed'
                  WHEN b.k IS NULL THEN 'added'
                  WHEN b.st IS DISTINCT FROM a.st
                    OR b.cents IS DISTINCT FROM a.cents THEN 'changed'
             END AS change_type,
             b.cents AS old_cents, a.cents AS new_cents
           FROM base b FULL OUTER JOIN aft a ON a.k = b.k)
         SELECT o_orderkey, change_type, old_cents, new_cents
         FROM d WHERE change_type IS NOT NULL
         ORDER BY o_orderkey, change_type""",
    "dataset_hash" ->
      """WITH h AS (SELECT CAST(('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
               || CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)),
             1, 8)) AS UBIGINT) AS h
           FROM orders)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(h) AS BIGINT) AS fingerprint FROM h""",
    "dq_checks" ->
      """WITH j AS (SELECT o.*, c.c_custkey AS ck FROM orders o
                    LEFT JOIN customer c ON c.c_custkey = o.o_custkey),
         a AS (SELECT
             CAST(sum(CASE WHEN ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fk_v,
             CAST(sum(CASE WHEN o_totalprice <= 0.0
                            OR o_totalprice > 600000.0 THEN 1 ELSE 0 END) AS BIGINT) AS range_v,
             CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS date_v,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS uniq_v
           FROM j),
         u AS (
           SELECT 'custkey_fk' AS check_name, fk_v AS n_violations FROM a
           UNION ALL SELECT 'totalprice_range', range_v FROM a
           UNION ALL SELECT 'orderdate_nonnull', date_v FROM a
           UNION ALL SELECT 'orderkey_unique', uniq_v FROM a)
         SELECT check_name, n_violations,
             CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS ok
         FROM u ORDER BY check_name""",
    // array_union/array_except dedup in Spark → list_distinct mirrors;
    // array_position absent→0 → coalesce(list_position); the half_len
    // cast truncates (Spark double→long) → floor on the DuckDB side
    "array_map_ops" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
             CAST(len(list_distinct(list_slice(w, 1, 5)
               || list_slice(w, 3, 7))) AS BIGINT) AS n_union,
             CAST(len(list_distinct(list_filter(w,
               x -> x <> 'the' AND x <> 'a'))) AS BIGINT) AS n_except,
             CAST(coalesce(list_position(w, 'spark'), 0) AS BIGINT) AS spark_pos,
             CAST(len(list_slice(w, 1, 3)) + len(list_slice(w, 1, 2))
               AS BIGINT) AS n_flat,
             CAST(floor(len(w) / 2.0) AS BIGINT) AS half_len
         FROM b ORDER BY doc_id""",
    "time_parts" ->
      """SELECT event_id,
             CAST(year(t) AS BIGINT) AS y,
             CAST(month(t) AS BIGINT) AS m,
             CAST(day(t) AS BIGINT) AS dom,
             CAST(hour(t) AS BIGINT) AS h,
             CAST(minute(t) AS BIGINT) AS mi,
             strftime(t, '%Y-%m-%d') AS d
         FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS t FROM events)
         ORDER BY event_id""",
    // bm25 ranks ∪ the length-prior ranks → Σ 1/(60+rank); two-double
    // sums are commutative-exact, so the fusion is engine-exact
    "rank_fusion" ->
      s"""WITH $bm25OracleCtes,
         prior AS (SELECT qq.query_id, d.doc_id, d.rank
           FROM (SELECT doc_id,
                   row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
                 FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10) d
           CROSS JOIN (SELECT DISTINCT query_id FROM q) qq),
         u AS (SELECT query_id, doc_id,
               CAST(1.0 AS DOUBLE) / (60 + rank) AS sc
             FROM r WHERE rank <= 10
           UNION ALL SELECT query_id, doc_id,
               CAST(1.0 AS DOUBLE) / (60 + rank) FROM prior),
         f AS (SELECT query_id, doc_id, round(sum(sc), 6) AS score
           FROM u GROUP BY query_id, doc_id),
         rr AS (SELECT query_id, doc_id, score, row_number() OVER
                 (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM f)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
         FROM rr WHERE rank <= 10 ORDER BY query_id, rank""",
    // generated: the same 10-bit interleave Spark's zorder2 folds up
    "zorder_index" -> {
      val terms = (0 until 10).flatMap(i => Seq(
        s"((x & ${1L << i}) << $i)", s"((y & ${1L << i}) << ${i + 1})"))
      s"""WITH b AS (SELECT l_orderkey, l_linenumber,
             l_partkey % 1024 AS x, l_orderkey % 1024 AS y FROM lineitem)
         SELECT l_orderkey, l_linenumber,
             ${terms.mkString(" | ")} AS z
         FROM b ORDER BY l_orderkey, l_linenumber"""
    },
    "scd2_apply" ->
      """WITH b AS (SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events),
         f AS (SELECT user_id, event_id, event_type, t_us,
             CASE WHEN lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY t_us, event_id) IS NULL
                  OR lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY t_us, event_id) <> event_type
                  THEN 1 ELSE 0 END AS chg
           FROM b WHERE t_us < 1705600000000000),
         dim AS (SELECT user_id, event_type AS attr, t_us AS valid_from,
             lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
               AS valid_to,
             lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
               IS NULL AS is_current
           FROM f WHERE chg = 1),
         post AS (SELECT user_id, event_type, t_us, row_number() OVER
               (PARTITION BY user_id ORDER BY t_us DESC, event_id DESC) AS rn
           FROM b WHERE t_us >= 1705600000000000),
         ch AS (SELECT user_id, event_type AS new_attr, t_us AS t
           FROM post WHERE rn = 1),
         closed AS (SELECT d.user_id, d.attr, d.valid_from,
             CASE WHEN d.is_current AND c.new_attr IS NOT NULL
                       AND c.new_attr <> d.attr
                  THEN c.t ELSE d.valid_to END AS valid_to,
             (d.is_current AND (c.new_attr IS NULL OR c.new_attr = d.attr))
               AS is_current
           FROM dim d LEFT JOIN ch c ON c.user_id = d.user_id),
         opened AS (SELECT d.user_id, c.new_attr AS attr, c.t AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to, true AS is_current
           FROM dim d JOIN ch c ON c.user_id = d.user_id
           WHERE d.is_current AND c.new_attr <> d.attr),
         ins AS (SELECT c.user_id, c.new_attr AS attr, c.t AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to, true AS is_current
           FROM ch c WHERE NOT EXISTS
             (SELECT 1 FROM dim d WHERE d.user_id = c.user_id))
         SELECT user_id, attr, valid_from, valid_to, is_current FROM closed
         UNION ALL SELECT * FROM opened
         UNION ALL SELECT * FROM ins
         ORDER BY user_id, valid_from, attr, valid_to NULLS FIRST""",
    // split only when the gap EXCEEDS 30 min — Spark merges an event at
    // exactly window-end into the session (StreamingSpec pins this with
    // a crafted exact-gap fixture; the sf data has no such pair, so the
    // key alone would not catch a >= mirror); end = last event + gap
    "events_session_window" ->
      """WITH b AS (SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events),
         f AS (SELECT user_id, event_id, t_us, CASE WHEN t_us - lag(t_us) OVER
                 (PARTITION BY user_id ORDER BY t_us, event_id)
                 > 1800000000 THEN 1 ELSE 0 END AS flag
           FROM b),
         s AS (SELECT user_id, t_us, sum(flag) OVER
                 (PARTITION BY user_id ORDER BY t_us, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
           FROM f)
         SELECT user_id, min(t_us) AS start_us,
             max(t_us) + 1800000000 AS end_us, count(*) AS n_events
         FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""",
    // the HLL estimate itself is engine-specific; what IS checkable is
    // the exact count plus the error contract (estimate within 5×rsd),
    // which DuckDB answers `true` by definition — a drifting estimator
    // now hash-mismatches instead of hiding behind a rows-only check
    "approx_distinct" ->
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
                true AS within_bound FROM orders""",
    // the bitmap path must equal the plain exact distinct
    "bitmap_distinct" ->
      """SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // bloom-independence: the composed bloom+verify pipeline must equal
    // the plain semi join (quantities integral, so the BIGINT cast
    // agrees across Spark truncation / DuckDB rounding)
    "bloom_semi_prune" ->
      """SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         FROM lineitem
         WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    // HUGEINT keeps the moment combination exact (the Spark side uses
    // decimal(38,0)); both engines then cast the SAME integers to double
    // and run the identical division/multiply sequence
    "regr_agg" ->
      """WITH m AS (SELECT l_returnflag, count(*) AS n,
             sum(CAST(l_quantity AS BIGINT)) AS sx,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
             sum(CAST(l_quantity AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy,
             sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             round(CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
             round((CAST(sy AS DOUBLE)
                    - (CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE))
                      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
         FROM m ORDER BY l_returnflag""",
    // quadratic dominance reference for the windowed two-phase skyline
    "skyline_pareto" ->
      """WITH pts AS (SELECT DISTINCT
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS psize FROM part)
         SELECT price_cents, psize FROM pts p
         WHERE NOT EXISTS (SELECT 1 FROM pts q
           WHERE q.price_cents <= p.price_cents AND q.psize <= p.psize
             AND (q.price_cents < p.price_cents OR q.psize < p.psize))
         ORDER BY price_cents, psize""",
    // ppm via integer floor division — no float anywhere
    "markov_transitions" ->
      """WITH b AS (SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events),
         p AS (SELECT event_type AS to_type,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY t_us, event_id) AS from_type,
             t_us - lag(t_us) OVER
               (PARTITION BY user_id ORDER BY t_us, event_id) AS gap
           FROM b),
         c AS (SELECT from_type, to_type, count(*) AS n FROM p
           WHERE from_type IS NOT NULL AND gap <= 1800000000
           GROUP BY from_type, to_type)
         SELECT from_type, to_type, n,
             CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type)
                  AS BIGINT) AS p_ppm
         FROM c ORDER BY from_type, to_type""",
    // brute-force overlap predicate join (closed intervals)
    "join_interval" ->
      """WITH o AS (SELECT o_orderkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) AS a_lo,
             CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT)
               + (o_orderkey % 7) + 1 AS a_hi
           FROM orders),
         s AS (SELECT s_suppkey, (s_suppkey % 100) * 7 AS b_lo,
             (s_suppkey % 100) * 7 + 13 AS b_hi FROM supplier)
         SELECT s.s_suppkey, count(*) AS n_orders
         FROM o, s WHERE o.a_lo <= s.b_hi AND s.b_lo <= o.a_hi
         GROUP BY s.s_suppkey ORDER BY s.s_suppkey""",
    "ab_test" ->
      """WITH t AS (SELECT
             sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN o_orderkey % 2 = 0 AND o_orderstatus = 'F'
                 THEN 1 ELSE 0 END) AS k0,
             sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN o_orderkey % 2 = 1 AND o_orderstatus = 'F'
                 THEN 1 ELSE 0 END) AS k1
           FROM orders)
         SELECT CAST(n0 AS BIGINT) AS n0, CAST(k0 AS BIGINT) AS k0,
             CAST(n1 AS BIGINT) AS n1, CAST(k1 AS BIGINT) AS k1,
             round((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                    - CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                   / sqrt((CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                          * (1.0 - CAST(k0 + k1 AS DOUBLE)
                                   / CAST(n0 + n1 AS DOUBLE))
                          * (1.0 / CAST(n0 AS DOUBLE)
                             + 1.0 / CAST(n1 AS DOUBLE))), 6) AS z
         FROM t""",
    // greatest/least with a NULL argument: both engines return the
    // non-null extreme (unlike SQL-standard max-scalar NULL poisoning)
    "null_funcs" ->
      """WITH b AS (SELECT c_custkey,
             CASE WHEN c_custkey % 7 <> 0
                  THEN CAST(round(c_acctbal * 100) AS BIGINT) END AS bal
           FROM customer)
         SELECT c_custkey,
             nullif(bal, 0) AS nz_bal,
             coalesce(bal, -1) AS bal_or_neg1,
             greatest(bal, 0) AS floor0,
             least(bal, 100000) AS cap1k,
             CAST(bal IS NULL AS VARCHAR) AS is_missing
         FROM b ORDER BY c_custkey""",
    "string_funcs2" ->
      """SELECT p_partkey,
             translate(p_name, 'ae', '4&') AS t,
             lpad(CAST(p_size AS STRING), 4, '0') AS lp,
             rpad(CAST(p_size AS STRING), 3, '_') AS rp,
             repeat(p_brand, 2) AS rep,
             reverse(p_name) AS rev,
             CAST(ascii(p_name) AS BIGINT) AS a,
             left(p_name, 3) AS l3,
             right(p_name, 3) AS r3
         FROM part ORDER BY p_partkey""",
    "bitwise_ops" ->
      """SELECT o_orderkey,
             o_orderkey & 255 AS b_and,
             o_orderkey | 4096 AS b_or,
             xor(o_orderkey, 170) AS b_xor,
             CAST(o_orderkey << 3 AS BIGINT) AS b_shl,
             CAST(o_orderkey >> 2 AS BIGINT) AS b_shr
         FROM orders ORDER BY o_orderkey""",
    "sql_try_cast" -> sqlTryCastText,
    "sql_group_by_all" -> sqlGroupByAllText,
    // quantile_disc picks lower-of-halves; the ceil(p·n) rank convention
    // is written out long-hand on both sides instead so the tie rule is
    // pinned by construction, not by engine defaults
    "percentile_disc" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                          o_orderkey) AS BIGINT) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
           FROM orders)
         SELECT o_orderpriority,
             CAST(min(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                 THEN cents END) AS BIGINT) AS p50_cents,
             CAST(min(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
                 THEN cents END) AS BIGINT) AS p95_cents
         FROM r WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)
             OR rn = CAST(ceil(n * 0.95) AS BIGINT)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "dq_id_gaps" ->
      """WITH ids AS (SELECT o_orderkey AS id FROM orders
           WHERE o_orderkey % 97 <> 0),
         x AS (SELECT id, lead(id) OVER (ORDER BY id) AS nxt FROM ids)
         SELECT id + 1 AS gap_start, nxt - 1 AS gap_end,
             nxt - id - 1 AS n_missing
         FROM x WHERE nxt > id + 1 ORDER BY gap_start""",
    "scan_kv_dsv2" ->
      """SELECT s_name AS key,
             CAST(round(s_acctbal * 100) AS BIGINT) AS cents
         FROM supplier
         WHERE s_name LIKE 'Supplier#00000001%'
         ORDER BY key""",
    // list_* mirrors; the zip product unrolls over indexes (DuckDB has
    // no padded zip_with — the Spark side slices to EQUAL lengths so
    // the semantics align exactly)
    "array_hof_ops" ->
      """WITH t AS (SELECT doc_id,
             list_transform(string_split(text, ' '),
                            x -> CAST(length(x) AS BIGINT)) AS lens
           FROM documents
           WHERE len(string_split(text, ' ')) >= 2)
         SELECT doc_id,
             CAST(list_reduce(lens, (a, x) -> a + x) AS BIGINT) AS len_sum,
             len(list_filter(lens, x -> x > 8)) > 0 AS has_long,
             len(list_filter(lens, x -> x >= 30)) = 0 AS all_short,
             CAST(len(list_filter(lens, x -> x >= 5)) AS BIGINT) AS n_ge5,
             CAST(coalesce(list_reduce(
                 list_transform(generate_series(1, least(5, len(lens) - 1)),
                                i -> lens[i] * lens[i+1]),
                 (a, x) -> a + x), 0) AS BIGINT) AS zip_dot
         FROM t ORDER BY doc_id""",
    "sample_balanced" ->
      """WITH c AS (SELECT min(n) AS mn FROM
             (SELECT label, count(*) AS n FROM embeddings GROUP BY label)),
         r AS (SELECT CAST(label AS BIGINT) AS label, vec_id,
             CAST(row_number() OVER (PARTITION BY label ORDER BY vec_id)
                  AS BIGINT) AS rn
           FROM embeddings)
         SELECT label, vec_id, rn FROM r, c WHERE rn <= c.mn
         ORDER BY label, vec_id""",
    // identical largest-remainder arithmetic in SQL; floor(sqrt()) of a
    // small exact integer is bit-stable across engines (IEEE sqrt is
    // correctly rounded, the inputs are far below 2^52)
    "sample_temperature" ->
      """WITH q AS (SELECT source, CAST(floor(sqrt(sum(n_chars))) AS BIGINT) AS w
           FROM documents GROUP BY source),
         t AS (SELECT source, w, sum(w) OVER () AS wtot FROM q),
         a AS (SELECT source, 200 * w // wtot AS base, (200 * w) % wtot AS rem,
             200 - sum(200 * w // wtot) OVER () AS deficit,
             row_number() OVER (ORDER BY (200 * w) % wtot DESC, source) AS rr
           FROM t),
         quota AS (SELECT source,
             CAST(base + CASE WHEN rr <= deficit THEN 1 ELSE 0 END AS BIGINT)
               AS quota
           FROM a),
         r AS (SELECT doc_id, d.source, quota,
             row_number() OVER (PARTITION BY d.source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents d JOIN quota ON d.source = quota.source)
         SELECT doc_id, source, quota FROM r WHERE rn <= quota
         ORDER BY doc_id""",
    // canonical form rebuilt from the generator's bid — independent of
    // the string surgery under test
    "dedup_url" ->
      """WITH b AS (SELECT doc_id, doc_id % 100 AS bid FROM documents)
         SELECT 'http://example.com/p/' || bid || '?id=' || bid AS canonical,
             CAST(min(doc_id) AS BIGINT) AS keeper,
             count(*) AS n_variants
         FROM b GROUP BY canonical ORDER BY canonical""",
    "feature_target_encode" ->
      """WITH b AS (SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))
               OVER (PARTITION BY o_orderpriority) AS sum_c,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
           FROM orders)
         SELECT o_orderkey, o_orderpriority,
             CAST((sum_c - y) // (n - 1) AS BIGINT) AS loo_mean_cents
         FROM b WHERE n > 1 ORDER BY o_orderkey""",
    // same fold as similarity_topk over the 8-dim prefix slice
    "similarity_mrl" ->
      """WITH e AS (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[1:8] AS v
             FROM embeddings),
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]),
                              (x, y) -> x + y)) AS nv
           FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, nv AS nq FROM n WHERE vec_id < 10),
         pairs AS (
           SELECT q.query_id, n.vec_id AS neighbor_id,
               list_reduce(list_transform(generate_series(1, len(n.v)), i -> q.qv[i]*n.v[i]),
                           (x, y) -> x + y) / (q.nq * n.nv) AS cos
           FROM q, n WHERE q.query_id <> n.vec_id),
         r AS (SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
           FROM pairs)
         SELECT query_id, neighbor_id, round(cos, 6) AS sim, rn
         FROM r WHERE rn <= 5 ORDER BY query_id, rn""",
    // HUGEINT moment combination; identical finishing ops
    "graph_assortativity" ->
      """WITH pp AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
             (SELECT a AS n FROM pp UNION ALL SELECT b FROM pp)
           GROUP BY n),
         xy AS (SELECT da.deg AS x, db.deg AS y FROM pp
             JOIN deg da ON da.n = pp.a JOIN deg db ON db.n = pp.b
           UNION ALL
           SELECT db.deg, da.deg FROM pp
             JOIN deg da ON da.n = pp.a JOIN deg db ON db.n = pp.b),
         m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
           FROM xy)
         SELECT CAST(n AS BIGINT) AS n,
             round(CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r
         FROM m""",
    "text_syllables" ->
      """SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS n_syl,
             CAST(CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
                  * 1000000
                  // CAST(len(string_split(text, ' ')) AS BIGINT)
                  AS BIGINT) AS syl_per_word_ppm
         FROM documents ORDER BY doc_id""",
    "tpch_q6" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                         * CAST(round(l_discount * 100) AS BIGINT))
                  AS BIGINT) AS revenue_e4,
             count(*) AS n
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",
    "tpch_q12" ->
      """SELECT l_orderkey % 3 AS ship_mode,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
         GROUP BY ship_mode ORDER BY ship_mode""",
    "tpch_q1" ->
      """WITH b AS (SELECT l_returnflag, l_linestatus,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS base_c,
             CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
             CAST(round(l_tax * 100) AS BIGINT) AS tax_c
           FROM lineitem
           WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02')
         SELECT l_returnflag, l_linestatus,
             CAST(sum(qty) AS BIGINT) AS sum_qty,
             CAST(sum(base_c) AS BIGINT) AS sum_base_cents,
             CAST(sum(base_c * (100 - disc_c)) AS BIGINT) AS sum_disc_e4,
             CAST(sum(base_c * (100 - disc_c) * (100 + tax_c)) AS BIGINT)
               AS sum_charge_e6,
             count(*) AS n,
             CAST(sum(qty) * 1000000 // count(*) AS BIGINT) AS avg_qty_ppm,
             CAST(sum(base_c) * 10000 // count(*) AS BIGINT) AS avg_base_c_e4
         FROM b GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "tpch_q3" ->
      """SELECT o.o_orderkey,
             strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS odate,
             o.o_orderpriority,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS revenue_e4
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_nationkey < 5
           AND CAST(o.o_orderdate AS DATE) < DATE '1995-03-15'
           AND CAST(l.l_shipdate AS DATE) > DATE '1995-03-15'
         GROUP BY o.o_orderkey, odate, o.o_orderpriority
         ORDER BY revenue_e4 DESC, o.o_orderkey LIMIT 10""",
    // the full-shuffle ground truth the two-pass MG path must equal
    "heavy_hitters_mg" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word
             FROM documents)
         SELECT word, count(*) AS n FROM tok
         GROUP BY word
         HAVING count(*) * 201 > (SELECT count(*) FROM tok)
         ORDER BY word""",
    // full recompute over old ∪ delta via the recursive min-label
    // closure — the incremental label-graph merge must reproduce it
    "graph_cc_incremental" ->
      s"""WITH RECURSIVE
         ks AS (SELECT c_custkey AS k FROM customer),
         alle AS (
           SELECT k AS a, k - (k % 8) AS b FROM ks WHERE k % 8 <> 0
           UNION ALL
           SELECT k, k + 8 FROM ks WHERE k % 8 = 0 AND (k // 8) % 3 = 0
             AND k + 8 IN (SELECT k FROM ks)),
         ${ccClosureCtes("alle", "a", "b")}
         SELECT node, component FROM comp ORDER BY node""",
    "dq_k_anonymity" ->
      """SELECT c_nationkey, c_acctbal < 0 AS in_debt,
             c_custkey % 4 AS segment, count(*) AS n,
             count(*) < 10 AS violates_k10
         FROM customer GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    // the batch truth a correct streaming aggregation must converge to
    "stream_hourly_counts" ->
      """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us,
             event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events
         GROUP BY hour_us, event_type
         ORDER BY hour_us, event_type""",
    "stream_kv_counts" ->
      """SELECT CAST(round(s_acctbal * 100) AS BIGINT) % 7 AS g,
             count(*) AS n,
             CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
         FROM supplier GROUP BY g ORDER BY g""",
    // every event lands in exactly 3 sliding windows: starts
    // (t DIV 5min − k)·5min for k ∈ {0,1,2} (t − s = t mod 5min +
    // k·5min < 15min always) — arithmetic unroll, no window function
    "stream_sliding_counts" ->
      """WITH b AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
             FROM events)
         SELECT (t_us // 300000000 - k) * 300000000 AS win_us,
             count(*) AS n
         FROM b, unnest([0, 1, 2]) AS u(k)
         GROUP BY win_us ORDER BY win_us""",
    // the events_session_window sessionize CTEs, per-user output shape
    "stream_session_counts" ->
      """WITH b AS (SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events),
         f AS (SELECT user_id, event_id, t_us, CASE WHEN t_us - lag(t_us) OVER
                 (PARTITION BY user_id ORDER BY t_us, event_id)
                 > 1800000000 THEN 1 ELSE 0 END AS flag
           FROM b),
         s AS (SELECT user_id, t_us, sum(flag) OVER
                 (PARTITION BY user_id ORDER BY t_us, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
           FROM f)
         SELECT user_id, min(t_us) AS start_us, count(*) AS n_events
         FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""",
    // single-delivery truth: the doubled feed must dedup back to this
    "stream_dedup" ->
      """SELECT event_type, count(*) AS n,
             count(DISTINCT event_id) AS n_ids
         FROM events GROUP BY event_type ORDER BY event_type""",
    // batch interval join == the emitted stream-stream pair set
    "stream_join" ->
      """WITH ev AS (SELECT event_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_type
           FROM events)
         SELECT p.event_id AS purchase_id, p.user_id,
             p.t_us AS purchase_us,
             c.event_id AS click_id, c.t_us AS click_us
         FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM ev WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND c.t_us <= p.t_us
          AND c.t_us >= p.t_us - 3600000000
         ORDER BY purchase_id, click_id""",
    "stream_enrich" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
         FROM events LEFT JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment, event_type
         ORDER BY c_mktsegment, event_type""",
    "join_asof_tolerance" ->
      """WITH ev AS (SELECT event_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_type
           FROM events),
         p AS (SELECT event_id, user_id, t_us FROM ev
           WHERE event_type = 'purchase'),
         c AS (SELECT user_id, t_us AS ct, max(event_id) AS click_id
           FROM ev WHERE event_type = 'click' GROUP BY user_id, t_us)
         SELECT p.event_id, p.user_id, p.t_us, c.click_id,
             p.t_us - c.ct AS age_us
         FROM p ASOF JOIN c
           ON p.user_id = c.user_id AND p.t_us >= c.ct
         WHERE p.t_us - c.ct <= 7200000000
         ORDER BY p.event_id""",
    // brute-force nearest with the backward tie preference the composed
    // pass implements; clicks deduped per (user, ts) as ever
    "join_asof_nearest" ->
      """WITH ev AS (SELECT event_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_type
           FROM events),
         p AS (SELECT event_id, user_id, t_us FROM ev
           WHERE event_type = 'purchase'),
         c AS (SELECT user_id, t_us AS ct, max(event_id) AS click_id
           FROM ev WHERE event_type = 'click' GROUP BY user_id, t_us)
         SELECT p.event_id, p.user_id, p.t_us, c.click_id AS near_id,
             abs(c.ct - p.t_us) AS dist_us
         FROM p JOIN c ON c.user_id = p.user_id
         QUALIFY row_number() OVER (PARTITION BY p.event_id
             ORDER BY abs(c.ct - p.t_us),
                      CASE WHEN c.ct <= p.t_us THEN 0 ELSE 1 END) = 1
         ORDER BY p.event_id""",
    // brute-force distance predicate — the grid join must reproduce it
    "spatial_radius_join" ->
      """WITH pts AS (SELECT c_custkey AS id,
             (c_custkey * 2654435761) % 10000 AS x,
             (c_custkey * 40503) % 10000 AS y FROM customer)
         SELECT a.id AS a_id, b.id AS b_id,
             CAST((a.x - b.x) * (a.x - b.x)
                  + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS d2
         FROM pts a JOIN pts b ON a.id < b.id
         WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 22500
         ORDER BY a_id, b_id""",
    "tpch_q18" ->
      """WITH heavy AS (SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
         SELECT c_name, c_custkey, o_orderkey,
             strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS odate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             sum_qty
         FROM orders JOIN heavy ON o_orderkey = heavy.l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY price_cents DESC, o_orderkey LIMIT 100""",
    "tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
           AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
               AND CAST(l.l_shipdate AS DATE) >
                   CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "tpch_q5" ->
      """SELECT n_name,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS revenue_e4,
             count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
                      AND c_nationkey = s_nationkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
         GROUP BY n_name
         ORDER BY revenue_e4 DESC, n_name""",
    "tpch_q10" ->
      """SELECT c_custkey, c_name,
             CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
             n_name,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS revenue_e4
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND CAST(o_orderdate AS DATE) >= DATE '1996-10-01'
           AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
         GROUP BY c_custkey, c_name, acctbal_cents, n_name
         ORDER BY revenue_e4 DESC, c_custkey LIMIT 20""",
    "tpch_q14" ->
      """WITH b AS (SELECT
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4,
             p_type
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE CAST(l_shipdate AS DATE) >= DATE '1996-09-01'
             AND CAST(l_shipdate AS DATE) < DATE '1996-10-01')
         SELECT
             CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END)
                  AS BIGINT) AS promo_rev_e4,
             CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4,
             CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END)
                  * 1000000 // sum(rev_e4) AS BIGINT) AS promo_ppm
         FROM b""",
    "tpch_q7" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS l_year,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS revenue_e4,
             count(*) AS n
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         WHERE cn.n_name IN ('NATION_0', 'NATION_1')
           AND sn.n_name IN ('NATION_0', 'NATION_1')
           AND sn.n_name <> cn.n_name
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",
    "tpch_q13" ->
      """WITH pc AS (SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
         SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
         FROM pc GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "tpch_q17" ->
      """WITH b AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey)
               AS sum_qty,
             count(*) OVER (PARTITION BY l_partkey) AS n_part
           FROM lineitem)
         SELECT CAST(sum(price_c) AS BIGINT) AS small_rev_cents,
             count(*) AS n
         FROM b WHERE qty * 5 * n_part < sum_qty""",
    "tpch_q22" ->
      """WITH bal AS (SELECT
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS sum_c,
             count(*) AS n_pos
           FROM customer WHERE c_acctbal > 0),
         recent AS (SELECT DISTINCT o_custkey FROM orders
           WHERE CAST(o_orderdate AS DATE) >= DATE '2000-07-01')
         SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
             count(*) AS n_cust,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
         FROM customer, bal
         WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n_pos > sum_c
           AND c_custkey NOT IN (SELECT o_custkey FROM recent)
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    // partsupp family over the shared derived-ps CTE (psCteSql)
    "tpch_q2" ->
      s"""WITH $psCteSql,
         sup AS (SELECT s_suppkey, s_name,
               CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents,
               n_name
             FROM supplier, nation, region
             WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
               AND r_name = 'EUROPE'),
         el AS (SELECT ps_partkey, ps_supplycost_cents,
               s_acctbal_cents, s_name, n_name
             FROM ps
             JOIN part ON ps_partkey = p_partkey
               AND p_size = 15 AND p_type = 'STANDARD'
             JOIN sup ON ps_suppkey = s_suppkey),
         mc AS (SELECT ps_partkey AS mk, min(ps_supplycost_cents) AS min_cost
             FROM el GROUP BY 1)
         SELECT s_acctbal_cents, s_name, n_name, ps_partkey,
             ps_supplycost_cents
         FROM el JOIN mc ON ps_partkey = mk AND ps_supplycost_cents = min_cost
         ORDER BY s_acctbal_cents DESC, n_name, s_name, ps_partkey
         LIMIT 100""",
    "tpch_q11" ->
      s"""WITH $psCteSql,
         nsup AS (SELECT s_suppkey FROM supplier, nation
             WHERE s_nationkey = n_nationkey AND n_name = 'NATION_7'),
         np AS (SELECT ps_partkey, ps_supplycost_cents * ps_availqty AS v
             FROM ps JOIN nsup ON ps_suppkey = s_suppkey),
         tot AS (SELECT CAST(sum(v) AS BIGINT) AS total_v FROM np)
         SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value_cents
         FROM np, tot GROUP BY ps_partkey, total_v
         HAVING CAST(sum(v) AS BIGINT) * 1000 > total_v
         ORDER BY value_cents DESC, ps_partkey""",
    "tpch_q16" ->
      s"""WITH $psCteSql
         SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
             count(DISTINCT ps_suppkey) AS supplier_cnt
         FROM ps JOIN part ON ps_partkey = p_partkey
         WHERE p_brand <> 'Brand#15' AND p_type <> 'PROMO'
           AND p_size IN (1, 9, 15, 22, 30, 44, 49)
           AND ps_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "tpch_q20" ->
      s"""WITH $psCteSql,
         shipped AS (SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             FROM lineitem
             WHERE CAST(l_shipdate AS DATE) >= DATE '2000-01-01'
               AND CAST(l_shipdate AS DATE) < DATE '2001-01-01'
             GROUP BY 1, 2),
         cand AS (SELECT DISTINCT ps_suppkey FROM ps
             JOIN part ON ps_partkey = p_partkey AND p_name LIKE 'blue%'
             JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
             WHERE ps_availqty * 2 > sum_qty)
         SELECT s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
         WHERE s_suppkey IN (SELECT ps_suppkey FROM cand)
         ORDER BY s_name""",
    "tpch_q8" ->
      """WITH ac AS (SELECT c_custkey FROM customer, nation, region
             WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
               AND r_name = 'ASIA'),
         base AS (SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
               CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4,
               (n_name = 'NATION_5') AS is_target
             FROM lineitem
             JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
             JOIN orders ON l_orderkey = o_orderkey
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey
             WHERE o_custkey IN (SELECT c_custkey FROM ac))
         SELECT CAST(o_year AS BIGINT) AS o_year,
             CAST((CAST(sum(CASE WHEN is_target THEN rev_e4 ELSE 0 END) AS BIGINT)
                 // 10000) * 1000000
               // greatest(CAST(sum(rev_e4) AS BIGINT) // 10000, 1)
               AS BIGINT) AS share_ppm,
             CAST(sum(CASE WHEN is_target THEN rev_e4 ELSE 0 END) AS BIGINT)
               AS nation_rev_e4,
             CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4
         FROM base GROUP BY o_year ORDER BY o_year""",
    "tpch_q9" ->
      s"""WITH $psCteSql,
         base AS (SELECT n_name,
               year(CAST(o_orderdate AS DATE)) AS o_year,
               CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
                 - ps_supplycost_cents * 100 * CAST(l_quantity AS BIGINT)
                 AS amount_e4
             FROM lineitem
             JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red%'
             JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
             JOIN orders ON l_orderkey = o_orderkey
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey)
         SELECT n_name, CAST(o_year AS BIGINT) AS o_year,
             CAST(sum(amount_e4) AS BIGINT) AS profit_e4
         FROM base GROUP BY n_name, o_year
         ORDER BY n_name, o_year DESC""",
    "tpch_q15" ->
      """WITH rev AS (SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
               AS total_rev_e4
           FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '2000-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '2000-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_rev_e4
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)
         ORDER BY s_suppkey""",
    "tpch_q21" ->
      """WITH ord AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od
             FROM orders WHERE o_orderstatus = 'F'),
         psup AS (SELECT l_orderkey, l_suppkey,
               max(CASE WHEN CAST(l_shipdate AS DATE) > od + INTERVAL 60 DAY
                   THEN 1 ELSE 0 END) AS late
             FROM lineitem JOIN ord ON l_orderkey = o_orderkey
             GROUP BY 1, 2),
         fl AS (SELECT l_suppkey, late,
               count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
               sum(late) OVER (PARTITION BY l_orderkey) AS n_late
             FROM psup)
         SELECT s_name, count(*) AS numwait
         FROM fl
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_2'
         WHERE late = 1 AND n_supp > 1 AND n_late = 1
         GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""",
    "tpch_q19" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS revenue_e4,
             count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",
    // chr(769)=U+0301 combining acute, chr(776)=U+0308 combining
    // diaeresis — the injected decomposed runs the Spark side appends
    // as literals; both engines' NFC must compose them identically
    "text_nfc" ->
      """SELECT doc_id,
             CAST(length(t) AS BIGINT) AS len_raw,
             CAST(length(nfc_normalize(t)) AS BIGINT) AS len_nfc,
             md5(nfc_normalize(t)) AS digest
         FROM (SELECT doc_id,
             text || ' cafe' || chr(769) || ' u' || chr(776) || 'ber no'
                  || chr(776) || 'e' || chr(769) || 'l' AS t
           FROM documents)
         ORDER BY doc_id""",
    // weighted recurrence in lockstep: exact long weights, one double
    // fraction division, 1e-9 per-iteration pinning (pagerank_oracle
    // discipline)
    "pagerank_weighted" ->
      """WITH RECURSIVE
         edges0 AS (
           SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  'o' || CAST(o_orderkey AS VARCHAR) AS dst,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS w FROM orders
           UNION ALL
           SELECT 'o' || CAST(o_orderkey AS VARCHAR),
                  'c' || CAST(o_custkey AS VARCHAR),
                  CAST(round(o_totalprice * 100) AS BIGINT) FROM orders),
         eagg AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w
           FROM edges0 GROUP BY src, dst),
         ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum
           FROM eagg GROUP BY src),
         e AS (SELECT eagg.src, eagg.dst,
             CAST(eagg.w AS DOUBLE) / CAST(ws.wsum AS DOUBLE) AS frac
           FROM eagg JOIN ws ON ws.src = eagg.src),
         verts AS (SELECT DISTINCT title FROM
           (SELECT src AS title FROM edges0
            UNION ALL SELECT dst FROM edges0)),
         n AS (SELECT count(*) AS n FROM verts),
         ranks(iter, title, rank) AS (
           SELECT 0, title, round(1.0 / (SELECT n FROM n), 9) FROM verts
           UNION ALL
           SELECT r.iter + 1, r.title,
             round(0.85 * coalesce((SELECT sum(e2.frac * r2.rank)
               FROM ranks r2 JOIN e e2
                 ON e2.src = r2.title AND e2.dst = r.title), 0) + (1.0 - 0.85), 9)
           FROM ranks r WHERE r.iter < 5)
         SELECT title, round(rank, 6) AS rank FROM ranks WHERE iter = 5
         ORDER BY title""",
    // relational common-neighbor count mirrors the sorted-merge; ppm by
    // integer floor division on both engines
    "graph_jaccard" ->
      """WITH pp AS (
           SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         adjn AS (SELECT a AS n, b AS nb FROM pp
           UNION ALL SELECT b, a FROM pp),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM adjn GROUP BY n),
         cm AS (SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS c
           FROM pp p JOIN adjn x ON x.n = p.a
                     JOIN adjn y ON y.n = p.b AND y.nb = x.nb
           GROUP BY p.a, p.b)
         SELECT p.a, p.b, CAST(coalesce(cm.c, 0) AS BIGINT) AS common,
             CAST(coalesce(cm.c, 0) * 1000000
                  // (da.d + db.d - coalesce(cm.c, 0)) AS BIGINT) AS jac_ppm
         FROM pp p LEFT JOIN cm ON cm.a = p.a AND cm.b = p.b
         JOIN deg da ON da.n = p.a JOIN deg db ON db.n = p.b
         ORDER BY p.a, p.b""",
    // same discipline as lm_score: exact counts, floor(ln·1e6 + 0.5)
    // integer grid, identical finishing divisions
    "text_entropy" ->
      """WITH c AS (SELECT doc_id, word, count(*) AS c FROM
             (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents) GROUP BY doc_id, word),
         n AS (SELECT doc_id, word, c,
               sum(c) OVER (PARTITION BY doc_id) AS n FROM c)
         SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
             CAST(sum(c * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
                 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) / 1000000.0
               / CAST(max(n) AS DOUBLE) AS entropy
         FROM n GROUP BY doc_id ORDER BY doc_id""",
    // ln-term op order mirrors the Spark side exactly; ranking on the
    // quantized integer grid with (w1, w2) tie-break
    "collocation_pmi" ->
      """WITH tok AS (SELECT string_split(text, ' ') AS w FROM documents
             WHERE len(string_split(text, ' ')) >= 1),
         uni AS (SELECT unnest(w) AS word FROM tok),
         u AS (SELECT word, count(*) AS u FROM uni GROUP BY word),
         t AS (SELECT CAST(sum(u) AS BIGINT) AS t FROM u),
         tb AS (SELECT CAST(sum(greatest(len(w) - 1, 0)) AS BIGINT) AS tb
             FROM tok),
         b AS (SELECT w1, w2, count(*) AS n FROM
             (SELECT unnest(list_transform(range(len(w) - 1),
                  i -> {'w1': w[i+1], 'w2': w[i+2]}), recursive := true)
              FROM tok WHERE len(w) >= 2)
           GROUP BY w1, w2 HAVING count(*) >= 5)
         SELECT b.w1, b.w2, b.n,
             CAST(floor((ln(CAST(b.n AS DOUBLE) / CAST(tb.tb AS DOUBLE))
               - ln(CAST(u1.u AS DOUBLE) / CAST(t.t AS DOUBLE))
               - ln(CAST(u2.u AS DOUBLE) / CAST(t.t AS DOUBLE)))
               * 1000000.0 + 0.5) AS BIGINT) AS pmi_q
         FROM b JOIN u u1 ON u1.word = b.w1
                JOIN u u2 ON u2.word = b.w2, t, tb
         ORDER BY pmi_q DESC, w1, w2 LIMIT 50""",
    // char-level adjacent pairs over the distinct-word relation,
    // weighted by word count — exact longs, total order at the cut
    "bpe_pair_counts" ->
      """WITH wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           WHERE len(word) > 0 GROUP BY word),
         ch AS (SELECT c, string_split(word, '') AS cs FROM wc
           WHERE len(word) >= 2),
         pr AS (SELECT cs[i] AS a, cs[i + 1] AS b, c
           FROM ch, LATERAL (SELECT unnest(generate_series(1, len(cs) - 1)) AS i) ix)
         SELECT a, b, CAST(sum(c) AS BIGINT) AS n
         FROM pr GROUP BY a, b ORDER BY n DESC, a, b LIMIT 20""",
    // k=5 unrolled merge steps (see bpeOracleSql); merge table output
    "bpe_apply" ->
      (bpeOracleSql(5) + """
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS step, a, b, n FROM t1
           UNION ALL SELECT 2, a, b, n FROM t2
           UNION ALL SELECT 3, a, b, n FROM t3
           UNION ALL SELECT 4, a, b, n FROM t4
           UNION ALL SELECT 5, a, b, n FROM t5)
         ORDER BY step"""),
    // the encode half: final segmentation of the 10 most frequent words
    "bpe_encode" ->
      (bpeOracleSql(5) + """
         SELECT word, c,
             replace(substr(st, 2, len(st) - 2), chr(2) || chr(1), ' ') AS toks
         FROM st5 ORDER BY c DESC, word LIMIT 10"""),
    // the <= inequality flips ASOF to forward (earliest right >= left)
    "join_asof_forward" ->
      """WITH ev AS (
           SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
                  event_type, value
           FROM events),
         p AS (SELECT event_id, user_id, t_us FROM ev WHERE event_type = 'purchase'),
         c AS (SELECT user_id, t_us, max(event_id) AS click_id,
                      arg_max(value, event_id) AS click_value
               FROM ev WHERE event_type = 'click' GROUP BY user_id, t_us)
         SELECT p.event_id, p.user_id, p.t_us, c.click_id, c.click_value
         FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.t_us <= c.t_us
         ORDER BY p.event_id""",
    // full recompute — hash-match proves delta-merge ≡ recompute
    "join_incremental" ->
      """SELECT c_nationkey, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey""",
  )
}
