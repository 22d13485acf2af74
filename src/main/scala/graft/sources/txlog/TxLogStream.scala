package graft.sources.txlog

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.TxLog

/** Streaming CHANGE-DATA-CAPTURE source over a [[TxLog]] table —
  * `spark.readStream.format("txlog").option("path", dir).load()`.
  *
  * The read half of the exactly-once pair (the sink half is
  * `writeStream.format("txlog")`, [[TxLogStreamingWrite]], or
  * [[TxLog.appendStream]] from a foreachBatch): offsets ARE commit
  * versions, so the engine's offset log gives restart-resume for
  * free — a query restarted from its
  * checkpoint continues at the first unprocessed commit, never
  * re-delivering and never skipping. Each micro-batch is the add-set
  * rows of the commits in `(start, end]`, tagged `_commit_version` /
  * `_commit_op` (the same contract as the batch
  * [[TxLog.readChangesSince]]); commits with empty add sets (a pure
  * deletion-vector commit, a metadata-only analyze) contribute no rows
  * but still advance the offset, and REWRITE commits fail the stream
  * loud by default (`skipRewrites` below — re-delivering a rewrite's
  * add set would double-count the whole table).
  *
  * Built on the v1 `Source` API (how Delta's streaming source works):
  * `getBatch` returns a driver-planned DataFrame over exactly the new
  * segments — per micro-batch metadata cost is O(entries in range),
  * and no segment is ever re-read, which is what makes tailing a
  * 100 TB table's commit log cheap. The v.1-source admission model
  * (everything up to head in one batch) is the `Trigger.AvailableNow`
  * shape; rate limiting would go in `latestOffset` when needed.
  *
  * Options: `path` (required) — the table directory;
  * `startingVersion` — first commit to deliver (default 0 = full
  * history; `"latest"` = only commits after the FIRST stream start —
  * the resolved floor persists in the query checkpoint, so restarts
  * never skip commits that landed while the query was down);
  * `maxCommitsPerTrigger` — admission control: at most this many
  * commits per micro-batch. DEFAULT 100 ([[TxLogSource
  * .DefaultMaxCommitsPerTrigger]]): a first start over a 10k-commit
  * history must not plan a 10k-way union in one giant catch-up batch
  * — the safe behavior cannot depend on the user knowing the option,
  * so backfill proceeds in bounded, individually-checkpointed batches
  * out of the box (bounded plan width and executor memory, restartable
  * progress). `"none"` opts out (everything up to head in one batch,
  * the `Trigger.AvailableNow` shape, for histories known to be short);
  * `skipRewrites` — REWRITE commits (add+remove: compact/optimize/
  * replaceWhere/CoW DML/restore) re-materialize rows that already
  * streamed, so by DEFAULT the source FAILS LOUD on one (Delta's
  * `skipChangeCommits` posture: an unaware aggregating consumer would
  * double-count the whole rewritten table after a nightly OPTIMIZE);
  * `true` advances past them rowlessly. Remove-only and deletion-
  * vector commits stay rowless-but-advancing either way (deletions
  * have no add bytes to mis-deliver);
  * `changeFeed` — `true` delivers the ROW-LEVEL change feed instead of
  * add-set CDC: every batch row carries `_change_type`
  * (insert / delete / update_preimage / update_postimage, resolved
  * from deletion-vector sidecars exactly like the batch
  * [[TxLog.readChangeFeed]]), which is what lets a streaming consumer
  * maintain downstream state through DML — the input to streaming
  * incremental view maintenance.
  *
  * Schema: the table's merged head schema + the two tag columns; each
  * batch is read with that EXPLICIT schema, so pre-evolution segments
  * surface null for later-added columns. Mid-stream schema DRIFT —
  * a commit adding a column after the stream started — FAILS the
  * stream loud (Delta's streaming contract) instead of silently
  * dropping the new column from every subsequent batch: each batch
  * reads the schema the log records for ITS OWN add set (O(batch),
  * bounded by the trigger cap — never the table; no Spark job on
  * recorded segments) and compares field names against the
  * construction-time schema; the fix is restarting the query, which
  * re-resolves the merged schema. */
class TxLogSourceProvider extends StreamSourceProvider
    with org.apache.spark.sql.connector.catalog.TableProvider
    with DataSourceRegister {
  override def shortName(): String = "txlog"

  // ---- DSv2 half ([[TxLogBatch]]): spark.read.format("txlog") and
  // the one streaming sink, writeStream.format("txlog")
  // ([[TxLogStreamingWrite]]). The table declares no micro-batch read
  // capability, so readStream falls back to the v1 Source half below:
  // `getTable` serves batch and streaming resolution alike and cannot
  // tell them apart, and the stream's schema adds the commit tag
  // columns a batch relation must not carry (Delta's source stays on
  // v1 for the same reason).

  /** Deliberately EMPTY: the real schema resolves lazily in
    * [[TxLogTable.schema]]. Both readStream and DataStreamWriter.start
    * probe getTableFromProvider (which always calls inferSchema)
    * before choosing between the v1 Source and the DSv2 table — and
    * that probe consumes ONLY capabilities, never the schema — so
    * resolving here would charge every stream start/restart one
    * head-state replay + live-footer read for nothing, and would break
    * sinks, which legitimately start on tables that do not exist yet.
    * The batch read path reads Table.schema() lazily and gets the full
    * loud resolution there. */
  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap
      ): StructType = new StructType()

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]
      ): org.apache.spark.sql.connector.catalog.Table = {
    // PARTITIONED BY (identity columns only — r15): validated here,
    // RECORDED by GraftCatalog.createTable as a `partcols` governance
    // commit in the log (the authority every later write resolves the
    // split from); bucket/transform partitioning stays loud
    Option(partitioning).getOrElse(Array.empty).foreach { t =>
      require(t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames().length == 1,
        s"txlog PARTITIONED BY supports identity (top-level plain " +
          s"column) partitioning only, got $t — cluster with " +
          "TxLog.optimize/optimizeBy (OPTIMIZE ... ZORDER BY) instead")
    }
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(properties)
    if (opts.containsKey("path"))
      new TxLogTable(batchDir(opts), asOfOf(opts),
        Option(schema).filter(_.nonEmpty), opts)
    else if (schema != null && schema.nonEmpty)
      // CREATE TABLE without LOCATION (a MANAGED table):
      // V2SessionCatalog.createTable probes getTable BEFORE the
      // metastore assigns the default table path, so there is no dir
      // to resolve yet — return a create-time descriptor; every
      // post-create resolution re-loads through the catalog and
      // carries the assigned location. Only a create probe carries
      // DECLARED columns — a pathless direct read arrives with the
      // empty inferSchema result and falls through to the loud error
      // below instead of a baffling capability failure on a pending
      // table.
      new TxLogPendingTable(schema)
    else
      throw new IllegalArgumentException(
        "txlog requires a table dir: spark.read.format(\"txlog\")" +
          ".load(dir) for direct reads; a MANAGED CREATE TABLE (no " +
          "LOCATION) must declare its columns")
  }

  /** The table of a catalog entry (which always has a location): what
    * [[getTable]] builds from the entry's options, carrying the entry
    * itself so that `readStream.table(t)` falls back to this provider's
    * v1 Source — the table declares no micro-batch read capability,
    * and Spark builds a v1 streaming fallback only from a table's
    * catalog entry. */
  private[txlog] def catalogTable(schema: StructType,
      opts: org.apache.spark.sql.util.CaseInsensitiveStringMap,
      entry: org.apache.spark.sql.catalyst.catalog.CatalogTable): TxLogTable =
    new TxLogTable(batchDir(opts), asOfOf(opts),
        Option(schema).filter(_.nonEmpty), opts)
        with org.apache.spark.sql.graftshim.V1FallbackTable {
      override def v1Table = entry
    }

  /** A catalog-declared schema (CREATE TABLE columns / CTAS) is
    * accepted: it resolves the table while the log is still empty —
    * the first-INSERT case — and is superseded by the log's own merged
    * schema the moment data exists ([[TxLogTable.schema]]). */
  override def supportsExternalMetadata(): Boolean = true

  private def batchDir(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "txlog batch read requires a single table dir — " +
        "spark.read.format(\"txlog\").load(dir)"))

  /** Time-travel options on a path load: `asOf`/`versionAsOf` (an
    * integer commit version — two spellings because `versionAsOf` is
    * the name catalog-table readers know from Delta) or
    * `timestampAsOf` (a timestamp literal parsed in the session
    * timezone, resolved to the latest commit at-or-before it — the
    * same rule SQL `TIMESTAMP AS OF` resolves through
    * [[graft.sources.txlog.GraftCatalog]]). */
  private def asOfOf(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Int = {
    def intOpt(name: String): Option[Int] =
      Option(options.get(name)).map(v => v.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"option $name must be an integer version, got '$v'")))
    val v = intOpt("asOf").orElse(intOpt("versionAsOf"))
    val ts = Option(options.get("timestampAsOf"))
    require(v.isEmpty || ts.isEmpty,
      "options asOf/versionAsOf and timestampAsOf are mutually exclusive")
    v.orElse(ts.map { t =>
      val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .stringToTimestamp(
          org.apache.spark.unsafe.types.UTF8String.fromString(t),
          java.time.ZoneId.of(
            org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
        .getOrElse(throw new IllegalArgumentException(
          s"option timestampAsOf: cannot parse timestamp '$t'"))
      graft.sources.TxLog.versionAsOfTimestamp(batchDir(options),
        Math.floorDiv(micros, 1000L))
    }).getOrElse(-1)
  }

  private def dirOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "txlog stream source requires .option(\"path\", <table dir>)"))

  /** Strict boolean option — see [[TxLogSource.strictBool]]. */
  private def boolOpt(parameters: Map[String, String], name: String): Boolean =
    TxLogSource.strictBool(parameters.get, name)

  /** `changeFeed=true` switches the source from add-set CDC (inserts
    * only, op-tagged) to the ROW-LEVEL change feed: each micro-batch
    * carries `_change_type`-tagged rows — deletion-vector pre-images
    * surface as `delete` / `update_preimage` alongside the adds — so a
    * downstream consumer can maintain state through DML, not just
    * appends (Delta's `readChangeFeed` streaming option). */
  private def cdfOf(parameters: Map[String, String]): Boolean =
    boolOpt(parameters, "changeFeed")

  // one merged-schema inference per stream start, not one per
  // sourceSchema/createSource call (the engine calls both)
  @volatile private var schemaMemo: Option[(String, StructType)] = None
  private def dataSchemaOf(ctx: SQLContext, dir: String): StructType =
    schemaMemo match {
      case Some((d, s)) if d == dir => s
      case _ =>
        val s = TxLogSource.dataSchema(ctx, dir)
        schemaMemo = Some((dir, s)); s
    }

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("txlog", StructType(dataSchemaOf(ctx, dirOf(parameters)) ++
      (if (cdfOf(parameters)) TxLogSource.CdfMetaFields
       else TxLogSource.MetaFields)))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val dir = dirOf(parameters)
    val floor = parameters.get("startingVersion") match {
      case Some("latest") => latestFloor(ctx, metadataPath, dir)
      case Some(v)        => TxLogSource.strictInt("startingVersion", v)
      case None           => 0
    }
    val cap = TxLogSource.capOf(parameters.get)
    val skipRewrites = boolOpt(parameters, "skipRewrites")
    require(!(skipRewrites && cdfOf(parameters)),
      "skipRewrites applies to add-set mode only: changeFeed mode " +
        "resolves row-level changes and already emits nothing for pure " +
        "rearrangement commits")
    val coarse = boolOpt(parameters, "coarseRewrites")
    require(!(coarse && !cdfOf(parameters)),
      "coarseRewrites applies to changeFeed mode only (add-set mode's " +
        "rewrite posture is skipRewrites)")
    new TxLogSource(ctx, dir, floor, cap, dataSchemaOf(ctx, dir),
      changeFeed = cdfOf(parameters), skipRewrites = skipRewrites,
      failOnDataLoss = boolOpt(parameters, "failOnDataLoss"),
      coarseRewrites = coarse)
  }

  /** `latest` binds at the FIRST start only: the resolved floor is
    * persisted in the query's metadata path (the engine-managed
    * per-source checkpoint dir), so a restart resumes from the
    * checkpointed offsets instead of re-resolving to the NEW head and
    * silently skipping every commit that landed while the query was
    * down — the same first-start-only contract Delta and Kafka sources
    * keep for their starting-offset options. */
  private def latestFloor(ctx: SQLContext, metadataPath: String,
                          dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(metadataPath, "graft-txlog-floor")
    val fs = p.getFileSystem(ctx.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt
      finally in.close()
    } else {
      val floor = TxLog.headVersion(dir) + 1
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      try out.write(floor.toString.getBytes("UTF-8")) finally out.close()
      floor
    }
  }
}

/** The sink-side SCHEMA-DRIFT guard
  * ([[graft.sources.txlog.TxLogStreamingWrite]] holds one instance per
  * query): a batch carrying columns the table does not have — a query
  * restarted with an evolved projection — FAILS LOUD by default
  * instead of silently widening the table under its readers' feet.
  * `mergeSchema=true` opts into ADDITIVE evolution: the new column
  * lands with the batch's segment, pre-evolution rows read null under
  * merged-schema reads, and any TAILING stream fails its own drift
  * guard and restarts onto the evolved schema (the fail-loud contract
  * stays with the readers). The table-column set is resolved ONCE per
  * query (first checked batch), so the per-batch check is a set
  * compare, not a metadata replay; batches MISSING table columns are
  * fine either way (merged-schema reads backfill null). Disabled in
  * Complete mode: each trigger REPLACES the table, so the batch
  * schema always wins. */
private[txlog] class TxLogSchemaDriftGuard(dir: String,
    mergeSchema: Boolean, enabled: Boolean) {
  // None until the first batch: the table may not exist at query start
  @volatile private var tableTypes: Option[Map[String, String]] = None
  private def typesOf(schema: StructType): Map[String, String] =
    schema.map(f => f.name -> f.dataType.catalogString).toMap
  def check(spark: org.apache.spark.sql.SparkSession, batchId: Long,
            schema: StructType): Unit = {
    if (!enabled) return
    val cols = tableTypes.getOrElse {
      val c = TxLog.visibleSchemaOf(spark, dir).toMap
      val resolved = if (c.isEmpty) typesOf(schema) else c
      tableTypes = Some(resolved); resolved
    }
    // a same-NAME type change is never additive: the conflicting
    // parquet types would fail every later merged-schema read with
    // an error that looks like corruption — refuse it outright
    val retyped = schema
      .flatMap(f => cols.get(f.name).filter(_ != f.dataType.catalogString)
        .map(t => s"${f.name} (${f.dataType.catalogString}, table has $t)"))
    if (retyped.nonEmpty)
      throw new IllegalStateException(
        s"txlog sink over $dir: batch $batchId changes column type(s): " +
          s"${retyped.mkString("; ")} — a type change cannot evolve " +
          "additively; cast the batch to the table's types.")
    val extra = schema.fieldNames.filterNot(cols.contains)
    // a case-only variant of an existing column — or two NEW columns
    // differing only in case within one batch — is a collision, not
    // evolution (Spark resolves case-insensitively by default; two
    // physical columns differing only in case make merged reads
    // ambiguous) — refuse it in both modes. Locale.ROOT: the guard
    // must fold case the way Spark's locale-independent resolution
    // does, not the JVM default locale's (Turkish 'I').
    def fold(c: String) = c.toLowerCase(java.util.Locale.ROOT)
    val lower = cols.keySet.map(fold)
    val caseClash = extra.filter(c => lower(fold(c))) ++
      extra.groupBy(fold).collect { case (_, vs) if vs.size > 1 => vs }
        .flatten
    if (caseClash.nonEmpty)
      throw new IllegalStateException(
        s"txlog sink over $dir: batch $batchId column(s) " +
          s"${caseClash.mkString(", ")} differ only in CASE from the " +
          "table's columns — rename the projection to match exactly.")
    if (extra.nonEmpty) {
      if (!mergeSchema)
        throw new IllegalStateException(
          s"txlog sink over $dir: batch $batchId carries column(s) " +
            s"${extra.mkString(", ")} the table does not have — the " +
            "query's schema evolved across a restart. Set " +
            ".option(\"mergeSchema\", \"true\") to evolve the table " +
            "additively, or project the batch to the table's columns.")
      // evolved: later batches conform
      tableTypes = Some(cols ++ typesOf(schema).view.filterKeys(extra.contains))
    }
  }
}

private[graft] object TxLogSource {
  /** Default admission cap: bounds the catch-up union width (and the
    * per-batch memory footprint) when the user sets nothing — the
    * Delta-source posture (maxFilesPerTrigger defaults bounded). */
  val DefaultMaxCommitsPerTrigger = 100

  // ---- strict option parsers (the sink's `mergeSchema` uses
  // strictBool too)

  /** Absent → false; anything but true/false fails loud — a typo must
    * not silently pick the default for a safety-relevant option. */
  def strictBool(get: String => Option[String], name: String): Boolean =
    get(name) match {
      case None => false
      case Some(v) if v.equalsIgnoreCase("true")  => true
      case Some(v) if v.equalsIgnoreCase("false") => false
      case Some(v) => throw new IllegalArgumentException(
        s"option $name must be true or false, got '$v'")
    }

  def strictInt(name: String, v: String): Int =
    v.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"option $name must be an integer, got '$v'"))

  /** The admission cap: default bounded, `"none"` = explicit opt-out
    * (one catch-up batch), `0` rejected (a silent stall). */
  def capOf(get: String => Option[String]): Option[Int] =
    get("maxCommitsPerTrigger") match {
      case Some("none") => None
      case Some(v) =>
        val n = strictInt("maxCommitsPerTrigger", v)
        require(n >= 1, s"maxCommitsPerTrigger must be >= 1, got $n " +
          "(0 would stall the stream silently); use \"none\" for unbounded")
        Some(n)
      case None => Some(DefaultMaxCommitsPerTrigger)
    }

  /** ADDED-column mid-stream drift guard: the merged schema `s`
    * records for the BATCH's own read set `segs` (segment or sidecar
    * names; bounded by the admission cap, never the table — no Spark
    * job on recorded segments, an inference over unrecorded ones),
    * failing loud on any field outside the stream's start-time schema
    * `physData`. Physical names `s` has DROPPED count as known: their
    * bytes persist in pre-drop segments, so a batch schema showing them
    * is history, not drift (without this, any batch touching a pre-drop
    * segment would fail the stream — and a restart could never fix
    * it). */
  def addedColumnDriftGuard(spark: org.apache.spark.sql.SparkSession,
      dir: String, s: TxLog.State, segs: Seq[String], physData: StructType): Unit =
    if (segs.nonEmpty) {
      val known = physData.fieldNames.toSet ++ s.dropped
      val drifted = TxLog.scanSegments(spark, dir, s, segs, mergeSchema = true)
        .schema.fieldNames.filterNot(known)
      if (drifted.nonEmpty)
        throw new IllegalStateException(
          s"txlog stream over $dir: table schema changed mid-stream " +
            s"(new column(s): ${drifted.mkString(", ")}). Restart the " +
            "query to pick up the evolved schema — continuing would " +
            "silently drop the new column(s) from delivered rows.")
    }

  val MetaFields: Seq[StructField] = Seq(
    StructField("_commit_version", LongType, nullable = false),
    StructField("_commit_op", StringType, nullable = false))

  /** changeFeed mode adds the row-level change tag. */
  val CdfMetaFields: Seq[StructField] = MetaFields :+
    StructField("_change_type", StringType, nullable = false)

  def dataSchema(ctx: SQLContext, dir: String): StructType =
    TxLog.read(ctx.sparkSession, dir, mergeSchema = true).schema

  def fullSchema(ctx: SQLContext, dir: String): StructType =
    StructType(dataSchema(ctx, dir) ++ MetaFields)
}

private[txlog] class TxLogSource(ctx: SQLContext, dir: String, floor: Int,
                                 maxCommitsPerTrigger: Option[Int],
                                 data: StructType,
                                 changeFeed: Boolean = false,
                                 skipRewrites: Boolean = false,
                                 failOnDataLoss: Boolean = false,
                                 coarseRewrites: Boolean = false)
    extends Source with SupportsTriggerAvailableNow {
  private val spark = ctx.sparkSession
  override val schema: StructType = StructType(data ++
    (if (changeFeed) TxLogSource.CdfMetaFields else TxLogSource.MetaFields))

  // The head state at stream start: its COLUMN MAPPING (`data`
  // carries LOGICAL labels, segment bytes carry PHYSICAL names — scan
  // physical, re-label each batch), its DROPPED physical names and the
  // scan record each batch's own entries extend. Physical names are
  // stable for the table's lifetime, so a mid-stream rename cannot
  // invalidate this (it only changes labels, which this stream pinned
  // at start).
  private val startState: TxLog.State = TxLog.state(dir)
  private val physData: StructType =
    StructType(data.map(f => f.copy(name = startState.physCol(f.name))))

  /** Highest commit version the engine has planned or committed —
    * the anchor the per-trigger cap advances from. Learned from
    * getBatch (replay + new batches) and commit() (restored offsets on
    * restart), so a restarted rate-limited stream resumes from its
    * checkpoint instead of re-capping from the floor. */
  @volatile private var progressed: Long = floor - 1L
  private def noteProgress(v: Long): Unit =
    if (v > progressed) progressed = v

  /** Head commit version — capped to `progressed + maxCommitsPerTrigger`
    * under admission control — or None before the first deliverable
    * commit (the engine then plans no batch). O(tail) metadata reads. */
  override def getOffset: Option[Offset] = {
    val head = TxLog.headVersion(dir).toLong
    if (head < floor) None
    else {
      val capped = maxCommitsPerTrigger
        .map(m => math.min(head, math.max(progressed, floor - 1L) + m))
        .getOrElse(head)
      if (capped < floor) None else Some(LongOffset(capped))
    }
  }

  /** Highest END version the ENGINE has committed through THIS source
    * instance — `Long.MinValue` = unknown (fresh/restarted instance).
    * Feeds `failOnDataLoss`: a range strictly newer than a KNOWN
    * committed ceiling cannot be a restart re-plan, so plan-time
    * failure there is safe; with the ceiling unknown the check stays
    * lazy (the no-wedge restart posture). */
  @volatile private var committedCeiling: Long = Long.MinValue
  override def commit(end: Offset): Unit = {
    noteProgress(ver(end))
    if (ver(end) > committedCeiling) committedCeiling = ver(end)
  }

  // ---- admission control the ENGINE understands (Delta's shape:
  // a v1 Source that also implements SupportsTriggerAvailableNow).
  // Without this, Trigger.AvailableNow wraps the source and captures
  // ONE end offset up front — the per-trigger cap in getOffset is
  // bypassed and a 10k-commit backlog becomes one giant union batch.
  // With it, the engine drives latestOffset(start, limit) per trigger:
  // the cap holds, and the run self-terminates at the bound captured
  // by prepareForTriggerAvailableNow.

  /** Bound captured at AvailableNow start: this run drains commits up
    * to HERE and terminates; later commits wait for the next run. */
  @volatile private var availableNowBound: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(TxLog.headVersion(dir).toLong)

  override def getDefaultReadLimit: ReadLimit =
    maxCommitsPerTrigger.map(m => ReadLimit.maxFiles(m))
      .getOrElse(ReadLimit.allAvailable())

  private def verV2(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }

  /** Next end offset from `start` under the per-trigger commit cap
    * (and the AvailableNow bound when armed); null = no new data,
    * which under AvailableNow is the termination signal. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val head0 = TxLog.headVersion(dir).toLong
    val head = availableNowBound.fold(head0)(math.min(head0, _))
    if (head < floor) return null
    val base = Option(start).map(verV2).getOrElse(floor - 1L)
    val capped = maxCommitsPerTrigger
      .map(m => math.min(head, math.max(base, floor - 1L) + m))
      .getOrElse(head)
    if (capped < floor || capped <= base) null else LongOffset(capped)
  }

  // after a checkpoint restart the engine replays offsets as
  // SerializedOffset — LongOffset's json IS the number
  private def ver(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    noteProgress(ver(end))
    val from = math.max(floor.toLong, start.map(ver(_) + 1).getOrElse(floor.toLong)).toInt
    val to = ver(end).toInt
    val entries = (from to to).map(TxLog.readEntry(dir, _))
    // DROPPED-column drift guard (the add-column twin lives below): a
    // segment's schema cannot show a drop — new segments simply lack
    // the physical column and the explicit schema backfills null — so
    // catch the drop COMMIT itself as it streams through its batch
    // range. Every post-start drop passes through exactly one range
    // (offsets are dense versions); pre-start drops are in
    // `startState.dropped` and deliver fine. Zero extra reads: the
    // entries are read anyway.
    val lost = entries.flatMap(_.drops).filterNot(startState.dropped)
      .filter(physData.fieldNames.contains)
      .distinct
    if (lost.nonEmpty)
      throw new IllegalStateException(
        s"txlog stream over $dir: column(s) ${lost.mkString(", ")} " +
          "dropped mid-stream. Restart the query to pick up the evolved " +
          "schema — continuing would silently deliver null where the " +
          "stream's consumers still expect the dropped column's data.")
    // REWRITE commits (add+remove) re-materialize rows that already
    // streamed — in add-set mode, delivering one would push the whole
    // rewritten table through this stream as if it were new rows (an
    // aggregating consumer double-counts everything). PURE
    // REARRANGEMENTS (optimize/compact/dv_coalesce — RearrangeOps,
    // proven row-neutral) advance rowlessly by DEFAULT: they provably
    // change no logical row, and failing on them would let a nightly
    // OPTIMIZE kill every default tailing stream (the reference's
    // streaming source likewise ignores dataChange=false files).
    // CONTENT-CHANGING rewrites (CoW DML/replace_where/restore) fail
    // loud by default (Delta's posture for change commits);
    // skipRewrites=true advances past them rowlessly too. changeFeed
    // mode resolves changes row-level instead and emits nothing for
    // pure rearrangements. Remove-only and DV-only commits are not
    // rewrites: they add no bytes to deliver.
    val deliverable =
      if (changeFeed) Seq.empty
      else {
        val (rewrites, adds) = entries.filter(_.add.nonEmpty)
          .partition(_.remove.nonEmpty)
        if (!skipRewrites)
          rewrites.find(r => !TxLog.RearrangeOps(r.op)).foreach { r =>
            throw new IllegalStateException(
              s"txlog stream over $dir: commit ${r.version} is a content-changing " +
                s"rewrite (op=${r.op}) — its add set re-materializes rows this " +
                "stream already delivered; continuing would re-emit the " +
                "rewritten data as new rows. Set " +
                ".option(\"skipRewrites\", \"true\") to advance past rewrite " +
                "commits rowlessly, or read .option(\"changeFeed\", \"true\") " +
                "for row-level changes.")
          }
        adds
      }
    // VACUUM↔READER interlock: a vacuum that ran past this stream's
    // unprocessed offset must surface as a typed retention error, not
    // a mid-job FileNotFoundException that reads like table
    // corruption. Scoped to the commits this mode will actually READ —
    // a vacuumed rewrite that skipRewrites (or the change feed's
    // rearrangement filter) advances past rowlessly must NOT wedge the
    // stream on files it never needed. The failure is LAZY (a
    // schema-correct frame that throws at execution): on restart the
    // engine re-invokes getBatch over the last committed range purely
    // to re-initialize the source — that frame is discarded (or
    // deduped by the sink's batch id), so a plan-time throw would
    // wedge a legitimate restart whose already-delivered bytes were
    // since vacuumed, while a batch that genuinely needs the data
    // still dies with the typed error the moment it runs.
    // (version, rows' segments, every name this mode will read):
    // change-feed mode reads DV sidecars and their base segments even
    // for add-empty commits, skips pure rearrangements entirely, and
    // for a cdc-recording commit (CoW DML under enableChangeDataFeed)
    // reads the cdc sidecars INSTEAD of the rewrite's add set
    val toRead: Seq[(Int, Seq[String], Seq[String])] =
      if (changeFeed)
        entries.filterNot(e => TxLog.RearrangeOps(e.op))
          .filter(e => e.add.nonEmpty || e.dvs.nonEmpty || e.cdc.nonEmpty)
          .map(e => (e.version, if (e.cdc.nonEmpty) e.cdc.map(_._1) else e.add,
            TxLog.changeReads(e)))
      else deliverable.map(e => (e.version, e.add, e.add))
    for ((v, _, all) <- toRead) {
      val gone = TxLog.missingAdds(dir, all)
      if (gone.nonEmpty)
        return dataLossBatch(from,
          s"txlog stream over $dir: commit $v's data was vacuumed " +
            s"(${gone.size} file(s) missing, e.g. ${gone.head}) — " +
            "retention passed this stream's offset. Increase the vacuum " +
            "retention, or restart the stream from a newer startingVersion.")
    }
    // schema-drift guard, ADDED-column side (the drop guard lives
    // above; Delta's fail-loud streaming contract — a restart
    // re-resolves the merged schema): the schema the log records for
    // THIS BATCH's delivered segments only — O(batch), bounded by the
    // trigger cap, never a table-wide listing — any field outside the
    // start-time schema fails the stream (continuing would silently
    // drop it from every row). Scoped to `toRead`, never a skipped
    // rewrite or rearrangement: their (possibly vacuumed) files are
    // not delivered, and an added column always trips the guard on the
    // add-column commit's own batch anyway.
    val record = TxLog.withCommits(startState, entries)
    TxLogSource.addedColumnDriftGuard(spark, dir, record, toRead.flatMap(_._2), physData)
    if (changeFeed) {
      // row-level mode: the slice may contain a semi JOIN (deletion-
      // vector pre-image resolution), so it is wrapped as ONE
      // streaming-tagged leaf — per-leaf tagging would make the engine
      // plan a stream-stream join out of an already-resolved batch.
      // The mixed-exactness guard (an unrecorded content rewrite in a
      // range with exact cdc rows) must fail LAZILY here, like the
      // vacuum interlock: a plan-time throw would wedge restarts —
      // the engine re-plans the last COMMITTED range on every start,
      // so a stream that already delivered such a range could never
      // re-initialize. `coarseRewrites=true` (stream option) opts into
      // op-tagged delivery instead, mirroring the batch surface.
      try TxLog.changeFeedSlice(spark, dir, from, to, data,
        coarseRewrites = coarseRewrites) match {
        case Some(body) => ColumnShim.asStreamingRdd(body)
        case None       => ColumnShim.emptyStreaming(spark, schema)
      } catch {
        case e: IllegalStateException =>
          dataLossBatch(from, e.getMessage +
            " [streaming: set .option(\"coarseRewrites\", \"true\") to " +
            "accept op-tagged rewrite output, or restart from a newer " +
            "startingVersion]")
      }
    } else if (deliverable.isEmpty) ColumnShim.emptyStreaming(spark, schema)
    else ColumnShim.asStreaming(TxLog.addSets(spark, dir, record, deliverable, physData))
  }

  /** The vacuum↔reader interlock's failure shape. LAZY by default (a
    * schema-correct frame that throws at execution): on restart the
    * engine re-invokes getBatch over the last committed range purely
    * to re-initialize and DISCARDS the frame — a plan-time throw there
    * would wedge a legitimate restart whose already-delivered bytes
    * were since vacuumed. The lazy form's acknowledged gap: a sink
    * that never executes the frame (a no-op foreachBatch) commits the
    * offset and silently skips the range. `failOnDataLoss=true` closes
    * it where it is provably safe: when the batch range is STRICTLY
    * newer than an offset this instance has seen the engine COMMIT, it
    * cannot be the restart re-plan, so the throw moves to plan time
    * and even a no-op sink cannot commit past vacuumed data. (The
    * first batch after a restart has no known ceiling and stays lazy —
    * the restart posture always wins a tie.) */
  private def dataLossBatch(from: Int, msg: String): DataFrame = {
    if (failOnDataLoss && committedCeiling > Long.MinValue &&
        from > committedCeiling)
      throw new IllegalStateException(msg +
        " (failOnDataLoss=true: failing at plan time — this range is " +
        "strictly newer than the last committed offset, so no restart " +
        "re-plan can legitimately discard it)")
    val failing = spark.sparkContext
      .parallelize(Seq.empty[org.apache.spark.sql.Row], 1)
      .mapPartitions[org.apache.spark.sql.Row](_ =>
        throw new IllegalStateException(msg))
    ColumnShim.asStreamingRdd(spark.createDataFrame(failing, schema))
  }

  override def stop(): Unit = ()
}
