package graft.sources.txlog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{DelegatingCatalogExtension, Identifier, ProcedureCatalog, Table}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.graftshim.CatalogShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.TxLog

/** Session-catalog extension — the library's Delta-parity deployment
  * switch alongside `spark.sql.extensions`:
  *
  * {{{
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *   --conf spark.sql.catalog.spark_catalog=graft.sources.txlog.GraftCatalog
  * }}}
  *
  * Everything delegates to the built-in `V2SessionCatalog` (this class
  * stores no metadata of its own); it adds exactly the two surfaces
  * stock Spark cannot route to a provider-backed table:
  *
  *  1. '''SQL time travel.''' `SELECT … FROM t VERSION AS OF 3` /
  *     `TIMESTAMP AS OF '…'` (and the reader twins
  *     `spark.read.option("versionAsOf", 3).table("t")`) resolve
  *     through `TableCatalog.loadTable(ident, version | timestamp)` —
  *     the default session catalog throws
  *     `UNSUPPORTED_FEATURE.TIME_TRAVEL` for every table. For txlog
  *     tables the override returns a [[TxLogTable]] pinned at the
  *     requested commit (timestamps resolve through
  *     [[TxLog.versionAsOfTimestamp]], Delta's `timestampAsOf` rule:
  *     latest commit at-or-before the instant, loud before the first).
  *     Non-txlog tables keep Spark's exact stock error. Writes and
  *     DML through a time-travel relation stay loud via the existing
  *     `asOf` guards in [[TxLogTable]].
  *
  *  2. '''SQL maintenance procedures''' (Spark 4 `CALL`, the Iceberg
  *     procedure surface): `CALL system.history(table => 't')`,
  *     `vacuum`, `optimize`, `compact`, `restore` — each a thin bridge
  *     into the SAME engine entry points the Scala API uses, returning
  *     a one-row summary (or the history relation) as a [[LocalScan]].
  *     The `table` argument takes a catalog name or a raw table dir.
  *
  * Time-travel reads arrive at the scan with full segment pruning and
  * parquet pushdown — [[TxLogScanBuilder]] takes `asOf` as a first-class
  * argument — so `VERSION AS OF` costs exactly what a pinned
  * programmatic read costs: no extra metadata replay, no full scan. */
class GraftCatalog extends DelegatingCatalogExtension with ProcedureCatalog {

  /** (options, declared schema) when `ident` names a txlog provider
    * table, None otherwise (so non-txlog tables fall through to
    * Spark's stock behavior, errors included). Missing tables
    * propagate the delegate's own NoSuchTableException. With a custom
    * session catalog installed, `V2SessionCatalog.loadTable`
    * deliberately returns the raw `V1Table` and leaves provider
    * conversion to the extension (`hasCustomSessionCatalog` gates its
    * builtin unwrap — the contract DeltaCatalog builds on too), so
    * this conversion is not optional: without it every plain read of
    * a txlog catalog table would fall into the V1 `DataSource` path
    * and fail. */
  private def txlogParts(
      ident: Identifier): Option[(org.apache.spark.sql.util.CaseInsensitiveStringMap,
                                  org.apache.spark.sql.types.StructType)] =
    CatalogShim.v1DataSourceOptions(super.loadTable(ident)) match {
      case Some((p, opts, schema)) if p.equalsIgnoreCase("txlog") =>
        Some((opts, schema))
      case _ => None
    }

  /** PATH-addressed tables in SQL — `SELECT … FROM txlog.`/dir``
    * (Delta's `delta.`/path`` spelling): the parser hands the catalog
    * an identifier with namespace `txlog` and the path as the name,
    * and the catalog answers it directly — the same trick DeltaCatalog
    * uses, because Spark's own `ResolveSQLOnFile` rejects non-file
    * sources for direct queries. A path always carries a separator,
    * so a genuine database named `txlog` is never shadowed. DML and
    * time travel compose (the relation IS a TxLogTable). */
  private def pathIdent(ident: Identifier): Option[String] =
    if (ident.namespace.length == 1 &&
        ident.namespace()(0).equalsIgnoreCase("txlog") &&
        ident.name.contains("/")) Some(ident.name)
    else None

  /** The conversion the builtin catalog runs for the default session
    * catalog: route through the provider, so catalog resolution and a
    * path `load()` build the same Tables (external schema for the
    * empty-table case, table properties as the construction-time
    * options), plus the catalog entry as the v1 streaming fallback. */
  override def loadTable(ident: Identifier): Table =
    pathIdent(ident) match {
      case Some(p) => new TxLogTable(p, -1)
      case None =>
        val t = super.loadTable(ident)
        CatalogShim.v1DataSourceOptions(t) match {
          case Some((pr, opts, schema)) if pr.equalsIgnoreCase("txlog") =>
            new TxLogSourceProvider().catalogTable(schema, opts,
              CatalogShim.catalogEntry(t).get)
          case _ => t
        }
    }

  override def loadTable(ident: Identifier, version: String): Table = {
    def pinned(dir: String, opts: org.apache.spark.sql.util.CaseInsensitiveStringMap,
               schema: org.apache.spark.sql.types.StructType): Table = {
      val v = version.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"txlog VERSION AS OF takes an integer commit version, got '$version'"))
      new TxLogTable(dir, v, Option(schema).filter(_.nonEmpty), opts)
    }
    pathIdent(ident) match {
      case Some(p) =>
        pinned(p, org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
          new org.apache.spark.sql.types.StructType())
      case None => txlogParts(ident) match {
        case Some((opts, schema)) => pinned(dirOfOpts(opts), opts, schema)
        case None => super.loadTable(ident, version)
      }
    }
  }

  /** `timestampMicros` is the session-timezone-resolved instant the
    * engine hands every `TableCatalog` (microseconds since epoch);
    * the commit clock is millisecond-grained, so floor-divide. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    def pinned(dir: String, opts: org.apache.spark.sql.util.CaseInsensitiveStringMap,
               schema: org.apache.spark.sql.types.StructType): Table =
      new TxLogTable(dir,
        TxLog.versionAsOfTimestamp(dir, Math.floorDiv(timestampMicros, 1000L)),
        Option(schema).filter(_.nonEmpty), opts)
    pathIdent(ident) match {
      case Some(p) =>
        pinned(p, org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
          new org.apache.spark.sql.types.StructType())
      case None => txlogParts(ident) match {
        case Some((opts, schema)) => pinned(dirOfOpts(opts), opts, schema)
        case None => super.loadTable(ident, timestampMicros)
      }
    }
  }

  private def dirOfOpts(
      opts: org.apache.spark.sql.util.CaseInsensitiveStringMap): String =
    Option(opts.get("path")).getOrElse(throw new IllegalStateException(
      "txlog catalog table carries neither a path option nor a LOCATION"))

  /** ALTER TABLE on txlog tables applies to the LOG, not the
    * metastore copy: the log is the schema/governance authority (a
    * plain read re-derives everything from it), so delegating these
    * to `V2SessionCatalog.alterTable` would update catalog metadata
    * the reads ignore — an ALTER that silently does nothing. Each
    * supported change bridges to the engine entry point whose
    * Scaladoc names exactly that statement: RENAME/DROP COLUMN are
    * the column-mapping commits, SET/DROP DEFAULT the defaults
    * commits, ADD/DROP CONSTRAINT the CHECK commits (with the
    * existing-rows validation scan), and the `changeDataFeed` table
    * property toggles CDF recording. Property changes the log does
    * not own (comments, arbitrary user properties) still delegate to
    * the metastore. Granularity: ALL changes VALIDATE
    * before ANY commits — shape checks (nested names, constraint
    * kinds, property values) and the metastore delegate's acceptance
    * both happen up front, so the statically-rejectable failure modes
    * leave the statement un-applied. The log-side commits then land
    * in statement order; only a DATA-dependent failure (ADD
    * CONSTRAINT whose existing-rows validation scan finds violations)
    * can still leave the earlier changes of one statement standing,
    * exactly as if issued as separate statements (single-change
    * ALTERs, the common shape, are atomic). Shapes the log cannot
    * represent —
    * ADD COLUMNS (the schema is segment-footer-derived; evolution
    * happens by writing data with the widened schema, `mergeSchema`
    * style), type/nullability/position changes — fail loud with the
    * supported route named rather than landing metastore-only. */
  override def alterTable(ident: Identifier,
                          changes: org.apache.spark.sql.connector.catalog.TableChange*): Table =
    pathIdent(ident).map(p =>
        (new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.singletonMap("path", p)),
         new org.apache.spark.sql.types.StructType()))
      .orElse(txlogParts(ident)) match {
      case Some((opts, _)) =>
        import org.apache.spark.sql.connector.catalog.TableChange._
        val dir = dirOfOpts(opts)
        val spark = SparkSession.active
        def one(names: Array[String], what: String): String = {
          require(names.length == 1,
            s"txlog $what supports top-level columns only, " +
              s"got ${names.mkString(".")}")
          names(0)
        }
        // PASS 1 — validate every change and build its commit thunk;
        // nothing (log or metastore) commits until the whole statement
        // validates, so a late bad change cannot half-apply the ALTER
        val toCatalog = Seq.newBuilder[org.apache.spark.sql.connector.catalog.TableChange]
        val logSide = Seq.newBuilder[() => Unit]
        changes.foreach {
          case rc: RenameColumn =>
            val c = one(rc.fieldNames, "RENAME COLUMN")
            logSide += (() => TxLog.renameColumn(spark, dir, c, rc.newName))
          case dc: DeleteColumn =>
            val c = one(dc.fieldNames, "DROP COLUMN")
            logSide += (() =>
              if (!(dc.ifExists == java.lang.Boolean.TRUE) ||
                  TxLog.visibleSchemaOf(spark, dir).exists(_._1 == c))
                TxLog.dropColumn(spark, dir, c))
          case ud: UpdateColumnDefaultValue =>
            val c = one(ud.fieldNames, "ALTER COLUMN DEFAULT")
            Option(ud.newDefaultValue).map(_.trim).filter(_.nonEmpty) match {
              case Some(sql) =>
                logSide += (() => TxLog.setColumnDefault(dir, c, sql))
              case None =>
                logSide += (() => TxLog.unsetColumnDefault(dir, c))
            }
          case ac: AddConstraint => ac.constraint match {
            case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
              logSide += (() =>
                TxLog.addConstraint(spark, dir, ck.name, ck.predicateSql))
            case other => throw new UnsupportedOperationException(
              s"txlog supports CHECK constraints only, got $other")
          }
          case dcn: DropConstraint =>
            logSide += (() =>
              if (!dcn.ifExists || TxLog.constraintsOf(dir).contains(dcn.name))
                TxLog.dropConstraint(dir, dcn.name))
          case sp: SetProperty if sp.property.equalsIgnoreCase("changeDataFeed") =>
            val enable = sp.value.toLowerCase match {
              case "true"  => true
              case "false" => false
              case v => throw new IllegalArgumentException(
                s"table property changeDataFeed must be true/false, got '$v'")
            }
            logSide += (() =>
              if (enable) TxLog.enableChangeDataFeed(dir)
              else TxLog.disableChangeDataFeed(dir))
          case rp: RemoveProperty if rp.property.equalsIgnoreCase("changeDataFeed") =>
            logSide += (() => TxLog.disableChangeDataFeed(dir))
          case p @ (_: SetProperty | _: RemoveProperty) => toCatalog += p
          case unsupported => throw new UnsupportedOperationException(
            s"txlog tables do not support this ALTER shape: $unsupported — " +
              "schema EVOLUTION happens by writing data with the widened " +
              "schema (mergeSchema appends); supported ALTERs: RENAME/DROP " +
              "COLUMN, SET/DROP DEFAULT, ADD/DROP CHECK CONSTRAINT, " +
              "SET TBLPROPERTIES('changeDataFeed')")
        }
        // PASS 2 — metastore delegate first (its rejection leaves the
        // log untouched), then the log commits in statement order
        val rest = toCatalog.result()
        if (rest.nonEmpty) super.alterTable(ident, rest: _*)
        logSide.result().foreach(_.apply())
        loadTable(ident)
      case None => super.alterTable(ident, changes: _*)
    }

  /** `ALTER TABLE … ADD CONSTRAINT` is rejected at ANALYSIS unless the
    * catalog declares constraint support — declare it so the statement
    * reaches [[alterTable]], which bridges CHECK constraints into the
    * log's governance commits. */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] = {
    val s = new java.util.HashSet[org.apache.spark.sql.connector.catalog.TableCatalogCapability](
      super.capabilities())
    s.add(org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)
    s
  }

  /** Declaring constraint support makes `CREATE TABLE (…, CONSTRAINT …
    * CHECK …)` analyzable, but the delegate stores constraints nowhere
    * (and a txlog constraint belongs in the LOG, whose first commit
    * does not exist yet at CREATE time) — reject loud rather than
    * silently dropping the contract; ALTER after create is the
    * supported route. */
  override def createTable(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    require(info.constraints == null || info.constraints.isEmpty,
      "constraints at CREATE TABLE are not supported — create the table, " +
        "then ALTER TABLE ... ADD CONSTRAINT <name> CHECK (...) (recorded " +
        "as a governance commit in the table log)")
    val created = super.createTable(ident, info)
    // PARTITIONED BY on a txlog table (validated as identity columns by
    // the provider's getTable probe inside super.createTable): record
    // the spec in the LOG immediately — the log is the authority every
    // later write resolves the partition split from, so a CTAS's own
    // insert (which runs right after this) already splits. Recording
    // here rather than in getTable keeps the provider probe pure, and
    // works for MANAGED tables whose location only exists post-create.
    val parts = Option(info.partitions).getOrElse(Array.empty)
    if (parts.nonEmpty) txlogParts(ident).foreach { case (opts, _) =>
      try TxLog.setPartitionColumns(dirOfOpts(opts),
        parts.toSeq.map(_.references()(0).fieldNames()(0)))
      catch {
        // spec rejection (location already holds data / a different
        // spec): drop the phantom registration ONLY when the location
        // holds no committed table — then a corrected retry doesn't
        // hit TableAlreadyExists and nothing real is lost. When the
        // location DOES hold a live txlog table (exactly the
        // CREATE-OR-REPLACE-with-new-spec case: ReplaceTableExec
        // already dropped the old registration before this ran, so
        // dropping again would leave intact data UNREGISTERED —
        // ADVICE r15), keep the registration pointing at the
        // surviving data and let the error explain.
        case scala.util.control.NonFatal(e) =>
          val hasData =
            try TxLog.headVersion(dirOfOpts(opts)) >= 0
            catch { case scala.util.control.NonFatal(_) => false }
          if (!hasData)
            try super.dropTable(ident)
            catch { case scala.util.control.NonFatal(_) => () }
          throw e
      }
    }
    created
  }

  // ---- ProcedureCatalog: CALL system.<proc>(...) ----

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val known = ident.namespace.map(_.toLowerCase) sameElements Array("system")
    if (!known) throw new RuntimeException(
      s"procedure namespace ${ident.namespace.mkString(".")} not found — " +
        s"graft procedures live in `system`: CALL system.<name>(...)")
    GraftProcedures.byName.getOrElse(ident.name.toLowerCase,
      throw new RuntimeException(
        s"procedure system.${ident.name} not found — available: " +
          GraftProcedures.byName.keys.toSeq.sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || (namespace.map(_.toLowerCase) sameElements Array("system")))
      GraftProcedures.byName.keys.toArray.sorted
        .map(n => Identifier.of(Array("system"), n))
    else Array.empty
}

/** The procedure inventory. Each is UnboundProcedure AND
  * BoundProcedure in one object (`bind` is the identity — parameters
  * are static; the engine's `ProcedureArgumentCoercion` casts the call
  * arguments to the declared parameter types and fills declared
  * defaults, so `call` reads a fully-typed row positionally). Results
  * come back as ONE [[LocalScan]]: procedure output is metadata-sized
  * by construction (a summary row, or the commit history — O(versions),
  * the same rows the Scala API's `history` frame holds), never data. */
private[txlog] object GraftProcedures {

  private def p(name: String, t: DataType) = ProcedureParameter.in(name, t).build()
  private def pd(name: String, t: DataType, default: String) =
    ProcedureParameter.in(name, t).defaultValue(default).build()

  private abstract class Proc(override val name: String,
                              override val description: String,
                              params: Array[ProcedureParameter],
                              resultSchema: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    // every procedure mutates or reads live table state
    override def isDeterministic: Boolean = false
    def run(spark: SparkSession, args: InternalRow): Seq[InternalRow]
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val out = run(SparkSession.active, input).toArray
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = resultSchema
      }).iterator()
    }
  }

  /** `table` argument: a raw table dir (anything with a path
    * separator / URI scheme) or a session-catalog table name resolved
    * in the current database — which must be a txlog table. */
  private def dirOf(spark: SparkSession, table: String): String =
    if (table.contains("/")) table
    else {
      val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val ct = spark.sessionState.catalog.getTableMetadata(id)
      require(ct.provider.exists(_.equalsIgnoreCase("txlog")),
        s"$table is not a txlog table (provider=${ct.provider.getOrElse("none")})")
      ct.storage.properties.getOrElse("path",
        org.apache.spark.sql.catalyst.catalog.CatalogUtils.URIToString(ct.location))
    }

  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString
  private def strOpt(r: InternalRow, i: Int): Option[String] =
    if (r.isNullAt(i)) None else Some(str(r, i))
  private def csv(s: Option[String]): Seq[String] =
    s.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  private val history = new Proc("history",
    "commit history of a txlog table: version, op, segments added/removed",
    Array(p("table", StringType)),
    StructType(Seq(StructField("version", LongType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("n_added", LongType, nullable = false),
      StructField("n_removed", LongType, nullable = false)))) {
    override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] =
      TxLog.history(spark, dirOf(spark, str(a, 0)))
        .queryExecution.executedPlan.executeCollect().toSeq
  }

  private val vacuum = new Proc("vacuum",
    "delete segments unreferenced by the last keep_versions snapshots " +
      "(or, with retain_hours, by any snapshot younger than the cutoff " +
      "— Delta's RETAIN spelling)",
    Array(p("table", StringType), pd("keep_versions", IntegerType, "2"),
      pd("dry_run", BooleanType, "false"),
      pd("retain_hours", DoubleType, "NULL")),
    StructType(Seq(StructField("removed_files", LongType, nullable = false)))) {
    override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
      val dir = dirOf(spark, str(a, 0))
      val removed =
        if (a.isNullAt(3)) TxLog.vacuum(dir, a.getInt(1),
          dryRun = a.getBoolean(2))
        else {
          // the same mutual exclusion the VACUUM statement enforces —
          // a non-default keep_versions alongside retain_hours would
          // be silently ignored otherwise (2 = the declared default,
          // indistinguishable from an explicit 2: harmless, same
          // horizon semantics as omitting it)
          require(a.getInt(1) == 2,
            "vacuum takes keep_versions or retain_hours, not both")
          TxLog.vacuumRetain(dir,
            (a.getDouble(3) * 3600 * 1000).toLong, dryRun = a.getBoolean(2))
        }
      Seq(InternalRow(removed.size.toLong))
    }
  }

  private val optimize = new Proc("optimize",
    "rewrite live segments range-clustered by sort_cols; with " +
      "where_col/lo/hi, only segments whose stats intersect the frame",
    Array(p("table", StringType), p("sort_cols", StringType),
      pd("num_segments", IntegerType, "4"),
      pd("stats_cols", StringType, "NULL"),
      pd("where_col", StringType, "NULL"),
      pd("where_lo", StringType, "NULL"), pd("where_hi", StringType, "NULL")),
    StructType(Seq(StructField("version", LongType, nullable = true),
      StructField("rewritten", BooleanType, nullable = false)))) {
    override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
      val dir = dirOf(spark, str(a, 0))
      val sortCols = csv(Some(str(a, 1)))
      val n = a.getInt(2)
      val stats = csv(strOpt(a, 3))
      val v = strOpt(a, 4) match {
        case Some(c) =>
          val (lo, hi) = (strOpt(a, 5), strOpt(a, 6))
          require(lo.isDefined && hi.isDefined,
            "optimize: where_col requires where_lo and where_hi")
          TxLog.optimizeWhere(spark, dir, c, lo.get, hi.get, sortCols, n, stats)
        case None => Some(TxLog.optimize(spark, dir, sortCols, n, stats))
      }
      Seq(InternalRow(v.map(x => Long.box(x.toLong)).orNull, v.isDefined))
    }
  }

  private val compact = new Proc("compact",
    "consolidate live segments (all into one; with small_bytes, only " +
      "segments under the threshold, binned to target_bytes)",
    Array(p("table", StringType), pd("small_bytes", LongType, "NULL"),
      pd("target_bytes", LongType, "0"), pd("stats_cols", StringType, "NULL")),
    StructType(Seq(StructField("version", LongType, nullable = true),
      StructField("rewritten", BooleanType, nullable = false)))) {
    override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
      val dir = dirOf(spark, str(a, 0))
      val v =
        if (a.isNullAt(1)) Some(TxLog.compact(spark, dir))
        else TxLog.compactSmall(spark, dir, a.getLong(1), csv(strOpt(a, 3)),
          targetBytes = a.getLong(2))
      Seq(InternalRow(v.map(x => Long.box(x.toLong)).orNull, v.isDefined))
    }
  }

  private val restore = new Proc("restore",
    "roll the table back to a prior version as a NEW commit (data, " +
      "deletion vectors, column mapping, constraints, defaults)",
    Array(p("table", StringType), p("version", IntegerType)),
    StructType(Seq(StructField("restored_to", LongType, nullable = false),
      StructField("new_version", LongType, nullable = false)))) {
    override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
      val target = a.getInt(1)
      val v = TxLog.restore(dirOf(spark, str(a, 0)), target)
      Seq(InternalRow(target.toLong, v.toLong))
    }
  }

  private val analyze = new Proc("analyze",
    "recompute per-segment min/max stats (and optionally bloom " +
      "sidecars) for the named columns — makes an existing layout " +
      "prunable without rewriting data",
    Array(p("table", StringType), p("stats_cols", StringType),
      pd("bloom_cols", StringType, "NULL")),
    StructType(Seq(StructField("version", LongType, nullable = true),
      StructField("recomputed", BooleanType, nullable = false)))) {
    override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
      val v = TxLog.analyze(spark, dirOf(spark, str(a, 0)),
        csv(Some(str(a, 1))), csv(strOpt(a, 2)))
      Seq(InternalRow(v.map(x => Long.box(x.toLong)).orNull, v.isDefined))
    }
  }

  private val clone_ = new Proc("clone",
    "shallow-clone the table to target_path: a new log whose first " +
      "commit references the source segments by path — zero data copied",
    Array(p("table", StringType), p("target_path", StringType)),
    StructType(Seq(StructField("version", LongType, nullable = false)))) {
    override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] =
      Seq(InternalRow(
        TxLog.cloneShallow(dirOf(spark, str(a, 0)), str(a, 1)).toLong))
  }

  private val dvCoalesce = new Proc("dv_coalesce",
    "fold accumulated deletion-vector sidecars down to max_sidecars " +
      "per segment (MoR read-amplification maintenance; no data rewrite)",
    Array(p("table", StringType), pd("max_sidecars", IntegerType, "1")),
    StructType(Seq(StructField("version", LongType, nullable = true),
      StructField("coalesced", BooleanType, nullable = false)))) {
    override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
      val v = TxLog.coalesceDvs(spark, dirOf(spark, str(a, 0)), a.getInt(1))
      Seq(InternalRow(v.map(x => Long.box(x.toLong)).orNull, v.isDefined))
    }
  }

  val byName: Map[String, UnboundProcedure] =
    Seq(history, vacuum, optimize, compact, restore,
      analyze, clone_, dvCoalesce).map(x => x.name -> x).toMap
}
