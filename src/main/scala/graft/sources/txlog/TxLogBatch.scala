package graft.sources.txlog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.graftshim.{CatalystPushdownScanBuilder, ParquetDelegate}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.TxLog

/** DSv2 BATCH half of the `txlog` format —
  * `spark.read.format("txlog").load(dir)` / SQL over a catalog table,
  * and the WRITE half (`INSERT INTO` / `df.write.format("txlog")`) —
  * with PLAN-INTEGRATED segment pruning: the optimizer pushes the
  * query's resolved filters into [[TxLogScanBuilder]], which routes
  * them through the same stats+bloom triage every other
  * arbitrary-predicate surface uses ([[TxLog.dsv2ScanInfo]] →
  * `triageByBounds`), so a `WHERE day = X` opens only X's segments —
  * no `readWhere` string routing needed. The scan itself DELEGATES to
  * Spark's own vectorized v2 parquet scan over the surviving segment
  * paths ([[ParquetDelegate.scan]]), with the filters re-pushed
  * (row-group/page skipping) and columns pruned — execution is exactly
  * a native parquet read of what survived, nothing reimplemented.
  *
  * Pruning is strictly CONSERVATIVE: every filter is also returned as
  * residual, so Spark re-applies it above the scan (the
  * FileScanBuilder contract) — a pruned segment is provably matchless,
  * a kept one is re-filtered exactly.
  *
  * COLUMN-MAPPED snapshots (renames/drops) read through a pure schema
  * RELABEL ([[TxLogRelabeledScan]]): the delegate reads physical
  * names, the reported read schema carries the logical labels —
  * InternalRows are positional, so no per-row work exists; the pushed
  * filters and required columns are translated logical→physical on
  * the way in. DELETION-VECTOR snapshots read through a
  * tombstone-skipping wrapper ([[TxLogDvScan]]): DV-dirty segments are
  * scanned unfiltered in file order (one partition per file, splits
  * re-merged, nothing pushed into parquet, so the reader's row ORDINAL
  * is exactly the `_metadata.row_index` the sidecar recorded) and each
  * reader drops its file's tombstoned positions; clean segments in the
  * same table keep full parquet pushdown. Residual filters above the
  * scan keep both paths exact. `option("asOf", v)` time-travels with
  * the usual retention check. */
class TxLogTable(private[txlog] val dir: String,
                 private[txlog] val asOf: Int,
                 external: Option[StructType] = None,
                 props: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {
  override def name(): String = s"txlog($dir)"

  /** The LOG's declared partition spec, surfaced for DESCRIBE/SHOW and
    * the analyzer's static-vs-dynamic INSERT OVERWRITE routing
    * (identity transforms only — the only kind the engine records).
    * Cached lazily: partitioning() is consulted on every INSERT
    * analysis, and the spec is immutable once set, so ONE
    * checkpoint+tail replay per Table instance suffices (the same
    * pin-for-lifetime posture as the snapshot); asOf-pinned relations
    * read the era-correct spec. */
  private lazy val partCols: Seq[String] = TxLog.partitionColumnsOf(dir, asOf)
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)
        .asInstanceOf[org.apache.spark.sql.connector.expressions.Transform])
      .toArray

  /** Filter-translatable `DELETE FROM` runs through Spark's NATIVE
    * SupportsDelete planning (no rewrite plan, no extensions needed):
    * the planner translates the condition to v1 filters, and this
    * renders them back to predicate SQL for [[TxLog.delete]] — the
    * SAME stats-pruned CoW rewrite + OCC slot retry the Scala API
    * runs, so a SQL DELETE is bit-identical to a programmatic one.
    * Untranslatable conditions (`key % 97 = 3`, function calls) are
    * claimed EARLIER by [[TxLogSqlDml]] when [[graft.GraftExtensions]]
    * is registered; without the extensions they fail in Spark's
    * translation with its standard error. `canDeleteWhere` is exact:
    * it accepts only what [[TxLogSqlDml.filterToSql]] can render. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    asOf < 0 && filters.forall(f => TxLogSqlDml.filterToSql(f).isDefined)
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(asOf < 0,
      "cannot DELETE through a time-travel (asOf) txlog relation")
    val pred =
      if (filters.isEmpty) "true"
      else filters.map(f => TxLogSqlDml.filterToSql(f).getOrElse(
        throw new UnsupportedOperationException(
          s"txlog DELETE: unrenderable pushed filter $f"))).mkString(" AND ")
    if (dmlMor) TxLog.deleteMoR(SparkSession.active, dir, pred)
    else TxLog.delete(SparkSession.active, dir, pred)
  }
  /** `TBLPROPERTIES ('dmlMode'='mor')` routes SQL DELETE/UPDATE and the
    * upsert MERGE through the merge-on-read engine paths (deletion
    * vectors / tombstone sidecars — Delta's enableDeletionVectors
    * posture: DML cost ∝ changed rows, the rewrite deferred to
    * OPTIMIZE/compaction). Default `cow` keeps copy-on-write. The
    * GENERAL merge shapes have no MoR form (the action-tagged rewrite
    * IS the operation) and stay CoW regardless. */
  private[txlog] def dmlMor: Boolean =
    Option(props.get("dmlMode")).map(_.toLowerCase) match {
      case None | Some("cow") => false
      case Some("mor")        => true
      case Some(v) => throw new IllegalArgumentException(
        s"table property dmlMode must be 'cow' or 'mor', got '$v'")
    }
  /** LAZY shared snapshot (mapping-applied, evolution-merged schema +
    * the replayed state the scan build reuses): the streaming fallback
    * probe constructs this Table but consumes only capabilities, so
    * the replay+footer cost must not run until the BATCH path actually
    * asks — then ONE replay serves both schema() and build(), and the
    * snapshot is PINNED for this Table's lifetime (Delta pins at
    * relation creation for the same reason): a self-join/union of one
    * DataFrame plans two scans, and re-resolving per build would let a
    * commit between them make the two sides see different table
    * versions — results matching no single snapshot. A fresh load()
    * (or catalog resolution) constructs a fresh Table and sees the new
    * head. Loud on an empty table UNLESS a catalog/CREATE TABLE schema
    * was supplied — a just-created table must resolve for its first
    * INSERT (and scan as empty) before any commit exists. */
  @volatile private var snapRef: TxLog.Dsv2Snapshot = null
  private def resolved(): TxLog.Dsv2Snapshot = {
    var r = snapRef
    if (r == null) {
      r = TxLog.dsv2Resolve(SparkSession.active, dir, asOf)
      snapRef = r
    }
    r
  }
  /** None ⇒ the table holds no live data yet and `external` (the
    * catalog's CREATE TABLE schema) stands in — the scan is empty by
    * construction. Commits landing later are seen by a fresh Table. */
  private[txlog] def resolvedOpt(): Option[TxLog.Dsv2Snapshot] =
    if (external.exists(_.nonEmpty) && asOf < 0 && TxLog.dsv2Empty(dir)) None
    else Some(resolved())
  override def schema(): StructType = resolvedOpt() match {
    // data present ⇒ the log's merged schema wins (the catalog copy
    // can be stale after schema evolution — Delta resolves the same
    // way); empty ⇒ the declared schema, so INSERT INTO can match
    case Some(r) => r.schema
    case None    => external.get
  }
  override def capabilities(): java.util.Set[TableCapability] =
    // BATCH_READ + the V1-fallback WRITE half (the InsertableRelation
    // bridge routes INSERT/append into TxLog.append and
    // INSERT OVERWRITE/truncate into TxLog.overwrite — the full
    // stats/bloom/governance/OCC commit machinery, not a parallel
    // write path). Streaming READS run the v1 Source
    // ([[TxLogSource]]): with no micro-batch read capability,
    // DataStreamReader falls back to it. Streaming WRITES run the DSv2
    // [[TxLogStreamingWrite]].
    // BATCH_WRITE is declared alongside V1_BATCH_WRITE because
    // DataFrameWriter.save only routes to the v2 write plans when the
    // table claims BATCH_WRITE — the Write we build is a V1Write, and
    // the physical strategy dispatches on THAT (AppendDataExecV1), so
    // toBatch() is never reached
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TxLogScanBuilder(SparkSession.active, dir, asOf, this)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TxLogWriteBuilder(dir, asOf, info, props)
}

/** The create-time descriptor for a MANAGED table (`CREATE TABLE …
  * USING txlog` with no LOCATION): the session catalog probes the
  * provider's `getTable` BEFORE assigning the default table path, so
  * this Table exists only to carry the declared columns through
  * create-statement validation — it is never scanned or written
  * (post-create resolutions re-load through the catalog, which by then
  * has a location). Declares no capabilities, so any attempt to read
  * or stream it fails in the engine's own capability checks rather
  * than deep in a scan with a meaningless empty-dir error. */
private[txlog] class TxLogPendingTable(declared: StructType) extends Table {
  override def name(): String = "txlog(location pending)"
  override def schema(): StructType = declared
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Collections.emptySet()
}

/** The write half: a [[V1Write]] bridge. DSv2 hands the job's rows to
  * an [[InsertableRelation]] as a resolved DataFrame (logical column
  * labels, analyzer-matched to [[TxLogTable.schema]]), and the bridge
  * commits it through the SAME entry points the Scala API uses —
  * [[TxLog.append]]/[[TxLog.appendWithStats]] (blind append: stats,
  * blooms, governance fingerprint, slot retry) or [[TxLog.overwrite]]
  * (conditional commit) — so a SQL INSERT is bit-identical to a
  * programmatic append, OCC semantics included: an INSERT racing a
  * concurrent append lands in the next slot (blind appends commute);
  * racing a governance change it restages, exactly like the API.
  * `statsCols`/`bloomCols` (write option or table property,
  * comma-separated) opt the commit into skipping metadata. */
class TxLogWriteBuilder(dir: String, asOf: Int, info: LogicalWriteInfo,
                        props: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.graftshim.StreamingCapableWriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private var truncateFirst = false
  private var dynamicOverwrite = false
  private var replacePred: Option[String] = None
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  /** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic` on a
    * partitioned table — Spark plans OverwritePartitionsDynamic the
    * moment `Table.partitioning()` is non-empty, so this builder MUST
    * claim it → [[TxLog.overwriteDynamic]] (touched partitions replace
    * wholesale, the rest carry untouched). */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicOverwrite = true; this
  }
  /** `INSERT INTO … REPLACE WHERE cond` / `writeTo(t).overwrite(cond)`
    * → [[TxLog.replaceWhere]]: ONE commit replaces exactly the rows
    * matching the planner-translated condition (all-match segments
    * drop wholesale, straddlers rewrite, incoming rows are validated
    * to satisfy the frame — Delta's replaceWhere contract, same
    * entry point as the Scala API). `canOverwrite` is exact — it
    * accepts only filters the predicate renderer can express, so a
    * claimed overwrite can never dead-end here. */
  override def canOverwrite(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => TxLogSqlDml.filterToSql(f).isDefined)
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    if (filters.isEmpty ||
        filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      truncateFirst = true
    else replacePred = Some(filters.map(f =>
      TxLogSqlDml.filterToSql(f).getOrElse(throw new UnsupportedOperationException(
        s"txlog REPLACE WHERE: unrenderable pushed filter $f — " +
          "use TxLog.replaceWhere with predicate SQL"))).mkString(" AND "))
    this
  }
  private def opt(name: String): Option[String] =
    Option(info.options.get(name)).orElse(Option(props.get(name)))
  private def cols(name: String): Seq[String] = opt(name).toSeq
    .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
  override def build(): Write = new V1Write {
    // only the dynamic-overwrite plan ever calls toBatch (its exec has
    // no V1 fallback); it is claimed by the GraftExtensions analyzer
    // rule before execution — reaching here means the extensions are
    // not installed, so say that instead of "Batch write not supported"
    override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
      throw new UnsupportedOperationException(
        "txlog dynamic partition overwrite resolves through the " +
          "GraftExtensions analyzer rule — configure " +
          "spark.sql.extensions=graft.GraftExtensions (the same switch " +
          "that enables UPDATE/MERGE), or use TxLog.overwriteDynamic")
    override def toInsertableRelation(): InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          require(asOf < 0,
            "cannot write through a time-travel (asOf) txlog relation")
          replacePred match {
            case Some(pred) =>
              TxLog.replaceWhere(data.sparkSession, dir, pred, data,
                cols("statsCols"))
            case None if dynamicOverwrite =>
              TxLog.overwriteDynamic(data.sparkSession, dir, data,
                cols("statsCols"))
            case None =>
              if (truncateFirst || overwrite) TxLog.overwrite(data, dir)
              else {
                val (stats, blooms) = (cols("statsCols"), cols("bloomCols"))
                if (stats.nonEmpty || blooms.nonEmpty)
                  TxLog.appendWithStats(data.sparkSession, data, dir,
                    stats, blooms)
                else TxLog.append(data, dir)
              }
          }
        }
      }
    /** The streaming SINK ([[TxLogStreamingWrite]]) — the one
      * implementation of `writeStream.format("txlog")`. The engine's
      * mode dispatch: Append/Update → build() (the
      * `SupportsStreamingUpdateAsAppend` base makes Update legal; the
      * two are indistinguishable here, so the mergeKey OPTION selects
      * the upsert), Complete → truncate().build(). */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(asOf < 0,
        "cannot stream-write through a time-travel (asOf) txlog relation")
      val mergeKey = opt("mergeKey")
      val mergeSchema = TxLogSource.strictBool(opt, "mergeSchema")
      require(!(mergeKey.nonEmpty && truncateFirst),
        "mergeKey is only meaningful in Update mode; Complete " +
          "replaces the table each trigger")
      require(!(mergeSchema && truncateFirst),
        "mergeSchema is meaningless in Complete mode: each trigger " +
          "REPLACES the table, so the batch schema always wins")
      new TxLogStreamingWrite(SparkSession.active, dir, info.schema(),
        info.queryId(), complete = truncateFirst, mergeKey = mergeKey,
        statsCols = cols("statsCols"), mergeSchema = mergeSchema)
    }
  }
}

class TxLogScanBuilder(spark: SparkSession, dir: String, asOf: Int,
                       table: TxLogTable)
    extends CatalystPushdownScanBuilder {
  private var exprs: Seq[Expression] = Nil
  private var required: Option[StructType] = None

  /** Keep the resolved filters for segment triage and the delegate's
    * parquet pushdown; return ALL of them as residual — Spark
    * re-applies them above the scan, so the triage can only ever skip
    * provably matchless segments. */
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    exprs = filters
    filters
  }

  /** Plan metadata only (the residual contract above already keeps
    * correctness); the delegate scan node's own PushedFilters show the
    * parquet-level pushdown in explain. */
  override def pushedFilters: Array[Predicate] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan = {
    val resolved = table.resolvedOpt() match {
      case Some(r) => r // pinned: one snapshot per Table
      case None    => // created-but-never-written: empty, declared schema
        return new TxLogEmptyScan(required.getOrElse(table.schema()))
    }
    val segs = TxLog.dsv2ScanInfo(spark, dir, asOf, exprs, resolved)
    // logical→physical translation for everything the delegate sees:
    // filters (AttributeReference names) and the required columns —
    // identity when the table is unmapped
    val p2l = resolved.renames
    val l2p = resolved.physByLogical
    def physName(n: String): String = l2p.getOrElse(n, n)
    val exprsPhys =
      if (l2p.isEmpty) exprs
      else exprs.map(_.transform {
        case a: AttributeReference if l2p.contains(a.name) =>
          a.withName(l2p(a.name))
      })
    val requiredPhys = required.map(r =>
      StructType(r.map(f => f.copy(name = physName(f.name)))))
    if (segs.isEmpty)
      return new TxLogEmptyScan(required.getOrElse(resolved.schema))
    val (dirty, clean) = segs.partition(_.dvs.nonEmpty)
    if (dirty.isEmpty) {
      val s = ParquetDelegate.scan(spark, clean.map(_.path),
        resolved.physSchema, exprsPhys, requiredPhys)
      if (resolved.mapped) new TxLogRelabeledScan(s, p2l) else s
    } else {
      // commit-recorded tombstone counts gate the driver-side
      // coordinate load, like the read-side broadcast ([[TxLog
      // .BroadcastDvLimit]]); a DV that large means OPTIMIZE is
      // overdue (it materializes tombstones away)
      val counts = dirty.flatMap(_.dvs.map(_._2))
      if (counts.exists(_ < 0) || counts.sum > TxLog.BroadcastDvLimit)
        throw new UnsupportedOperationException(
          s"txlog table $dir carries ${counts.sum} recorded deletion-" +
            s"vector rows (cap ${TxLog.BroadcastDvLimit}) on the scanned " +
            "segments — read through TxLog.read/readWhere (shuffle " +
            "anti-join), or OPTIMIZE to materialize the tombstones")
      val cleanScan = if (clean.isEmpty) None
        else Some(ParquetDelegate.scan(spark, clean.map(_.path),
          resolved.physSchema, exprsPhys, requiredPhys))
      // dirty side: NOTHING pushed into parquet — row-group/page
      // skipping would break the ordinal↔row_index equality the
      // tombstone filter depends on; the residual above the scan
      // still applies the full predicate exactly
      val dirtyScan = ParquetDelegate.scan(spark, dirty.map(_.path),
        resolved.physSchema, Nil,
        Some(requiredPhys.getOrElse(resolved.physSchema)))
      new TxLogDvScan(spark, dir, cleanScan, dirtyScan, p2l, dirty)
    }
  }
}

/** Pure schema relabel over the delegate scan for COLUMN-MAPPED
  * tables: the delegate reads physical names; the reported read
  * schema carries the logical labels the relation resolved
  * ([[TxLogTable.schema]]). InternalRows are positional — renaming
  * the reported fields is the whole job, partitions and readers
  * (columnar included) pass through untouched. */
class TxLogRelabeledScan(delegate: Scan, physToLogical: Map[String, String])
    extends Scan {
  override def readSchema(): StructType =
    StructType(delegate.readSchema().map(f =>
      f.copy(name = physToLogical.getOrElse(f.name, f.name))))
  override def toBatch: Batch = delegate.toBatch
  override def description(): String = s"txlog-mapped ${delegate.description()}"
  private[txlog] def delegateFiles: Seq[String] = delegate match {
    case f: FileScan => f.fileIndex.inputFiles.toSeq
    case _           => Seq.empty
  }
}

/** A DV-dirty segment file reshaped for ordinal-exact reading: ALL
  * splits of one physical file, offset-ordered, in one partition —
  * so the wrapping reader's row count IS the file row index — plus
  * that file's sorted tombstoned positions. */
case class TxLogDvPartition(file: FilePartition, tombs: Array[Long])
    extends InputPartition {
  override def preferredLocations(): Array[String] =
    file.preferredLocations()
}

/** The ordinal-exactness reshape the batch scan's tombstone skip
  * ([[TxLogDvReader]]) depends on: a reader's running row count equals
  * the `_metadata.row_index` the sidecar recorded only when each
  * partition is ONE whole physical file with its splits re-merged in
  * offset order (a split boundary would restart the ordinal at 0
  * mid-file). */
private[txlog] object TxLogFileParts {
  /** URI path, the join key between planned file paths and the
    * sidecars' recorded `file` strings. */
  def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** (normalized file path, one offset-ordered whole-file partition)
    * per physical file of `b`'s plan, path-sorted. */
  def perFile(b: Batch): Seq[(String, FilePartition)] = {
    val files = b.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"parquet delegate planned a non-file partition: $other")
    }
    files.groupBy(pf => norm(pf.filePath.toString)).toSeq.sortBy(_._1)
      .zipWithIndex
      .map { case ((f, splits), i) =>
        f -> FilePartition(i, splits.sortBy(_.start)) }
  }
}

/** Scan for a snapshot with DELETION VECTORS: clean segments keep the
  * fully-pushed-down delegate scan; DV-dirty segments are read
  * unfiltered in file order and each reader subtracts its file's
  * tombstoned row ordinals ([[TxLogDvReader]]) — the reader-level
  * form of the batch read path's anti-join, with the coordinates
  * shipped per partition (no broadcast, no shuffle). The whole scan
  * reports row-based reads: mixing columnar clean partitions with
  * row-based dirty ones in one scan is rejected by Spark, and the
  * clean side still decodes through the same parquet reader. */
class TxLogDvScan(spark: SparkSession, dir: String, cleanScan: Option[Scan],
                  dirtyScan: Scan, physToLogical: Map[String, String],
                  dirtySegs: Seq[TxLog.Dsv2Seg])
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(dirtyScan.readSchema().map(f =>
      f.copy(name = physToLogical.getOrElse(f.name, f.name))))
  override def toBatch: Batch = this
  override def description(): String =
    s"txlog-dv(${dirtySegs.size} dirty) ${dirtyScan.description()}"

  private lazy val partitions: Array[InputPartition] = {
    // ONE job loads the surviving segments' tombstone coordinates
    // (gated on the commit-recorded counts at build time), grouped to
    // per-file sorted position arrays — each dirty partition carries
    // only its own file's set
    val tombs = TxLog.dsv2Tombstones(spark, dir, dirtySegs)
      .groupBy(t => TxLogFileParts.norm(t._1))
      .map { case (f, arr) => f -> arr.map(_._2).sorted }
    val dirty = TxLogFileParts.perFile(dirtyScan.toBatch)
      .map { case (f, fp) =>
        TxLogDvPartition(fp, tombs.getOrElse(f, Array.emptyLongArray)) }
    (cleanScan.toSeq.flatMap(_.toBatch.planInputPartitions()) ++ dirty)
      .toArray
  }
  override def planInputPartitions(): Array[InputPartition] = partitions
  override def createReaderFactory(): PartitionReaderFactory =
    new TxLogDvReaderFactory(
      cleanScan.map(_.toBatch.createReaderFactory()),
      dirtyScan.toBatch.createReaderFactory())

  private[txlog] def plannedFiles: Seq[String] =
    (cleanScan.toSeq :+ dirtyScan).flatMap {
      case f: FileScan => f.fileIndex.inputFiles.toSeq
      case _           => Seq.empty
    }
}

/** Routes DV-dirty partitions through the tombstone-skipping wrapper
  * and everything else straight to the clean delegate factory.
  * Row-based only: the dirty wrapper counts rows, and Spark requires
  * one answer per scan. */
class TxLogDvReaderFactory(clean: Option[PartitionReaderFactory],
                           dirty: PartitionReaderFactory)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case TxLogDvPartition(fp, tombs) =>
        new TxLogDvReader(dirty.createReader(fp), tombs)
      case other => clean.get.createReader(other)
    }
}

/** Drops the tombstoned row ordinals of ONE file: the delegate reads
  * the whole file in storage order (nothing pushed down, splits
  * re-merged), so the running count is exactly the
  * `_metadata.row_index` the DV sidecar recorded at delete time.
  * Binary search per row over the file's sorted positions —
  * allocation-free, O(log tombstones). */
class TxLogDvReader(delegate: PartitionReader[InternalRow],
                    tombs: Array[Long])
    extends PartitionReader[InternalRow] {
  private var ord = -1L
  override def next(): Boolean = {
    while (delegate.next()) {
      ord += 1
      if (java.util.Arrays.binarySearch(tombs, ord) < 0) return true
    }
    false
  }
  override def get(): InternalRow = delegate.get()
  override def close(): Unit = delegate.close()
}

object TxLogBatch {
  /** Segment dirs among a frame's ACTUAL planned scan files — the
    * exact pin for "pruning reached the plan" assertions. Neither of
    * the obvious surfaces works: the executed-plan STRING truncates
    * long path lists (a regex over it can count one segment while the
    * scan holds two), and `Dataset.inputFiles` is empty for a
    * non-FileTable DSv2 relation. So walk to the delegate FileScan's
    * file index, unwrapping AQE (whose node is a childless leaf that
    * hides the scan from collect) and the mapped/DV wrappers. */
  def plannedSegments(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def files(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => files(a.executedPlan)
      case other => other.collect {
        case b: BatchScanExec => b.scan match {
          case f: FileScan              => f.fileIndex.inputFiles.toSeq
          case r: TxLogRelabeledScan    => r.delegateFiles
          case d: TxLogDvScan           => d.plannedFiles
          case _                        => Seq.empty[String]
        }
      }.flatten
    }
    // parent-anchored, like TxLog.segOfFile: matching `seg-` ANYWHERE
    // in the path would attribute every file to a `seg-`-shaped
    // ancestor directory and collapse the count to a vacuous 1
    files(df.queryExecution.executedPlan)
      // [^/]+, like TxLog.segOfFile: partitioned segments carry value
      // labels after the uuid
      .flatMap(f => "/(seg-[^/]+)/[^/]*$".r
        .findFirstMatchIn(f).map(_.group(1)))
      .distinct
  }
}

/** Every segment pruned: a zero-partition scan carrying the pruned
  * schema (the planner still resolves the relation's output from it).
  * The reader factory is unreachable by construction — zero
  * partitions — and throws rather than fabricate rows. */
class TxLogEmptyScan(schema: StructType) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = Array.empty
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        throw new IllegalStateException("empty txlog scan has no partitions")
    }
}
