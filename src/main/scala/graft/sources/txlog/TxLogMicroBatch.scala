package graft.sources.txlog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftshim.ParquetDelegate
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.TxLog

/** DSv2 `MicroBatchStream` port of the txlog streaming SOURCE —
  * `spark.readStream.format("txlog").option("path", dir)
  * .option("streamApi", "v2").load()`.
  *
  * WHY AN OPT-IN OPTION, not the default: stock Spark resolves a
  * v2 streaming relation's columns from `Table.schema()` (verified
  * against `ResolveDataSource` in 4.1.2: the streaming branch builds
  * `StreamingRelationV2` with `toAttributes(table.columns.asSchema)`),
  * and `TableProvider.getTable` receives IDENTICAL options for
  * `spark.read` and `spark.readStream` — nothing in the call tells the
  * provider which path is resolving. The txlog streaming contract adds
  * `_commit_version`/`_commit_op` to every delivered row, so the
  * streaming schema ≠ the batch schema, and a provider that cannot
  * see which one is being asked for cannot serve both from one
  * `schema()`. (This asymmetry is why Delta's production streaming
  * source remains on the v1 `Source` API.) `streamApi=v2` resolves
  * the ambiguity per read: with it, the Table reports the streaming
  * schema + `MICRO_BATCH_READ` and this stream runs; without it, the
  * spec-pinned v1 Source runs unchanged. A batch read that passes the
  * option fails loud at `toBatch`.
  *
  * WHAT THE PORT BUYS over v1 (round-12 VERDICT item 3): the v2
  * engine never re-plans a COMMITTED batch at restart (v1 re-invokes
  * `getBatch` over the last committed range purely to re-initialize
  * the source), so the vacuum↔reader interlock is PLAN-TIME LOUD
  * unconditionally — no lazy throwing-frame design, no
  * `failOnDataLoss` ceiling-tracking, and a no-op sink can no longer
  * commit past vacuumed data (the v1 lazy form's acknowledged gap).
  * A restart's re-plan of an UNcommitted range that was since
  * vacuumed is genuine data loss and dies with the same typed error.
  *
  * Offsets ARE commit versions ([[LongOffset]] json = the number), so
  * v1 and v2 checkpoints are interchangeable: a query checkpointed on
  * one API restarts on the other at the right commit, and the
  * `startingVersion=latest` floor persists under the SAME
  * `graft-txlog-floor` file in the source's metadata path.
  *
  * Execution: one delegate parquet scan per deliverable commit
  * ([[ParquetDelegate.scan]] — Spark's own v2 parquet machinery over
  * exactly that commit's add segments), each planned partition wrapped
  * with the commit's constant `(version, op)` and joined onto every
  * row by [[TxLogTaggedReader]] — per-batch planning cost is
  * O(entries in range), bounded by the admission cap, and no segment
  * is ever re-read, same as v1. Admission control, AvailableNow
  * bounds, rewrite postures, the mid-stream schema-drift guards and
  * column-mapping relabel carry over 1:1 (the option surface is
  * parsed by the same strict parsers).
  *
  * `changeFeed` mode runs on v2 too: the cdc-recorded commits are
  * whole-file deliveries with a constant tag, and the deletion-vector
  * pre-images — a driver-planned semi join on the v1 path — become
  * per-file ordinal-keep readers (the exact INVERSE of the batch
  * connector's [[TxLogDvReader]] tombstone skip), with each file's
  * sorted coordinates shipped inside its partition. The plan triage
  * lives in [[TxLog.cdfStreamPlan]], sharing the batch feed's guards
  * verbatim. */
private[txlog] object TxLogMicroBatch {
  /** The READ-side v2 opt-in, validated strictly (absent = v1). The
    * read default cannot flip: the provider resolves a Table through
    * the same `getTable` for batch and streaming, and the v2 stream
    * schema adds meta columns a batch relation must not carry — only
    * the explicit option can tell the two apart. */
  def streamV2(get: String => Option[String]): Boolean =
    get("streamApi") match {
      case None       => false
      case Some("v1") => false
      case Some("v2") => true
      case Some(v) => throw new IllegalArgumentException(
        s"option streamApi must be v1 or v2, got '$v'")
    }

  /** The streaming schema for the mode the options select. */
  def streamSchema(dataSchema: StructType,
                   get: String => Option[String]): StructType =
    StructType(dataSchema ++
      (if (TxLogSource.strictBool(get, "changeFeed"))
         TxLogSource.CdfMetaFields
       else TxLogSource.MetaFields))
}

/** The Scan a `streamApi=v2` read builds: streaming-only (a batch
  * execution of a stream-schema relation would deliver meta columns
  * no batch contract defines — fail loud, pointing at the option). */
private[txlog] class TxLogStreamScan(spark: SparkSession, dir: String,
    schema: StructType, physData: StructType,
    get: String => Option[String]) extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String = s"txlog-stream-v2($dir)"
  override def toBatch: Batch =
    throw new UnsupportedOperationException(
      "streamApi=v2 is a readStream option — a batch read of a txlog " +
        "table is spark.read.format(\"txlog\").load(dir), without it. " +
        "If this table was CREATEd with streamApi=v2 in its OPTIONS, " +
        "the registration is STREAM-ONLY by design (the option is the " +
        "schema authority for every resolution): batch-read the log " +
        "via its path, or register a second table without the option")
  override def toMicroBatchStream(checkpointLocation: String
      ): MicroBatchStream =
    new TxLogMicroBatchStream(spark, dir, schema, physData,
      checkpointLocation, get)
}

private[txlog] class TxLogMicroBatchStream(spark: SparkSession, dir: String,
    schema: StructType, physData: StructType, metadataPath: String,
    get: String => Option[String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // option surface — the same strict parsers as the v1 provider, so a
  // typo fails identically on both APIs
  private val floor: Int = get("startingVersion") match {
    case Some("latest") => latestFloor()
    case Some(v)        => TxLogSource.strictInt("startingVersion", v)
    case None           => 0
  }
  private val cap: Option[Int] = TxLogSource.capOf(get)
  private val skipRewrites = TxLogSource.strictBool(get, "skipRewrites")
  // v2 is plan-time loud on vacuumed ranges UNCONDITIONALLY (the lazy
  // design existed only for v1's committed-range restart re-plan, which
  // the v2 engine never issues) — the option is accepted and validated
  // for surface parity; it requests a subset of what v2 always does
  TxLogSource.strictBool(get, "failOnDataLoss")
  private val changeFeed = TxLogSource.strictBool(get, "changeFeed")
  private val coarseRewrites = TxLogSource.strictBool(get, "coarseRewrites")
  // the v1-identical mode/option compatibility contract
  require(!(skipRewrites && changeFeed),
    "skipRewrites applies to add-set mode only: changeFeed mode " +
      "resolves row-level changes and already emits nothing for pure " +
      "rearrangement commits")
  require(!(coarseRewrites && !changeFeed),
    "coarseRewrites applies to changeFeed mode only (add-set mode's " +
      "rewrite posture is skipRewrites)")

  // physical names dropped as of stream start: footer inference seeing
  // them in pre-drop segments is history, not drift (v1 posture)
  private val droppedPhys: Set[String] = TxLog.droppedColumns(dir)

  /** `latest` binds at the FIRST start only — the resolved floor
    * persists under the source metadata path through the SHARED
    * helper, so a checkpoint moved between APIs keeps its floor. */
  private def latestFloor(): Int =
    TxLogSource.resolveLatestFloor(
      spark.sparkContext.hadoopConfiguration, metadataPath, dir)

  override def initialOffset(): OffsetV2 = LongOffset(floor - 1L)
  override def deserializeOffset(json: String): OffsetV2 =
    LongOffset(json.trim.toLong)
  override def commit(end: OffsetV2): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"TxLogMicroBatchStream[$dir]"

  private def ver(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }

  // ---- admission control (v1's SupportsTriggerAvailableNow shims,
  // spoken natively): the engine drives latestOffset(start, limit)
  // per trigger; AvailableNow additionally pins the drain bound.
  @volatile private var availableNowBound: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(TxLog.headVersion(dir).toLong)

  override def getDefaultReadLimit: ReadLimit =
    cap.map(m => ReadLimit.maxFiles(m)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): OffsetV2 =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this stream")

  /** The admission bound from the ENGINE-SUPPLIED limit — today Spark
    * hands back exactly what [[getDefaultReadLimit]] returned, but the
    * contract says honor the parameter (an AvailableNow wrapper or a
    * future composite must not be silently ignored): unwrap
    * [[ReadMaxFiles]] (the carrier [[getDefaultReadLimit]] uses for
    * the max-COMMITS cap — no maxCommits limit class exists) directly
    * or inside a composite; anything else (allAvailable, row-based)
    * falls back to the option cap. */
  private def admissionCap(limit: ReadLimit): Option[Int] = limit match {
    case f: ReadMaxFiles => Some(f.maxFiles())
    case c: CompositeReadLimit =>
      val caps = c.getReadLimits.toSeq.collect {
        case f: ReadMaxFiles => f.maxFiles()
      }
      if (caps.nonEmpty) Some(caps.min) else cap
    case _ => cap
  }

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val head0 = TxLog.headVersion(dir).toLong
    val head = availableNowBound.fold(head0)(math.min(head0, _))
    if (head < floor) return null
    val base = Option(start).map(ver).getOrElse(floor - 1L)
    val capped = admissionCap(limit)
      .map(m => math.min(head, math.max(base, floor - 1L) + m))
      .getOrElse(head)
    if (capped < floor || capped <= base) null else LongOffset(capped)
  }

  override def reportLatestOffset(): OffsetV2 = {
    val head = TxLog.headVersion(dir).toLong
    if (head < floor) null else LongOffset(head)
  }

  /** The v1 `getBatch` triage, ending in per-commit delegate parquet
    * scans instead of a driver-built DataFrame. Runs on the driver
    * once per micro-batch; cost is O(entries in range) metadata reads
    * plus one footer-inference job over the batch's own add set (the
    * drift guard — bounded by the admission cap, never the table). */
  /** MEMOIZED per offset range: the engine re-instantiates the scan
    * exec several times per micro-batch (physical planning, columnar
    * probing, progress reporting — measured SIX planInputPartitions
    * calls per batch on a stateful query), and each un-cached call
    * would re-run the whole triage including its metadata jobs (the
    * coordinate load, the drift-guard footer inference). One entry
    * suffices: ranges only move forward, and a failed plan is NOT
    * cached (every retry re-triages and throws again). ONE volatile
    * field holding the (range, partitions) pair — two independent
    * fields could tear under concurrent planning calls and pair one
    * range's key with the other's partitions. */
  @volatile private var planned: ((Long, Long), Array[InputPartition]) = _

  override def planInputPartitions(start: OffsetV2, end: OffsetV2
      ): Array[InputPartition] = {
    val range = (Option(start).map(ver).getOrElse(floor - 1L), ver(end))
    val memo = planned
    if (memo != null && memo._1 == range) return memo._2
    val p = planRange(start, end)
    planned = (range, p)
    p
  }

  private def planRange(start: OffsetV2, end: OffsetV2
      ): Array[InputPartition] = {
    val from = math.max(floor.toLong,
      Option(start).map(ver(_) + 1).getOrElse(floor.toLong)).toInt
    val to = ver(end).toInt
    val entries = (from to to).map { v =>
      val (op, add, rw, drops, _, _) = TxLog.commitChange(dir, v)
      (v, op, add, rw, drops)
    }
    // DROPPED-column drift guard: the drop COMMIT passes through
    // exactly one batch range — catch it there (v1 posture, zero
    // extra reads)
    val lost = entries.flatMap(_._5).filterNot(droppedPhys)
      .filter(physData.fieldNames.contains)
      .distinct
    if (lost.nonEmpty)
      throw new IllegalStateException(
        s"txlog stream over $dir: column(s) ${lost.mkString(", ")} " +
          "dropped mid-stream. Restart the query to pick up the evolved " +
          "schema — continuing would silently deliver null where the " +
          "stream's consumers still expect the dropped column's data.")
    if (changeFeed) return planChangeFeed(from, to)
    val changes = entries.filter(_._3.nonEmpty)
      .map { case (v, op, add, rw, _) => (v, op, add, rw) }
    // rewrite posture, identical to v1: pure rearrangements advance
    // rowlessly; content-changing rewrites fail loud unless
    // skipRewrites opts into rowless advance
    val (rewrites, deliverable) = changes.partition(_._4)
    val contentChanging = rewrites.filterNot(r => TxLog.RearrangeOps(r._2))
    if (contentChanging.nonEmpty && !skipRewrites) {
      val (v, op, _, _) = contentChanging.head
      throw new IllegalStateException(
        s"txlog stream over $dir: commit $v is a content-changing " +
          s"rewrite (op=$op) — its add set re-materializes rows this " +
          "stream already delivered; continuing would re-emit the " +
          "rewritten data as new rows. Set " +
          ".option(\"skipRewrites\", \"true\") to advance past rewrite " +
          "commits rowlessly, or read .option(\"changeFeed\", \"true\") " +
          "for row-level changes.")
    }
    val parts = deliverable.map { case (v, op, add, _) => (v, op, add) }
    // vacuum↔reader interlock, PLAN-TIME LOUD (the v2 win): the engine
    // never re-plans a committed range, so every range planned here is
    // a genuine delivery — a missing add file means retention passed
    // this stream's offset, typed error now, no lazy frame
    for ((v, _, add) <- parts) {
      val gone = TxLog.missingAdds(dir, add)
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"txlog stream over $dir: commit $v's data was vacuumed " +
            s"(${gone.size} file(s) missing, e.g. ${gone.head}) — " +
            "retention passed this stream's offset. Increase the vacuum " +
            "retention, or restart the stream from a newer " +
            "startingVersion.")
    }
    // ADDED-column drift guard: one footer inference over this batch's
    // read set (v1 posture — fail loud, a restart re-resolves)
    TxLogSource.addedColumnDriftGuard(spark, dir, parts.flatMap(_._3),
      physData, droppedPhys)
    parts.flatMap { case (v, op, add) =>
      // one delegate scan per commit: its files share one (version,
      // op) tag, so every planned partition wraps with ONE constant
      // pair — and the delegate bin-packs within the commit exactly
      // like a batch read of those segments
      val b = ParquetDelegate.scan(spark, add, physData, Nil, None).toBatch
      val factory = b.createReaderFactory()
      b.planInputPartitions().map(p =>
        TxLogStreamPartition(p, factory, v.toLong, op))
    }.toArray
  }

  /** changeFeed mode: [[TxLog.cdfStreamPlan]] runs the feed's triage
    * (rearrangement skip, mixed-exactness guard, vacuum interlock, DV
    * gate — all plan-time loud on v2) and this turns its descriptors
    * into partitions. Whole-file parts read like add-set partitions
    * with a third tag; pre-image parts are reshaped to ONE partition
    * per physical file — splits re-merged in offset order, nothing
    * pushed into parquet — so the reader's running row count IS the
    * `_metadata.row_index` the DV sidecar recorded, and the reader
    * KEEPS exactly the tombstoned ordinals (the inverse of the batch
    * connector's [[TxLogDvReader]]). */
  private def planChangeFeed(from: Int, to: Int): Array[InputPartition] = {
    val cdfParts = TxLog.cdfStreamPlan(spark, dir, from, to, coarseRewrites)
    // ADDED-column drift guard over the delivered whole files (the
    // pre-image base segments are historical bytes the start-time
    // schema already covers — the v1 source scopes identically)
    TxLogSource.addedColumnDriftGuard(spark, dir,
      cdfParts.collect { case f: TxLog.CdfFilesPart => f.paths }.flatten,
      physData, droppedPhys)
    cdfParts.flatMap {
      case TxLog.CdfFilesPart(v, op, ct, paths) =>
        val b = ParquetDelegate.scan(spark, paths, physData, Nil, None).toBatch
        val factory = b.createReaderFactory()
        b.planInputPartitions().map(p =>
          TxLogStreamPartition(p, factory, v.toLong, op, ct))
      case TxLog.CdfPreImagePart(v, op, ct, segPaths, coords) =>
        // ordinal-exact: nothing pushed down, one whole-file partition
        // per file ([[TxLogFileParts]] — the shared reshape the batch
        // DV reader also stands on)
        val b = ParquetDelegate.scan(spark, segPaths, physData, Nil,
          None).toBatch
        val factory = b.createReaderFactory()
        val byFile = coords.groupBy(c => TxLogFileParts.norm(c._1))
          .map { case (f, a) => f -> a.map(_._2).sorted }
        val perFile = TxLogFileParts.perFile(b)
        // every recorded coordinate must land on a planned file — a
        // path-normalization mismatch would otherwise SILENTLY drop
        // pre-images from the feed (fail loud instead)
        val claimed = perFile.map(g => byFile.get(g._1).map(_.length)
          .getOrElse(0)).sum
        if (claimed != coords.length)
          throw new IllegalStateException(
            s"txlog stream over $dir: commit $v resolved only $claimed " +
              s"of ${coords.length} deletion-vector coordinates against " +
              "its base segments — sidecar/segment path mismatch")
        perFile.flatMap { case (f, fp) =>
          // a file with no tombstones contributes no pre-images —
          // skip it (the v1 semi join emits nothing for it)
          byFile.get(f).filter(_.nonEmpty).map(keep =>
            TxLogStreamPartition(fp, factory, v.toLong, op, ct, keep))
        }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TxLogTaggedReaderFactory
}

/** One delegate parquet partition plus its commit's constant tag and
  * the factory that reads it (per-commit delegate scans make the
  * factory per-partition state; parquet reader factories are
  * task-serializable by contract). `changeType` null = add-set mode
  * (two meta columns); non-null = change-feed mode (three). `keep`
  * non-null = deliver ONLY the rows at these sorted file ordinals
  * (DV pre-images; requires the partition to be one whole file in
  * offset order). */
private[txlog] case class TxLogStreamPartition(inner: InputPartition,
    factory: PartitionReaderFactory, version: Long, op: String,
    changeType: String = null, keep: Array[Long] = null)
    extends InputPartition {
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Joins the commit tag columns onto every row of the wrapped delegate
  * reader — allocation-free per row (one reused [[JoinedRow]] over the
  * delegate's reused row and one constant meta row per partition). In
  * pre-image mode it additionally KEEPS only the tombstoned ordinals —
  * binary search per row over the file's sorted positions, the exact
  * inverse of the batch connector's TxLogDvReader. Row-based: the meta
  * join has no columnar form, and micro-batches are admission-bounded. */
private[txlog] class TxLogTaggedReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition
      ): PartitionReader[InternalRow] = p match {
    case TxLogStreamPartition(inner, factory, version, op, ct, keep) =>
      val delegate = factory.createReader(inner)
      val meta = new GenericInternalRow(
        if (ct == null) Array[Any](version, UTF8String.fromString(op))
        else Array[Any](version, UTF8String.fromString(op),
          UTF8String.fromString(ct)))
      val joined = new JoinedRow
      if (keep == null)
        new PartitionReader[InternalRow] {
          override def next(): Boolean = delegate.next()
          override def get(): InternalRow = joined(delegate.get(), meta)
          override def close(): Unit = delegate.close()
        }
      else
        new PartitionReader[InternalRow] {
          private var ord = -1L
          override def next(): Boolean = {
            while (delegate.next()) {
              ord += 1
              if (java.util.Arrays.binarySearch(keep, ord) >= 0) return true
            }
            false
          }
          override def get(): InternalRow = joined(delegate.get(), meta)
          override def close(): Unit = delegate.close()
        }
    case other => throw new IllegalStateException(
      s"unexpected partition for txlog stream: $other")
  }
}
