package graft.sources.txlog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graftshim.ParquetWriteDelegate
import org.apache.spark.sql.types.StructType

import graft.sources.{LocalFs, TxLog}

/** The txlog streaming SINK — `df.writeStream.format("txlog")
  * .option("path", dir)`, the one implementation of the write half of
  * the CDC pair ([[TxLogSource]] is the read half). The engine's own
  * write exec streams each micro-batch's rows through per-task
  * [[TxLogStreamDataWriter]]s that stage the SEGMENT's parquet files
  * directly (Spark's own parquet OutputWriter
  * via [[ParquetWriteDelegate]] — bit-identical bytes to
  * `df.write.parquet`, written ONCE, no driver round-trip, no second
  * copy), and the driver-side [[TxLogStreamingWrite.commit]] promotes
  * the staged segment through the idempotent batch-id-deduped commit
  * entry points ([[TxLog.appendStreamStaged]] /
  * [[TxLog.mergeStreamMoRStaged]] / [[TxLog.overwriteStreamStaged]]),
  * the staged twins of the foreachBatch API ([[TxLog.appendStream]]
  * and friends) — exactly-once composes identically: the engine
  * replays un-committed epochs at-least-once, and the table skips
  * already-committed batch ids (a replay's freshly staged files are
  * reclaimed on the skip).
  *
  * MODE MAPPING (the engine's `StreamExecution.createWrite` dispatch):
  * Append → `build()` → per-epoch append; Complete →
  * `truncate().build()` → per-epoch table replace; Update → the
  * engine requires the `SupportsStreamingUpdateAsAppend` marker and
  * then calls plain `build()` — Update is NOT distinguishable from
  * Append at the builder (the marker's contract), so on this API the
  * `mergeKey` OPTION selects the merge-on-read upsert, in Update
  * *and* Append mode alike, and an "Append rejects mergeKey" or
  * "Update requires mergeKey" check is not expressible here
  * (spec-pinned). `partitionBy` never reaches this sink either: the
  * engine's `DataStreamWriter` hands a DSv2 table only its options,
  * so the table's own partition spec ([[TxLog.setPartitionColumns]],
  * `PARTITIONED BY`) governs the segment layout (spec-pinned).
  *
  * Segment staging: epoch E's writers place files at
  * `dir/seg-<writeUuid>-<E>/part-<partition>-<task><ext>` — the name
  * is derivable on every task with zero coordination, distinct per
  * epoch, and a restarted query (new writeUuid) restages a replayed
  * epoch into a FRESH directory whose files the dedup skip reclaims.
  * Failed/speculative task attempts may leave extra files; the commit
  * message manifest is the truth and [[TxLogStreamingWrite.commit]]
  * deletes non-manifest files before the log commit (segments are
  * read as whole directories). Table governance holds: bytes carry
  * PHYSICAL column names (resolved at plan time — physical names are
  * stable for the table's lifetime), CHECK constraints and provided
  * GENERATED columns are validated by the same staged-bytes scan
  * every write path runs, and DEFAULT/GENERATED columns the batch
  * lacks are filled by a one-time segment rewrite
  * ([[TxLog]].finalizeStagedSegment). Schema drift is refused by one
  * [[TxLogSchemaDriftGuard]] per query. */
private[txlog] class TxLogStreamingWrite(spark: SparkSession, dir: String,
    schema: StructType, queryId: String, complete: Boolean,
    mergeKey: Option[String], statsCols: Seq[String],
    mergeSchema: Boolean) extends StreamingWrite {

  // the dedup namespace is (query id, batch id): batch ids are per
  // query, and the engine's LogicalWriteInfo.queryId is the STABLE id
  // (it survives restarts with the checkpoint and equals the
  // `sql.streaming.queryId` local property a foreachBatch body sees —
  // see TxLog.streamOp)
  private val txnAppId = Option(queryId).filter(_.nonEmpty)

  private val writeUuid = java.util.UUID.randomUUID.toString
  private val guard = new TxLogSchemaDriftGuard(dir, mergeSchema,
    enabled = !complete)

  private def segName(epochId: Long): String = s"seg-$writeUuid-$epochId"
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Physical write schema: logical labels mapped down once per plan —
    * physical names are stable for the table's lifetime, so a
    * mid-query rename (label-only) cannot invalidate staged bytes. */
  private def physSchema: StructType = {
    val physByLogical = TxLog.columnMapping(dir).map(_.swap)
    StructType(schema.map(f =>
      f.copy(name = physByLogical.getOrElse(f.name, f.name))))
  }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo
      ): StreamingDataWriterFactory =
    TxLogStreamWriterFactory(dir, s"seg-$writeUuid",
      ParquetWriteDelegate.prepare(spark, physSchema))

  override def useCommitCoordinator(): Boolean = true

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val seg = segName(epochId)
    val segPath = new Path(dir, seg)
    val f = fs(segPath)
    val keep = messages.collect {
      case m: TxLogStreamFileMessage => m.file }.toSet
    if (f.exists(segPath))
      // failed/speculative attempts can leave files no task committed;
      // the message manifest is the truth, and segments are read as
      // whole directories — drop everything off-manifest first
      f.listStatus(segPath).foreach { st =>
        if (!keep.contains(st.getPath.getName)) f.delete(st.getPath, false)
      }
    if (!f.exists(segPath) || keep.isEmpty) {
      // an empty batch staged nothing (zero input partitions): commit
      // an empty segment so the batch id still folds into the log, as
      // appendStream of an empty frame does
      f.delete(segPath, true)
      LocalFs.writer(spark.createDataFrame(
        new java.util.ArrayList[Row](), physSchema))
        .parquet(segPath.toString)
    }
    try guard.check(spark, epochId, schema)
    catch { case e: Throwable => f.delete(segPath, true); throw e }
    mergeKey match {
      case Some(k) =>
        TxLog.mergeStreamMoRStaged(spark, dir, seg, k, epochId, statsCols,
          txnAppId)
      case None if complete =>
        TxLog.overwriteStreamStaged(spark, dir, seg, epochId, statsCols,
          txnAppId)
      case None =>
        TxLog.appendStreamStaged(spark, dir, seg, epochId, statsCols,
          txnAppId)
    }
    ()
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val segPath = new Path(dir, segName(epochId))
    fs(segPath).delete(segPath, true)
    ()
  }

  override def toString: String = s"TxLogStreamingWrite[$dir]"
}

/** One committed staged file: its bare name (the manifest entry the
  * driver keeps) and the task's row count. */
private[txlog] case class TxLogStreamFileMessage(partitionId: Int,
    file: String, rows: Long) extends WriterCommitMessage

/** Serializable per-plan factory: every task derives its file path
  * from (partition, task, epoch) — no driver coordination — and
  * writes through Spark's own parquet OutputWriter. */
private[txlog] case class TxLogStreamWriterFactory(dir: String,
    segPrefix: String, env: ParquetWriteDelegate.WriterEnv)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val file = s"part-$partitionId-$taskId${env.extension}"
    val path = s"$dir/$segPrefix-$epochId/$file"
    new TxLogStreamDataWriter(
      env.open(path, partitionId, epochId), env.conf.value, path, file, partitionId)
  }
}

/** Streams one task's rows into one staged parquet file; commit ships
  * the file's manifest entry, abort best-effort deletes it through
  * `conf`, the shipped job conf the file was created with (the
  * driver's off-manifest sweep is the backstop). */
private[txlog] class TxLogStreamDataWriter(
    writer: org.apache.spark.sql.execution.datasources.OutputWriter,
    conf: org.apache.hadoop.conf.Configuration,
    path: String, file: String, partitionId: Int)
    extends DataWriter[InternalRow] {
  private var rows = 0L
  private var open = true
  override def write(row: InternalRow): Unit = { writer.write(row); rows += 1 }
  override def commit(): WriterCommitMessage = {
    writer.close(); open = false
    TxLogStreamFileMessage(partitionId, file, rows)
  }
  override def abort(): Unit = {
    if (open) { writer.close(); open = false }
    val p = new Path(path)
    try p.getFileSystem(conf).delete(p, false)
    catch { case _: Exception => () }
    ()
  }
  override def close(): Unit = if (open) { writer.close(); open = false }
}
