package graft.sources.kv

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.sources.LocalFs

/** Write half of the graftkv connector — the reference's TextOutputFormat
  * sink (`key \t value` lines, ref: PageRankAlgorithm.java:67) as a V2
  * `BatchWrite`:
  *
  *  - every input column must be a string; the first is the key, the
  *    rest concatenate tab-separated into the value ([[graft.sources.TextKV.writeKV]]'s
  *    convention, byte-identical output);
  *  - each task streams its partition to ONE part file named with the
  *    (partition, task) identity — no driver funnel, the many-reducer
  *    shape the reference already had, minus its fixed reducer count;
  *  - tasks write to a `.inprogress` name and RENAME on task commit
  *    (atomic on local/HDFS): a task-retry abort deletes its file, and
  *    a hard-killed executor's leftover `.inprogress` is invisible to
  *    readers (the scan skips them alongside `_`-prefixed files) — so
  *    reads only ever see fully-written part files;
  *  - `mode("overwrite")` arrives as `SupportsTruncate`: existing
  *    part files are cleared once on the driver before tasks launch.
  *    NOTE this truncate is NOT atomic — a job that fails after launch
  *    has already dropped the old data (a transactional overwrite
  *    needs a manifest/commit protocol, i.e. a table format; out of
  *    scope for a text sink);
  *  - the truncate, the abort and every task's writer share ONE Hadoop
  *    conf: the session's plus [[LocalFs.writeOptions]].
  */
class KVWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val schema = info.schema()
    require(schema.fields.nonEmpty && schema.fields.forall(_.dataType == StringType),
      s"graftkv writes STRING columns only (cast first); got ${schema.simpleString}")
    new KVWrite(path, schema, doTruncate)
  }
}

class KVWrite(path: String, schema: StructType, truncate: Boolean)
    extends Write with BatchWrite {

  private val conf = new SerializableConfiguration(LocalFs.writeConf(SparkSession.active))

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side, before any task: clear prior contents on overwrite
    if (truncate) {
      val p = new Path(path)
      val fs = p.getFileSystem(conf.value)
      if (fs.exists(p)) fs.delete(p, true)
      fs.mkdirs(p)
    }
    KVWriterFactory(path, schema.fields.length, conf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case KVCommit(file) =>
      val p = new Path(file)
      p.getFileSystem(conf.value).delete(p, false)
    }
}

case class KVCommit(file: String) extends WriterCommitMessage

case class KVWriterFactory(path: String, nCols: Int, conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KVDataWriter(path, nCols, partitionId, taskId, conf)
}

class KVDataWriter(dir: String, nCols: Int, partitionId: Int, taskId: Long,
                   conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {

  private val finalFile = new Path(dir, f"part-$partitionId%05d-$taskId.txt")
  private val tempFile = new Path(dir, finalFile.getName + ".inprogress")
  private val fs = finalFile.getFileSystem(conf.value)
  private val out = {
    fs.mkdirs(new Path(dir))
    new java.io.BufferedOutputStream(fs.create(tempFile, true), 1 << 16)
  }

  override def write(record: InternalRow): Unit = {
    var i = 0
    while (i < nCols) {
      if (i > 0) out.write('\t')
      if (!record.isNullAt(i)) out.write(record.getUTF8String(i).getBytes)
      i += 1
    }
    out.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    if (!fs.rename(tempFile, finalFile))
      throw new java.io.IOException(s"rename $tempFile -> $finalFile failed")
    KVCommit(finalFile.toString)
  }
  override def abort(): Unit = {
    out.close()
    fs.delete(tempFile, false)
  }
  override def close(): Unit = ()
}
