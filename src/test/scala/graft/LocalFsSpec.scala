package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{LocalFs, TextKV, TxLog, Warehouse}

/** Local writes set file and directory permissions in-process: a
  * JFR census of process starts over a miniature txlog tape, a
  * streaming sink batch, the `key\tvalue` and `graftkv` sinks and a
  * warehouse sink counts no forked `chmod`, and the files keep the
  * modes and `.crc` sidecars Hadoop's local filesystem gives them —
  * part files a txlog statement moves into fresh segments included. */
class LocalFsSpec extends SparkTestBase {

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `body`'s result and the `jdk.ProcessStart` events the JVM recorded
    * while it ran. */
  private def processStarts[T](body: => T): (T, Seq[RecordedEvent]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val r = try body finally rec.stop()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      (r, RecordingFile.readAllEvents(dump).asScala.toSeq)
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  /** The stream's checkpoint log is Spark's own metadata, written
    * through the session's cached filesystem, not a file-format write. */
  private def fromCheckpointLog(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists(f =>
      f.getMethod.getType.getName.contains("CheckpointFileManager")))

  /** (bucket, doc_id, rev, text) rows, bucket = doc_id mod 10. */
  private def docs(ids: Seq[Long], rev: Int) =
    spark.createDataFrame(ids.map(id => ((id % 10).toInt, id, rev, s"text $id")))
      .toDF("bucket", "doc_id", "rev", "text")

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("a txlog tape, a stream batch and the text and warehouse sinks fork no chmod") {
    val dir = freshDir("graft-forks")
    val out = freshDir("graft-forks-out")
    val feed = freshDir("graft-forks-feed")
    val stream = freshDir("graft-forks-stream")
    val edits = docs((0L until 30L).map(_ * 7 % 500) ++ (500L until 510L), 1)
      .filter(col("bucket") =!= 3)
    docs(1000L until 1020L, 0).coalesce(1).write.mode("overwrite").parquet(feed)
    val feedSchema = spark.read.parquet(feed).schema
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Seq[RecordedEvent]]
    def phase(name: String)(body: => Any): Unit = phases(name) = processStarts(body)._2
    phase("append")(TxLog.append(docs(0L until 500L, 0).repartition(4), dir))
    phase("optimize")(TxLog.optimize(spark, dir, Seq("bucket"), 10, statsCols = Seq("bucket")))
    phase("enableChangeDataFeed")(TxLog.enableChangeDataFeed(dir))
    phase("deleteRange")(TxLog.deleteRange(spark, dir, "bucket", "3", "3"))
    phase("merge")(TxLog.merge(spark, dir, edits, "doc_id"))
    phase("update")(TxLog.update(spark, dir, "bucket = 4", Map("rev" -> "rev + 10")))
    phase("deleteMoR")(TxLog.deleteMoR(spark, dir, "bucket = 5 AND doc_id % 3 = 0"))
    phase("stream") {
      val q = spark.readStream.schema(feedSchema).parquet(feed)
        .writeStream.format("txlog").option("path", stream)
        .option("checkpointLocation", freshDir("graft-forks-ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
    }
    phase("writeKV")(TextKV.writeKV(docs(0L until 50L, 0).select("doc_id", "text"), s"$out/kv"))
    phase("warehouse")(Warehouse.writePartitioned(docs(0L until 50L, 0), s"$out/wh", "bucket"))
    phase("graftkv") {
      docs(0L until 50L, 0).select(col("doc_id").cast("string"), col("text"))
        .repartition(4).write.format("graftkv").mode("overwrite").save(s"$out/gkv")
    }

    val chmods = phases.map { case (n, evs) =>
      n -> evs.filter(e => Option(e.getString("command")).exists(_.startsWith("chmod")))
    }
    val counts = chmods.map { case (n, evs) =>
      n -> (evs.size, evs.count(fromCheckpointLog)) }
    info(s"chmod starts per phase (all, from the stream's checkpoint log): $counts")
    val writes = chmods.map { case (n, evs) => n -> evs.filterNot(fromCheckpointLog).size }
    assert(writes.values.sum == 0, s"forked chmod per phase: $writes")

    // the statements did what they say
    assert(TxLog.read(spark, dir).filter("bucket = 3").isEmpty)
    assert(TxLog.read(spark, stream).count() == 20)
    assert(spark.read.text(s"$out/kv").count() == 50)
    assert(spark.read.parquet(s"$out/wh").count() == 50)
    assert(spark.read.format("graftkv").load(s"$out/gkv").count() == 50)

    // modes and checksum sidecars as Hadoop's local filesystem leaves
    // them: rw-r--r-- part files, rwxr-xr-x directories, and a .crc
    // beside each file, those optimize moved into fresh segments too
    val written = Seq(dir, stream, s"$out/kv", s"$out/wh", s"$out/gkv").flatMap { root =>
      Files.walk(java.nio.file.Paths.get(root)).iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.startsWith("part-"))
    }
    assert(written.count(p => p.startsWith(dir) && !Files.exists(p.resolveSibling("_SUCCESS"))) > 0,
      s"no part file moved by optimize: $written")
    assert(written.size > 20, s"part files written: $written")
    written.foreach { p =>
      assert(mode(p) == "rw-r--r--", s"$p")
      assert(mode(p.getParent) == "rwxr-xr-x", s"${p.getParent}")
      val crc = crcOf(p)
      assert(Files.exists(crc) && mode(crc) == "rw-r--r--", s"$crc")
    }
  }

  private def crcOf(p: JPath): JPath = p.resolveSibling(s".${p.getFileName}.crc")

  test("optimized and partitioned segments keep their .crc sidecars, and reads verify them") {
    val optimized = freshDir("graft-crc-opt")
    TxLog.append(docs(0L until 200L, 0).repartition(4), optimized)
    TxLog.optimize(spark, optimized, Seq("bucket"), 10)
    val partitioned = freshDir("graft-crc-part")
    TxLog.setPartitionColumns(partitioned, Seq("bucket"))
    TxLog.append(docs(0L until 200L, 0), partitioned)
    def liveParts(dir: String): Seq[JPath] = TxLog.liveSegments(dir).flatMap { seg =>
      Files.list(java.nio.file.Paths.get(dir, seg)).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-"))
    }
    val parts = Seq(optimized, partitioned).map(liveParts)
    assert(parts.forall(_.size > 1), s"part files: $parts")
    parts.flatten.foreach(p => assert(Files.exists(crcOf(p)), s"no checksum beside $p"))
    // one flipped byte in an optimized segment's data fails the read
    val victim = parts.head.head
    val bytes = Files.readAllBytes(victim)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    Files.write(victim, bytes)
    val e = intercept[Exception](TxLog.read(spark, optimized).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]),
      s"expected a ChecksumException, got ${chain.map(_.getClass.getName)}")
  }

  test("LocalFs.Raw leaves the modes the forking RawLocalFileSystem leaves; a sticky bit delegates") {
    def init[F <: RawLocalFileSystem](fs: F): F = {
      fs.initialize(java.net.URI.create("file:///"), new Configuration()); fs }
    val forking = init(new RawLocalFileSystem)
    val inProcess = init(new LocalFs.Raw)
    val root = Files.createTempDirectory("graft-perm")
    def bits(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    for (m <- Seq("0644", "0755", "0600", "0700", "0777", "0000"); dir <- Seq(false, true)) {
      def make(n: String): JPath = {
        val p = root.resolve(s"$n-$m-$dir")
        if (dir) Files.createDirectory(p) else Files.createFile(p)
      }
      val (a, b) = (make("fork"), make("nio"))
      forking.setPermission(new Path(a.toUri), perm(m))
      inProcess.setPermission(new Path(b.toUri), perm(m))
      assert(bits(b) == Integer.parseInt(m, 8), s"$m dir=$dir")
      assert(bits(b) == bits(a), s"$m dir=$dir")
    }
    // java.nio cannot set a sticky bit, so only the delegated call leaves it
    val sticky = Files.createDirectory(root.resolve("sticky"))
    inProcess.setPermission(new Path(sticky.toUri), perm("1755"))
    assert(bits(sticky) == Integer.parseInt("1755", 8))
  }
}
