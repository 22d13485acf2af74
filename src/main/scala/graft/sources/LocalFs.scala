package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset, SparkSession}

/** Hadoop's local (`file:`) filesystem with permissions set in-process.
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * forks a `chmod` for every created file, its `.crc` sidecar and every
  * new directory; [[LocalFs.Raw]] sets the same nine rwx bits through
  * `java.nio`. Checksums, umask, `mkdirs`, `rename` and `delete` stay
  * `LocalFileSystem`'s, so the bytes and names on disk do not change. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  // owner rwx, group rwx, others rwx: the enum's order, high bit first
  private val Bits = PosixFilePermission.values

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) s.add(Bits(i)))
    s
  }

  /** Write options that make a write job's Hadoop conf resolve `file:`
    * to [[LocalFs]]. Spark copies write options into that conf and ships
    * it to the tasks, so executors and the committer see it; the cache
    * stays off because Hadoop caches filesystems by (scheme, authority,
    * user), not by conf, so a cached `LocalFileSystem` would answer
    * instead. Reads keep the session's cached default. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The session's Hadoop conf with [[writeOptions]]: what a write job
    * through [[writer]] sees, for sinks that open their files themselves. */
  def writeConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConfWithOptions(writeOptions)

  /** `ds.write` with [[writeOptions]]. */
  def writer[T](ds: Dataset[T]): DataFrameWriter[T] = ds.write.options(writeOptions)
}
