package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The metadata/log I/O seam of [[TxLog]] — every byte of commit-log,
  * checkpoint, and sidecar traffic goes through exactly one of these,
  * so the table format's correctness argument reduces to one method's
  * contract per backing store:
  *
  *   `putIfAbsent` MUST be put-if-absent: at most one of N racing
  *   writers of the same path wins, and a reader never observes a
  *   partially-written winner.
  *
  * Strategy matrix (who provides the CAS):
  *
  *  - plain local paths → [[NioLogStore]]: write a temp file, then
  *    HARD-LINK it into place. `Files.createLink` is POSIX's true
  *    put-if-absent (atomic, fails on existing target), where POSIX
  *    `rename(2)` — and therefore ATOMIC_MOVE — silently REPLACES.
  *  - `hdfs://` → [[HadoopLogStore]]: write a temp file, then
  *    `FileSystem.rename` — HDFS rename is atomic in the NameNode and
  *    returns false when the destination exists (rename-if-absent),
  *    and the linked file is complete by close() before the rename.
  *  - `file:/` through Hadoop → [[HadoopLogStore]]:
  *    `create(path, overwrite = false)` — a check-then-create (the
  *    local Hadoop FS cannot do better); single-JVM correct, used by
  *    the FS-backed test path. Production local tables use plain
  *    paths and get the Nio hard-link CAS.
  *  - object stores (`s3a://`, `abfs://`, `gs://`): the Hadoop
  *    FileSystem API has NO atomic put-if-absent (S3 rename is
  *    copy+delete; create(!overwrite) is check-then-put). A real
  *    deployment needs the store's conditional put (S3 If-None-Match,
  *    GCS preconditions, ABFS ETags) or an EXTERNAL COORDINATOR —
  *    [[CoordinatedLogStore]] implements the coordinator strategy
  *    (claim the slot in a coordination table, then write), enabled
  *    per scheme via [[LogStore.registerCoordinated]]; an unconfigured
  *    object-store path still fails loud rather than corrupt silently.
  *
  * Everything else (read, list, recursive delete, rename of staged
  * data files) has ordinary per-FS semantics and needs no ceremony.
  */
private[graft] trait LogStore {
  def exists(path: String): Boolean
  def isDirectory(path: String): Boolean
  /** Read a whole (small — log entry / checkpoint / bloom sidecar)
    * metadata file. Throws java.io.IOException when missing. */
  def readBytes(path: String): Array[Byte]
  /** Atomic-enough put-if-absent (see class doc): true = this call
    * created the file; false = the path already existed. */
  def putIfAbsent(path: String, bytes: Array[Byte]): Boolean
  /** Last-writer-wins replace — for pointers whose every historical
    * value is valid (`_last_checkpoint`), never for commit slots. */
  def putReplace(path: String, bytes: Array[Byte]): Unit
  def deleteIfExists(path: String): Unit
  def deleteRecursively(path: String): Unit
  def mkdirs(path: String): Unit
  /** Last-modified epoch millis of a file — commit timestamps for
    * timestamp-based time travel (the Delta convention: a commit's
    * time IS its log file's mtime). Throws when missing. */
  def mtime(path: String): Long
  /** Total bytes under `path` (recursive for directories) — segment
    * footprints for size-tiered compaction. 0 when missing. */
  def sizeOf(path: String): Long
  /** Child NAMES (not paths) of a directory; empty when missing. */
  def list(path: String): Seq[String]
  /** The regular files directly under a directory, as (name, byte
    * size) — what a writer records of its own output; empty when
    * missing. */
  def listFiles(path: String): Seq[(String, Long)]
  /** Move a file within the store (staging part-file → segment dir). */
  def rename(src: String, dst: String): Unit
}

private[graft] object LogStore {
  /** Metadata-file reads served since JVM start — the observability
    * hook the checkpoint spec uses to assert a 500-commit table is
    * read in O(checkpoint + tail) file opens, not O(versions). */
  val metaReads = new AtomicLong(0)

  /** Schemes the operator has opted into EXTERNAL-COORDINATOR commits
    * for (see [[CoordinatedLogStore]]) — the deployment switch for
    * object stores whose FileSystem API has no native put-if-absent.
    * Empty by default: an unconfigured object-store path fails loud
    * rather than corrupting silently. */
  private val coordinatedSchemes =
    new java.util.concurrent.ConcurrentHashMap[String, LogCoordinator]()

  /** Opt `scheme` into coordinator-backed commits, naming the
    * coordinator that arbitrates slot ownership. The SCOPE of the
    * commit guarantee IS the scope of the coordinator — the API makes
    * that explicit rather than leaving it to prose: a multi-driver
    * deployment must pass a durable, cross-process implementation (a
    * DynamoDB conditional-put table, a database row, ZooKeeper — the
    * [[LogCoordinator]] contract); the default
    * [[InProcessCoordinator]] is exact ONLY for writers sharing this
    * JVM (a single Spark driver's commits, multi-threaded tests). */
  def registerCoordinated(scheme: String,
      coordinator: LogCoordinator = InProcessCoordinator): Unit =
    coordinatedSchemes.put(scheme.toLowerCase, coordinator)
  def unregisterCoordinated(scheme: String): Unit =
    coordinatedSchemes.remove(scheme.toLowerCase)

  /** Store for `path`: URIs with a scheme go through the Hadoop
    * FileSystem API; plain local paths keep the Nio hard-link CAS.
    * Object-store schemes fail loud unless opted into the
    * external-coordinator strategy (no atomic put-if-absent in the
    * FileSystem API — see the strategy matrix above). */
  def forPath(path: String): LogStore = {
    val scheme = schemeOf(path)
    def hadoop(s: String): HadoopLogStore = {
      val conf = org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new Configuration())
      new HadoopLogStore(new HPath(path).getFileSystem(conf), s)
    }
    // ONE get into a local, not containsKey-then-get: a concurrent
    // unregisterCoordinated between the two reads would construct a
    // CoordinatedLogStore around null and NPE at first putIfAbsent
    val coordinator = scheme.map(coordinatedSchemes.get).orNull
    scheme match {
      case None => NioLogStore
      case Some(s) if coordinator != null =>
        new CoordinatedLogStore(hadoop(s), coordinator)
      case Some(s) if s == "file" || s == "hdfs" => hadoop(s)
      case Some(s) =>
        throw new IllegalArgumentException(
          s"no atomic put-if-absent strategy for scheme '$s' ($path): " +
            "object stores need a conditional-put or an external " +
            "coordinator (LogStore.registerCoordinated) — see LogStore's " +
            "strategy matrix")
    }
  }

  private def schemeOf(path: String): Option[String] = {
    val i = path.indexOf(':')
    // a ':' before any '/' marks a URI scheme ("file:/x", "hdfs://nn/x");
    // plain absolute/relative paths have none
    if (i > 1 && path.take(i).forall(c => c.isLetterOrDigit || c == '+' ||
        c == '-' || c == '.') && !path.take(i).contains('/'))
      Some(path.take(i).toLowerCase)
    else None
  }
}

/** java.nio implementation for plain local paths — the hard-link CAS
  * (see [[LogStore]] strategy matrix). */
private[graft] object NioLogStore extends LogStore {
  private def p(s: String) = Paths.get(s)
  def exists(path: String): Boolean = Files.exists(p(path))
  def isDirectory(path: String): Boolean = Files.isDirectory(p(path))
  def readBytes(path: String): Array[Byte] = {
    LogStore.metaReads.incrementAndGet()
    Files.readAllBytes(p(path))
  }
  def putIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
    val target = p(path)
    val tmp = Files.createTempFile(target.getParent, ".commit", ".tmp")
    try {
      Files.write(tmp, bytes)
      try { Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }
  def putReplace(path: String, bytes: Array[Byte]): Unit = {
    val target = p(path)
    val tmp = Files.createTempFile(target.getParent, ".ptr", ".tmp")
    Files.write(tmp, bytes)
    // REPLACE is the point here: any historical pointer value is valid
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
  def deleteIfExists(path: String): Unit = Files.deleteIfExists(p(path))
  def deleteRecursively(path: String): Unit =
    if (Files.exists(p(path))) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p(path))
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator.asScala.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  def mtime(path: String): Long = Files.getLastModifiedTime(p(path)).toMillis
  def sizeOf(path: String): Long =
    if (!Files.exists(p(path))) 0L
    else {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p(path))
      try walk.iterator.asScala
        .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally walk.close()
    }
  def mkdirs(path: String): Unit = Files.createDirectories(p(path))
  def list(path: String): Seq[String] =
    if (!Files.isDirectory(p(path))) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(p(path))
      try s.iterator.asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
  def listFiles(path: String): Seq[(String, Long)] =
    if (!Files.isDirectory(p(path))) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(p(path))
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => (f.getFileName.toString, Files.size(f))).toSeq
      finally s.close()
    }
  def rename(src: String, dst: String): Unit =
    Files.move(p(src), p(dst), StandardCopyOption.ATOMIC_MOVE)
}

/** Hadoop FileSystem implementation — the portability layer a 100 TB
  * table actually lives behind (HDFS today; object stores once a
  * conditional-put strategy exists). One instance per (fs, scheme);
  * FileSystem handles are cached by Hadoop itself. */
private[graft] class HadoopLogStore(fs: FileSystem, scheme: String) extends LogStore {
  private def p(s: String) = new HPath(s)
  def exists(path: String): Boolean = fs.exists(p(path))
  def isDirectory(path: String): Boolean =
    try fs.getFileStatus(p(path)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  def readBytes(path: String): Array[Byte] = {
    LogStore.metaReads.incrementAndGet()
    val in = fs.open(p(path))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }
  def putIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
    val target = p(path)
    if (scheme == "hdfs") {
      // write-complete-then-rename: HDFS rename is NameNode-atomic and
      // returns false when the destination exists (rename-if-absent) —
      // a reader can never open a half-written winner
      val tmp = new HPath(target.getParent,
        s".${target.getName}.${java.util.UUID.randomUUID}.tmp")
      val out = fs.create(tmp, false)
      try out.write(bytes) finally out.close()
      // Only a provably-occupied destination means "lost the race".
      // Mapping any rename fault to false would let commit() retry onto
      // slot v+1 while slot v stays empty — the dense replay stops at
      // the gap and the "successful" commit is silently invisible (and
      // reappears out of order if a later writer fills the hole).
      val won = try fs.rename(tmp, target)
        catch {
          case e: java.io.IOException =>
            if (fs.exists(target)) false
            else { fs.delete(tmp, false); throw e }
        }
      if (!won) fs.delete(tmp, false)
      won
    } else {
      // local-FS check-then-create (single-JVM correct; see matrix)
      val created =
        try Some(fs.create(target, false))
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => None
          case _: java.io.IOException if fs.exists(target) => None
        }
      created match {
        case None => false
        case Some(out) =>
          // create() won the slot, so an exception while writing is OUR
          // fault, not a lost race: a truncated winner would occupy the
          // slot forever (parse drops malformed lines) while the caller
          // retries onto the next one. Delete the partial and fail loud.
          try { try out.write(bytes) finally out.close(); true }
          catch { case e: Throwable => fs.delete(target, false); throw e }
      }
    }
  }
  def putReplace(path: String, bytes: Array[Byte]): Unit = {
    val out = fs.create(p(path), true)
    try out.write(bytes) finally out.close()
  }
  def deleteIfExists(path: String): Unit = fs.delete(p(path), false)
  def deleteRecursively(path: String): Unit = fs.delete(p(path), true)
  def mtime(path: String): Long = fs.getFileStatus(p(path)).getModificationTime
  def sizeOf(path: String): Long =
    if (!exists(path)) 0L else fs.getContentSummary(p(path)).getLength
  def mkdirs(path: String): Unit = fs.mkdirs(p(path))
  def list(path: String): Seq[String] =
    if (!exists(path)) Seq.empty
    else fs.listStatus(p(path)).toSeq.map(_.getPath.getName)
  def listFiles(path: String): Seq[(String, Long)] =
    if (!exists(path)) Seq.empty
    else fs.listStatus(p(path)).toSeq.filter(_.isFile)
      .map(f => (f.getPath.getName, f.getLen))
  def rename(src: String, dst: String): Unit = {
    if (!fs.rename(p(src), p(dst)))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }
}

/** The coordination-table contract [[CoordinatedLogStore]] builds its
  * put-if-absent on — the seam a durable service (DynamoDB conditional
  * puts, a database row with a unique constraint, ZooKeeper) plugs
  * into for multi-driver deployments. The commit guarantee's scope is
  * exactly this object's scope: `claim` must be atomic ACROSS every
  * writer that might race a slot. Two caveats a production
  * implementation must add, both documented by the DynamoDB-LogStore
  * pattern: claims need an expiry lease (a writer that crashes between
  * claim and rename otherwise leaves a permanently claimed-but-empty
  * slot; the window is ONE rename — bytes are fully staged before
  * claiming — and commit() retries onto the next slot, so the cost is
  * a log gap candidate, not corruption), and the table must survive
  * process restarts (a restart of the in-process default re-seeds
  * ownership from `exists` — the claim-then-check rule below). */
private[graft] trait LogCoordinator {
  /** Atomically claim `path`: true = this caller now owns the slot;
    * false = some (possibly crashed) claimant already does. */
  def claim(path: String): Boolean
  /** Release a claim this caller took (failed-rename cleanup / the
    * path was deleted). */
  def release(path: String): Unit
  /** Release every claim at `path` or strictly under `path/` —
    * directory-deletion cleanup. */
  def releaseUnder(path: String): Unit

  /** The one shared anchoring rule for [[releaseUnder]]: `claimed` is
    * covered by `root` when equal or strictly under `root/` —
    * SEPARATOR-anchored, so deleting /t/foo never clears claims under
    * the sibling /t/foobar. Every implementation filters with this. */
  protected final def covers(root: String, claimed: String): Boolean = {
    val prefix = if (root.endsWith("/")) root else root + "/"
    claimed == root || claimed.startsWith(prefix)
  }
}

/** The default [[LogCoordinator]]: an in-JVM concurrent map — exact
  * for every writer sharing the process (a single Spark driver's
  * commits, multi-threaded tests), USELESS across processes; pass a
  * durable implementation to [[LogStore.registerCoordinated]] for
  * multi-driver deployments. */
private[graft] object InProcessCoordinator extends LogCoordinator {
  private val claims =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  def claim(path: String): Boolean =
    claims.putIfAbsent(path, java.lang.Boolean.TRUE) == null
  def release(path: String): Unit = { claims.remove(path); () }
  def releaseUnder(path: String): Unit = {
    val it = claims.keySet.iterator
    while (it.hasNext) if (covers(path, it.next)) it.remove()
  }
}

/** A DURABLE, CROSS-PROCESS [[LogCoordinator]] backed by a claims
  * DIRECTORY on a filesystem with atomic exclusive creation: a claim
  * is a hard-link publish (write temp, `Files.createLink` into place —
  * POSIX's put-if-absent, atomic WITH content) of a file named by the
  * claimed path's SHA-256 under `claimsDir`. Exact across every
  * process that can see `claimsDir` — the multi-driver story for
  * deployments whose commit log lives on an object store but which
  * share ANY strongly-consistent POSIX surface (a driver-host volume,
  * HDFS, NFSv4): the claims dir carries only tiny arbitration files,
  * never data. Object-store-only deployments still need a
  * conditional-put service (DynamoDB and friends) behind the same
  * trait. Claim files record the claimed path as content so
  * [[releaseUnder]] (directory-deletion cleanup) can prefix-match;
  * the name is the hash so arbitrary path lengths fit in one filename.
  * Carries the [[LogCoordinator]] caveat unchanged: no expiry lease —
  * a claimant that dies between claim and rename leaves a
  * claimed-but-empty slot (a log-gap candidate, not corruption);
  * `release` / an operator deleting the claim file recovers it. */
private[graft] class FileClaimCoordinator(claimsDir: java.nio.file.Path)
    extends LogCoordinator {
  Files.createDirectories(claimsDir)

  private def claimFile(path: String): java.nio.file.Path = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(path.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    claimsDir.resolve(s"$hex.claim")
  }

  def claim(path: String): Boolean = {
    val target = claimFile(path)
    val tmp = Files.createTempFile(claimsDir, ".claim", ".tmp")
    try {
      Files.write(tmp, path.getBytes("UTF-8"))
      try { Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  def release(path: String): Unit = {
    Files.deleteIfExists(claimFile(path)); ()
  }

  def releaseUnder(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(claimsDir)
    try s.iterator.asScala
      .filter(_.getFileName.toString.endsWith(".claim"))
      .foreach { f =>
        // content = the claimed path; an unreadable file (concurrently
        // released) just skips — deleteIfExists tolerates the race
        val claimed =
          try new String(Files.readAllBytes(f), "UTF-8")
          catch { case _: java.io.IOException => "" }
        if (claimed.nonEmpty && covers(path, claimed))
          Files.deleteIfExists(f)
      }
    finally s.close()
  }
}

/** EXTERNAL-COORDINATOR put-if-absent over a store with no native CAS
  * — the object-store strategy of the matrix (the DynamoDB-LogStore
  * pattern S3 deployments use): slot OWNERSHIP is decided by a
  * conditional write to a coordination table ([[LogCoordinator]]),
  * and only the claim winner writes the file, so the backing store
  * needs nothing beyond read-after-write of complete objects.
  *
  * A path that exists WITHOUT a claim (written by an earlier process)
  * counts as taken: claim-then-check, never blind trust in the
  * coordinator. */
private[graft] class CoordinatedLogStore(inner: LogStore,
    coordinator: LogCoordinator = InProcessCoordinator) extends LogStore {
  def exists(path: String): Boolean = inner.exists(path)
  def isDirectory(path: String): Boolean = inner.isDirectory(path)
  def readBytes(path: String): Array[Byte] = inner.readBytes(path)
  def putIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
    // STAGE BEFORE CLAIMING: the bytes are fully written (and closed)
    // under a temp name before the slot is claimed, so the
    // claim-to-visible window is one rename — a reader can never open
    // a half-written winner (inner.putReplace alone streams straight
    // into the target on the Hadoop store), and a slow write cannot
    // hold a claimed-but-empty slot open while later slots fill.
    val i = path.lastIndexOf('/')
    val tmp = s"${path.take(i)}/.${path.drop(i + 1)}.${java.util.UUID.randomUUID}.tmp"
    inner.putReplace(tmp, bytes)
    if (!coordinator.claim(path)) {
      inner.deleteIfExists(tmp); return false
    }
    if (inner.exists(path)) { // pre-coordinator history: claim stays taken
      inner.deleteIfExists(tmp); return false
    }
    try { inner.rename(tmp, path); true }
    catch {
      // OUR rename failed: release the claim and fail loud
      case e: Throwable =>
        inner.deleteIfExists(tmp)
        coordinator.release(path)
        throw e
    }
  }
  def putReplace(path: String, bytes: Array[Byte]): Unit =
    inner.putReplace(path, bytes)
  def deleteIfExists(path: String): Unit = {
    inner.deleteIfExists(path); coordinator.release(path)
  }
  def deleteRecursively(path: String): Unit = {
    inner.deleteRecursively(path)
    coordinator.releaseUnder(path)
  }
  def mtime(path: String): Long = inner.mtime(path)
  def sizeOf(path: String): Long = inner.sizeOf(path)
  def mkdirs(path: String): Unit = inner.mkdirs(path)
  def list(path: String): Seq[String] = inner.list(path)
  def listFiles(path: String): Seq[(String, Long)] = inner.listFiles(path)
  def rename(src: String, dst: String): Unit = inner.rename(src, dst)
}
