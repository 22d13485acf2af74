package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim

/** Minimal transaction-log table format over parquet — the log/ACID
  * layer the Warehouse sinks stop short of (Delta/Iceberg's core
  * mechanics, reduced to what a filesystem offers):
  *
  *  - A table is a directory: data SEGMENTS (each a parquet directory
  *    written once, never mutated) plus an append-only commit log
  *    `_txlog/%08d.txt` of add/remove segment sets.
  *  - COMMIT = put-if-absent of the entry into the next version slot,
  *    through [[LogStore]] (hard-link CAS on a local FS, atomic
  *    rename-if-absent on HDFS — see LogStore's strategy matrix).
  *    Appends retry onto the next free slot; snapshot-dependent ops
  *    (delete/overwrite/compact/merge/update/optimize/restore) are
  *    CONDITIONAL on the head they read — the Delta protocol's
  *    commit-conflict rule, since their remove sets would otherwise
  *    double-apply. On a failed claim the intervening entries are
  *    LOGICALLY re-checked (Delta's write-serializable conflict
  *    re-validation): ops that commute with blind appends (DML whose
  *    remove set no append can touch — delete/update/merge/optimize/
  *    compact) re-claim the next slot with the same staged segments,
  *    so continuous ingest cannot starve maintenance; anything else
  *    intervening (a rewrite, a DV, governance/protocol change) or an
  *    op that asserts over appended rows too (overwrite/replaceWhere/
  *    restore) still fails with ConcurrentModificationException.
  *  - READ = load the newest CHECKPOINT at-or-before the target
  *    version and replay only the log TAIL after it (O(interval), not
  *    O(versions)) into the live segment set, then scan exactly those
  *    parquet dirs. Readers never see a half-committed state (the
  *    entry appears atomically) and a snapshot pinned at version v is
  *    immutable forever — segments are never rewritten in place, only
  *    superseded.
  *  - CHECKPOINT = every [[CheckpointInterval]] commits the writer
  *    folds the log into `_txlog/%08d.checkpoint` (live set + live
  *    segments' stats/bloom refs + committed stream batch ids) and
  *    advances the `_txlog/_last_checkpoint` pointer — Delta's
  *    `_last_checkpoint` mechanics. Entries are never deleted, so
  *    history/CDF/time-travel replay stays exact; checkpoints are a
  *    pure read-path accelerator and any one of them is valid.
  *  - TIME TRAVEL = replay to an older version (from the newest
  *    checkpoint at-or-before it): remove entries only drop segments
  *    from the LIVE set; the bytes stay until a retention [[vacuum]]
  *    reclaims them.
  *  - DELETE = copy-on-write at segment granularity: only segments
  *    that actually contain matching rows are rewritten (the file-stats
  *    pruning of a real format, with a per-segment probe standing in
  *    for min/max stats); untouched segments carry over by reference.
  *  - COMPACT = read live set, write one consolidated segment, commit
  *    remove(live)+add(new): a metadata-only swap for readers, no
  *    logical change — the small-files answer under a log.
  *
  * Scale shape: the log is O(commits) tiny text files, but the READ
  * path touches only O(1 checkpoint + tail) of them (like Delta's
  * checkpointed JSON actions); data moves only through normal
  * distributed parquet jobs over the affected segments. Nothing here
  * holds rows on the driver. All metadata I/O goes through
  * [[LogStore]], so a table addressed as `file:/...` (or `hdfs://...`)
  * runs the same code through the Hadoop FileSystem API.
  */
object TxLog {

  /** Commits between checkpoints (Delta's default cadence). Writers
    * fold a checkpoint after every interval-th commit; readers replay
    * at most this many tail entries past the newest checkpoint. */
  private[graft] val CheckpointInterval = 10

  /** PROTOCOL versions this implementation can consume/produce
    * (Delta's reader/writer protocol): reader/writer 2 = column
    * mapping + deletion vectors; writer 3 = write-shaping table
    * metadata — CHECK constraints, column defaults, and generated
    * columns (reader stays 2: they shape writes, never reads, exactly
    * Delta's split). Tables start at 1|1; the first feature-using
    * commit
    * auto-records the bump, and a client seeing a floor ABOVE what it
    * supports fails loud instead of misreading mapped columns,
    * resurrecting tombstoned rows, or appending constraint-breaking
    * rows it never knew to check. */
  val SupportedReaderVersion = 2
  val SupportedWriterVersion = 3

  private def logDir(dir: String): String = s"$dir/_txlog"
  private def store(dir: String): LogStore = LogStore.forPath(dir)

  /** Per-segment, per-column min/max recorded at write time — the
    * data-skipping stats of the log formats. `typeName` decides the
    * comparison domain at prune time (numeric vs lexicographic). */
  /** Per-segment, per-column skipping stats. `nulls` is the RECORDED
  * null count (-1 = unknown, the pre-r15 line format): min/max alone
  * can prove a predicate EXCLUDES a segment, but proving it matches
  * ALL rows (the metadata-only whole-segment DML drop) additionally
  * needs "no nulls" — a null row fails every comparison. */
private[graft] case class ColStats(typeName: String, min: String,
                                   max: String, nulls: Long = -1L)

  /** Per-segment, per-column Bloom filter recorded at write time — the
    * point-lookup complement to [[ColStats]]: range min/max cannot
    * prune a high-cardinality key spread across segments, a Bloom can
    * (Delta's bloom filter index / parquet's bloom). The commit entry
    * holds only (typeName, m, k, sidecar file): bitsets live in
    * `_txlog/<file>.bloom` SIDECAR files, loaded lazily per probe —
    * the log entry stays tiny and metadata ops that never touch blooms
    * never pay for them. `typeName` normalizes probe values to the
    * column's cast-to-string domain (the form the bits were built
    * from); k hash positions derive from md5 ([[bloomPositions]]). */
  private[graft] case class BloomStats(typeName: String, m: Int, k: Int,
                                       st: LogStore, file: String) {
    private lazy val bits: Option[Array[Byte]] =
      try {
        val b = st.readBytes(file)
        if (b.length == (m + 7) / 8) Some(b) else None // truncated sidecar
      } catch { case _: java.io.IOException => None }   // vacuumed mid-probe
    /** Some(false) = PROVEN absent; Some(true) = maybe present;
      * None = cannot answer (unnormalizable probe type, or the sidecar
      * is missing/truncated — e.g. a concurrent vacuum) — callers
      * treat None as "keep". */
    def mightContain(value: String): Option[Boolean] =
      for (v <- normalizeProbe(typeName, value); b <- bits)
        yield bloomPositions(v, m, k).forall(p => (b(p / 8) & (1 << (p % 8))) != 0)
  }

  /** Probe value → the column's cast-to-string representation (what
    * [[segBlooms]] hashed). Integral and binary-fp types round-trip
    * through their JVM parse (Spark's cast-to-string is the same
    * shortest round-trip form); strings are already canonical, and
    * date probes arrive rendered canonical by [[literalBound]]; any
    * other type (decimal scale, timestamp formats) returns None and
    * the bloom conservatively cannot prune. */
  private def normalizeProbe(tn: String, value: String): Option[String] =
    try tn match {
      case "byte" | "short" | "integer" | "long" =>
        Some(java.lang.Long.parseLong(value).toString)
      case "float"  => Some(java.lang.Float.parseFloat(value).toString)
      case "double" => Some(java.lang.Double.parseDouble(value).toString)
      case "string" | "date" => Some(value)
      case _        => None
    } catch { case _: NumberFormatException => None }

  /** What a scan needs of one segment, as the log records it: the
    * physical schema a read of the segment infers (`StructType.json`,
    * nullable like every file scan) under its content id, and the part
    * files with their byte sizes. [[scanSegments]] plans from it
    * without listing the directory or reading a footer. */
  private[graft] case class SegFiles(schemaId: String, schema: String,
                              files: Seq[(String, Long)])
  private[graft] object SegFiles {
    def apply(schema: String, files: Seq[(String, Long)]): SegFiles =
      SegFiles(schemaIdOf(schema), schema, files)
  }

  /** Content id of a schema's JSON: a `schema=` line defines it once,
    * the `file=` lines of every segment with that schema refer to it. */
  private def schemaIdOf(json: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Segments a write just staged, with what the log records of them. */
  private case class Staged(segs: Seq[String], files: Map[String, SegFiles])
  private val NothingStaged = Staged(Seq.empty, Map.empty)

  private[sources] case class Entry(version: Int, op: String,
                           add: Seq[String], remove: Seq[String],
                           stats: Map[(String, String), ColStats],
                           blooms: Map[(String, String), BloomStats],
                           dvs: Seq[(String, String, Long)],
                           renames: Seq[(String, String)] = Seq.empty,
                           drops: Seq[String] = Seq.empty,
                           undrops: Seq[String] = Seq.empty,
                           protocol: Option[(Int, Int)] = None,
                           consAdds: Seq[(String, String)] = Seq.empty,
                           consDrops: Seq[String] = Seq.empty,
                           defSets: Seq[(String, String)] = Seq.empty,
                           defUnsets: Seq[String] = Seq.empty,
                           genSets: Seq[(String, String)] = Seq.empty,
                           genUnsets: Seq[String] = Seq.empty,
                           cdfSet: Option[Boolean] = None,
                           cdc: Seq[(String, String)] = Seq.empty,
                           partCols: Option[Seq[String]] = None,
                           schemas: Map[String, String] = Map.empty,
                           files: Seq[(String, String, String, Long)] = Seq.empty)

  /** Replayed log state as of some version: what every reader/pruner
    * actually consumes — built from checkpoint + tail, never a full
    * log scan on the hot path. `dvs` maps a live segment to its
    * DELETION VECTOR sidecars — (sidecar name, tombstone rows in this
    * segment) — merge-on-read: the segment's bytes are untouched and
    * reads subtract the tombstoned (file, pos) rows. The recorded row
    * count makes the read-side broadcast decision a metadata lookup
    * (no probe job); a rewrite drops the mapping with the segment. */
  private[graft] case class State(version: Int, live: Seq[String],
                           stats: Map[(String, String), ColStats],
                           blooms: Map[(String, String), BloomStats],
                           streamOps: Set[String],
                           dvs: Map[String, Seq[(String, Long)]],
                           renames: Map[String, String] = Map.empty,
                           dropped: Set[String] = Set.empty,
                           protocol: (Int, Int) = (1, 1),
                           constraints: Map[String, String] = Map.empty,
                           defaults: Map[String, String] = Map.empty,
                           generated: Map[String, String] = Map.empty,
                           cdfEnabled: Boolean = false,
                           partitionCols: Seq[String] = Seq.empty,
                           files: Map[String, SegFiles] = Map.empty) {
    /** logical name → PHYSICAL (stored) name, for mapped columns. */
    def physByLogical: Map[String, String] = renames.map(_.swap)
    /** The physical (stored) name behind a user-facing column name. */
    def physCol(c: String): String = physByLogical.getOrElse(c, c)
    /** This state with just-staged segments' files known, so a read of
      * the staged output plans from them too. */
    def withFiles(staged: Map[String, SegFiles]): State =
      copy(files = files ++ staged)
    /** Ids of the schemas live segments use — the ones a commit on
      * this state need not define again. */
    def liveSchemaIds: Set[String] =
      live.iterator.flatMap(files.get).map(_.schemaId).toSet
  }

  /** Canonical serialization of a snapshot's WRITE GOVERNANCE — the
    * metadata that shapes what row bytes a staged segment must carry
    * (CHECK constraints, column defaults, generated columns, dropped
    * physical names). Row-adding commits that claim a slot BEYOND the
    * snapshot they staged under (blind appends, streaming retry loops)
    * compare fingerprints to detect a governance commit landing in the
    * gap: without the check, an in-flight append staged before ADD
    * CONSTRAINT would commit unchecked rows the constraint's own
    * every-existing-row validation never saw (Delta closes the same
    * race by conflict-checking metadata changes against every txn).
    * RENAMES are included too: a rename never changes already-staged
    * bytes, but it changes how a stage TRANSLATES logical labels to
    * physical names — a batch staged before `RENAME a TO b` whose
    * frame carried label `b` wrote `b` as a fresh physical column;
    * committed after the rename lands, applyMapping would re-label
    * the old physical column onto `b` as well, yielding duplicate/
    * ambiguous columns on every later read. Forcing the restage makes
    * the batch re-translate under the new mapping, mirroring drops. */
  private def govFingerprint(s: State): String =
    // fields are URL-encoded like every other metadata serialization
    // here: expressions can legitimately contain ';'/'=', and raw
    // concatenation would let two different governance states
    // fingerprint-equal (an undetected governance change at the gate)
    (s.constraints.toSeq.sorted.map { case (n, e) => s"c:${enc(n)}=${enc(e)}" } ++
      s.defaults.toSeq.sorted.map { case (n, e) => s"d:${enc(n)}=${enc(e)}" } ++
      s.generated.toSeq.sorted.map { case (n, e) => s"g:${enc(n)}=${enc(e)}" } ++
      s.dropped.toSeq.sorted.map(n => s"x:${enc(n)}") ++
      s.renames.toSeq.sorted.map { case (p, l) => s"r:${enc(p)}=${enc(l)}" } ++
      // partitioning shapes how a staged batch is laid out (one
      // segment per tuple) — a spec landing under an in-flight blind
      // append must force the restage like any governance change
      s.partitionCols.map(c => s"p:${enc(c)}"))
      .mkString(";")

  /** Test hook: the table's CURRENT governance fingerprint (what a
    * blind append passes as `requireGov`). */
  private[graft] def govFingerprintOf(dir: String): String =
    govFingerprint(snapshotOrEmpty(dir))

  private def entryPath(dir: String, v: Int): String =
    f"${logDir(dir)}/$v%08d.txt"
  private def checkpointPath(dir: String, v: Int): String =
    f"${logDir(dir)}/$v%08d.checkpoint"
  private def lastCheckpointPath(dir: String): String =
    s"${logDir(dir)}/_last_checkpoint"

  /** Recursive delete (children-first); no-op on a missing path. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    NioLogStore.deleteRecursively(p.toString)

  /** Bound on conflict-replay retries of a conditional commit: under
    * continuous ingest the retry loop re-reads only metadata (one
    * entry file per intervening commit), but an adversarial append
    * rate could otherwise spin it forever — after this many re-claims
    * the op aborts like a true conflict and the caller decides. */
  private[graft] val MaxCommitRetries = 10

  /** Entry line keys a PURE BLIND APPEND may carry: one or more new
    * segments plus their skipping metadata (stats/bloom refs) and the
    * commit framing (op/ts). Anything else — `remove` (a rewrite whose
    * output our remove set could double-drop), `dv` (tombstones our
    * rewrite would resurrect), renames/drops/protocol/constraints/
    * defaults/generated (governance a staged batch was not validated
    * against), `setcdf`/`cdc`, or any key this client has never seen
    * (future format) — conservatively CONFLICTS. Admitting `stats`/
    * `bloom` lines means a DML retried past a concurrent ANALYZE can
    * leave that ANALYZE's stats rows orphaned for segments the DML
    * removed — harmless: stats/bloom lookups key off the LIVE set, so
    * an orphan row for a dead segment is never consulted, and a
    * checkpoint drops it. `file` lines describe only the append's own
    * new segments, and a `schema` line defines a content id (the same
    * id always names the same schema), so neither can change what our
    * entry's lines mean: a snapshot defines every schema its live
    * segments use, and no pure append removes one of them. */
  private val PureAppendKeys = Set("op", "ts", "add", "stats", "bloom",
    "file", "schema")

  /** True when commit `v`'s entry is a pure blind append, classified
    * from its RAW lines (content, not op name — a future op that
    * smuggles a new action kind fails the whitelist instead of
    * slipping past a name check). Unreadable entry → false (conflict):
    * an entry we cannot read is one we cannot prove commutes. */
  private def isPureAppend(dir: String, v: Int): Boolean =
    try new String(store(dir).readBytes(entryPath(dir, v)), "UTF-8")
      .linesIterator.filter(_.nonEmpty)
      .forall(l => PureAppendKeys.contains(l.takeWhile(_ != '=')))
    catch { case _: java.io.IOException => false }

  /** Test-only injection point: runs ONCE immediately before the first
    * slot-claim attempt of the next conditional commit, then clears
    * itself — lets a spec land a concurrent commit inside the
    * otherwise sub-millisecond window between an op's snapshot read
    * and its commit, deterministically and in-process. */
  private[graft] val testBeforeConditionalCommit =
    new java.util.concurrent.atomic.AtomicReference[Runnable](null)

  /** Observability: conditional commits in THIS JVM that re-claimed a
    * slot past verified pure appends — the cross-process race spec's
    * proof that the retry path actually fired (wall-clock interleaving
    * alone can't show which side of the snapshot window a child's
    * append landed on). */
  private[graft] val occRetries =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Conditional commit that RECLAIMS the just-written `add` segments
    * on a concurrency conflict — without this, every conflicted
    * optimize/merge/delete of a large table would leak a table-sized
    * set of unreferenced segment dirs that [[vacuum]] (which only sees
    * entry-recorded segments) could never reclaim.
    *
    * `retryPastAppends` adds the Delta protocol's LOGICAL
    * conflict re-check (write-serializable isolation): when the slot
    * claim fails, the entries between the op's snapshot and the
    * current head are replayed, and if EVERY one is a pure blind
    * append ([[isPureAppend]]) the commit re-claims the next slot with
    * the SAME staged segments — metadata-only, the rewrite job never
    * re-runs. Sound because the op's remove set was drawn from its
    * snapshot's live set, which no append touches, and the result is
    * exactly the serial order ⟨op, then appends⟩: appended rows
    * survive a predicate they happen to match, as if inserted after
    * the DML committed. Ops whose CONTRACT asserts over concurrently
    * appended rows too (overwrite replaces the whole table,
    * replaceWhere asserts its frame is fully replaced, restore pins an
    * exact historical live set) must NOT opt in — for them an
    * intervening append is a true conflict. Without this, a CoW
    * delete/update/merge/optimize whose rewrite job outlives the
    * append cadence of a continuously-ingesting table could never
    * commit (permanent livelock). */
  private[graft] def commitOrReclaim(dir: String, op: String,
                              add: Seq[String], remove: Seq[String],
                              expectedHead: Int,
                              stats: Map[(String, String), ColStats],
                              blooms: Map[(String, String), BloomStats] = Map.empty,
                              extraLines: Seq[String] = Seq.empty,
                              alsoReclaim: Seq[String] = Seq.empty,
                              retryPastAppends: Boolean = false,
                              dvs: Seq[(String, String, Long)] = Seq.empty,
                              reclaimAdds: Boolean = true,
                              files: Map[String, SegFiles] = Map.empty): Int = {
    Option(testBeforeConditionalCommit.getAndSet(null)).foreach(_.run())
    @annotation.tailrec
    def attempt(eh: Int, attempts: Int): Int = {
      // None = retry from the VERIFIED head (every entry in (eh, head]
      // proven a pure append; a commit landing after that read just
      // conflicts again and is checked by the next pass)
      val committed =
        try Right(commit(dir, op, add, remove, Some(eh), stats, blooms,
          dvs = dvs, extraLines = extraLines, files = files))
        catch {
          case e: java.util.ConcurrentModificationException =>
            val head = headVersion(dir)
            val commutes = retryPastAppends && attempts < MaxCommitRetries &&
              head > eh && (eh + 1 to head).forall(v => isPureAppend(dir, v))
            if (!commutes) {
              // alsoReclaim: staged files the entry references OUTSIDE
              // its add set (change-feed cdc / DV sidecars) — equally
              // orphaned by a conflict, equally invisible to vacuum if
              // leaked. reclaimAdds=false when the add set re-adds LIVE
              // segments (dv_coalesce's restore trick) rather than
              // staging new bytes — deleting those would destroy data a
              // committed version still references.
              ((if (reclaimAdds) add else Seq.empty) ++ alsoReclaim)
                .foreach(seg => store(dir).deleteRecursively(s"$dir/$seg"))
              throw e
            }
            Left(head)
        }
      committed match {
        case Right(v)    => v
        case Left(head)  =>
          occRetries.incrementAndGet()
          attempt(head, attempts + 1)
      }
    }
    attempt(expectedHead, 0)
  }

  /** Expression classes whose value can differ across two executions
    * of the same query — the current-time family is catalyst-
    * "deterministic" (folded once PER ACTION) but CDF recording runs
    * the rewrite and the sidecar as SEPARATE actions. */
  private val PerActionExprs = Set("CurrentTimestamp", "Now", "CurrentDate",
    "LocalTimestamp", "CurrentTime", "CurrentTimeZone")

  /** Reject predicate/SET expressions whose value can differ between
    * the committed rewrite and the cdc sidecar's own evaluation
    * (rand()/uuid() are catalyst-nondeterministic; current_timestamp()
    * re-folds per action): under enableChangeDataFeed the sidecar
    * must record exactly the rows the table holds, and a second
    * evaluation of such an expression records a DIFFERENT answer —
    * silent feed corruption. Delta likewise rejects nondeterministic
    * expressions in DML. Without CDF the sidecar doesn't exist and
    * the single committed evaluation stands — unaffected. Runs BEFORE
    * any distributed work: the analysis needs only the table's
    * LOGICAL column labels (an empty local frame), so rejection costs
    * zero cluster I/O — never a triage scan that a typed error then
    * throws away. */
  /** Physical (footer-unioned) schema → the table's LOGICAL view:
    * dropped columns hidden, mapping labels applied — the ONE copy of
    * this derivation (the CDF guard, the DSv2 schema, and updateMoR's
    * visible-column list all consume it; keeping three inline copies
    * in lockstep was the review finding). */
  private def logicalSchema(snap: State,
      physical: org.apache.spark.sql.types.StructType
      ): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      physical.filterNot(f => snap.dropped(f.name))
        .map(f => f.copy(name = snap.renames.getOrElse(f.name, f.name))))

  private def requireCdfDeterministic(spark: SparkSession, snap: State,
                                      schema: org.apache.spark.sql.types.StructType,
                                      exprsByRole: Map[String, String]): Unit = {
    val frame = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      logicalSchema(snap, schema))
    exprsByRole.foreach { case (role, e) =>
      val analyzed = frame.selectExpr(e).queryExecution.analyzed
      val bad = analyzed.expressions.exists(_.exists(x =>
        !x.deterministic || PerActionExprs(x.getClass.getSimpleName)))
      if (bad) throw new UnsupportedOperationException(
        s"$role [$e] under enableChangeDataFeed is nondeterministic or " +
          "time-dependent: the change-feed sidecar would re-evaluate it " +
          "and record rows that differ from the committed table — " +
          "precompute the value into a literal, or run the op without CDF")
    }
  }

  /** Runs `body` (a stats pass + commit tail over just-staged, not yet
    * entry-recorded segments); on failure deletes the staged segment
    * dirs — the non-conflict analogue of [[commitOrReclaim]]'s reclaim
    * — then rethrows. NonFatal ONLY: [[commit]] swallows NonFatal
    * checkpoint failures, so any NonFatal escaping it is provably
    * PRE-claim — but a fatal error (OOM, LinkageError) can escape
    * AFTER the entry file landed, and reclaiming then would delete
    * bytes a durable commit references. On fatal errors the staging
    * may leak (the process is dying); leaked staging is recoverable,
    * a committed entry over deleted bytes is not. */
  private def reclaimOnFailure[T](dir: String, staged: Seq[String])(body: => T): T =
    try body
    catch {
      case scala.util.control.NonFatal(e) =>
        staged.foreach(seg => store(dir).deleteRecursively(s"$dir/$seg"))
        throw e
    }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def parseStats(lines: Seq[String]): Map[(String, String), ColStats] =
    lines.flatMap { line =>
      // limit -1: a trailing empty field (empty-string max) must survive
      line.split("\\|", -1) match {
        case Array(seg, c, tn, mn, mx) =>
          Some((dec(seg), dec(c)) -> ColStats(dec(tn), dec(mn), dec(mx)))
        case Array(seg, c, tn, mn, mx, nn) =>
          Some((dec(seg), dec(c)) -> ColStats(dec(tn), dec(mn), dec(mx),
            nn.toLongOption.getOrElse(-1L)))
        case _ => None // malformed / future-format stats line: ignorable metadata
      }
    }.toMap

  private def parseBlooms(dir: String, lines: Seq[String]): Map[(String, String), BloomStats] =
    lines.flatMap { line =>
      line.split("\\|", -1) match {
        case Array(seg, c, tn, m, k, file) =>
          Some((dec(seg), dec(c)) -> BloomStats(dec(tn), m.toInt, k.toInt,
            store(dir), s"${logDir(dir)}/${dec(file)}"))
        case _ => None
      }
    }.toMap

  private def vals(lines: Seq[String], k: String): Seq[String] =
    lines.filter(_.startsWith(s"$k=")).map(_.drop(k.length + 1))

  private def parseDvs(lines: Seq[String]): Seq[(String, String, Long)] =
    lines.flatMap { line =>
      line.split("\\|", -1) match {
        case Array(seg, dv, rows) =>
          Some((dec(seg), dec(dv), rows.toLongOption.getOrElse(-1L)))
        // count-less legacy line: rows = -1 means UNKNOWN — the read
        // side then refuses to broadcast (shuffle join is always
        // correct). Dropping the line instead would resurrect rows.
        case Array(seg, dv) => Some((dec(seg), dec(dv), -1L))
        case _              => None
      }
    }

  private def parse(dir: String, v: Int, lines: Seq[String]): Entry =
    Entry(v, vals(lines, "op").headOption.getOrElse("?"),
      vals(lines, "add"), vals(lines, "remove"),
      parseStats(vals(lines, "stats")), parseBlooms(dir, vals(lines, "bloom")),
      parseDvs(vals(lines, "dv")),
      renames = vals(lines, "rename").flatMap(_.split("\\|", -1) match {
        case Array(p, l) => Some((dec(p), dec(l)))
        case _           => None
      }),
      drops = vals(lines, "dropcol").map(dec),
      undrops = vals(lines, "undropcol").map(dec),
      protocol = vals(lines, "protocol").headOption.flatMap(parseProtocol),
      consAdds = vals(lines, "addconstraint").flatMap(_.split("\\|", -1) match {
        case Array(n, c) => Some((dec(n), dec(c)))
        case _           => None
      }),
      consDrops = vals(lines, "dropconstraint").map(dec),
      defSets = vals(lines, "setdefault").flatMap(_.split("\\|", -1) match {
        case Array(n, c) => Some((dec(n), dec(c)))
        case _           => None
      }),
      defUnsets = vals(lines, "unsetdefault").map(dec),
      genSets = vals(lines, "setgenerated").flatMap(_.split("\\|", -1) match {
        case Array(n, c) => Some((dec(n), dec(c)))
        case _           => None
      }),
      genUnsets = vals(lines, "unsetgenerated").map(dec),
      cdfSet = vals(lines, "setcdf").headOption.map(_ == "true"),
      cdc = vals(lines, "cdc").flatMap(_.split("\\|", -1) match {
        case Array(f, t) => Some((dec(f), dec(t)))
        case _           => None
      }),
      partCols = vals(lines, "partcols").headOption
        .map(_.split("\\|", -1).toSeq.map(dec)),
      schemas = parseSchemas(lines),
      files = parseFiles(lines))

  private def parseSchemas(lines: Seq[String]): Map[String, String] =
    vals(lines, "schema").flatMap(_.split("\\|", -1) match {
      case Array(id, js) => Some(id -> dec(js))
      case _             => None
    }).toMap

  /** `file=` lines as (segment, schema id, part file, byte size). */
  private def parseFiles(lines: Seq[String]): Seq[(String, String, String, Long)] =
    vals(lines, "file").flatMap(_.split("\\|", -1) match {
      case Array(seg, id, f, n) => n.toLongOption.map((dec(seg), id, dec(f), _))
      case _                    => None
    })

  /** Parsed `file=` lines grouped per segment, resolved against the
    * schema definitions in scope; a segment whose schema id is not
    * defined stays undescribed (scans take the listing path). */
  private def segFilesOf(files: Seq[(String, String, String, Long)],
                         schemas: String => Option[String]): Map[String, SegFiles] =
    files.groupBy(_._1).flatMap { case (seg, fs) =>
      schemas(fs.head._2).map(js =>
        seg -> SegFiles(fs.head._2, js, fs.map(f => (f._3, f._4))))
    }

  /** `schema=` lines for the schemas of `segs` not in `known`, then one
    * `file=` line per part file of each described segment. */
  private def fileLines(files: Map[String, SegFiles], segs: Seq[String],
                        known: Set[String]): Seq[String] = {
    val described = segs.flatMap(seg => files.get(seg).map(seg -> _))
    described.map(_._2).filterNot(f => known(f.schemaId))
      .map(f => f.schemaId -> f.schema).distinct
      .map { case (id, js) => s"schema=$id|${enc(js)}" } ++
      described.flatMap { case (seg, f) =>
        f.files.map { case (n, len) => s"file=${enc(seg)}|${f.schemaId}|${enc(n)}|$len" }
      }
  }

  private def parseProtocol(s: String): Option[(Int, Int)] =
    s.split("\\|", -1) match {
      case Array(r, w) =>
        for (ri <- r.toIntOption; wi <- w.toIntOption) yield (ri, wi)
      case _ => None
    }

  private[sources] def readEntry(dir: String, v: Int): Entry =
    parse(dir, v,
      new String(store(dir).readBytes(entryPath(dir, v)), "UTF-8").linesIterator.toSeq)

  /** All committed entries in version order — a FULL log replay,
    * O(versions) by definition; reserved for the per-commit surfaces
    * ([[history]], [[vacuum]]'s all-adds-ever set). Hot-path readers
    * go through [[state]] (checkpoint + tail) instead. */
  private def entries(dir: String): Seq[Entry] = {
    val st = store(dir)
    if (!st.isDirectory(logDir(dir))) return Seq.empty
    Iterator.from(0)
      .takeWhile(v => st.exists(entryPath(dir, v)))
      .map(v => readEntry(dir, v))
      .toSeq
  }

  /** The `_last_checkpoint` pointer's version, if present and sane. */
  private def checkpointPointer(dir: String): Option[Int] =
    try {
      val st = store(dir)
      val p = lastCheckpointPath(dir)
      if (!st.exists(p)) None
      else new String(st.readBytes(p), "UTF-8").trim.toIntOption
    } catch { case _: java.io.IOException => None }

  /** Load a checkpoint file into a [[State]]; None when missing or
    * unreadable (readers fall back to a longer replay, never fail). */
  private def loadCheckpoint(dir: String, v: Int): Option[State] =
    try {
      val lines = new String(store(dir).readBytes(checkpointPath(dir, v)), "UTF-8")
        .linesIterator.toSeq
      Some(State(v, vals(lines, "live").map(dec),
        parseStats(vals(lines, "stats")),
        parseBlooms(dir, vals(lines, "bloom")),
        vals(lines, "streamop").map(dec).toSet,
        parseDvs(vals(lines, "dv")).groupBy(_._1)
          .map { case (seg, ps) => seg -> ps.map(p => (p._2, p._3)) },
        renames = vals(lines, "rename").flatMap(_.split("\\|", -1) match {
          case Array(p, l) => Some((dec(p), dec(l)))
          case _           => None
        }).toMap,
        dropped = vals(lines, "dropcol").map(dec).toSet,
        protocol = vals(lines, "protocol").headOption
          .flatMap(parseProtocol).getOrElse((1, 1)),
        constraints = vals(lines, "constraint").flatMap(_.split("\\|", -1) match {
          case Array(n, c) => Some((dec(n), dec(c)))
          case _           => None
        }).toMap,
        defaults = vals(lines, "default").flatMap(_.split("\\|", -1) match {
          case Array(n, c) => Some((dec(n), dec(c)))
          case _           => None
        }).toMap,
        generated = vals(lines, "generated").flatMap(_.split("\\|", -1) match {
          case Array(n, c) => Some((dec(n), dec(c)))
          case _           => None
        }).toMap,
        cdfEnabled = vals(lines, "setcdf").headOption.contains("true"),
        partitionCols = vals(lines, "partcols").headOption
          .map(_.split("\\|", -1).toSeq.map(dec)).getOrElse(Seq.empty),
        files = segFilesOf(parseFiles(lines), parseSchemas(lines).get)))
    } catch { case _: java.io.IOException => None }

  /** Newest checkpoint at-or-before `asOf` (-1 = no bound): pointer
    * fast path for head reads; a directory listing finds the best
    * older checkpoint for time travel past the pointer. */
  private def bestCheckpoint(dir: String, asOf: Int): Option[State] = {
    val ptr = checkpointPointer(dir)
    ptr match {
      case Some(v) if asOf < 0 || v <= asOf =>
        loadCheckpoint(dir, v).orElse(scanCheckpoints(dir, asOf))
      case Some(_) => scanCheckpoints(dir, asOf) // pointer is past asOf
      case None if asOf < 0 => scanCheckpoints(dir, asOf) // pointer lost/corrupt
      case None => scanCheckpoints(dir, asOf)
    }
  }

  private def scanCheckpoints(dir: String, asOf: Int): Option[State] = {
    val cps = store(dir).list(logDir(dir))
      .filter(_.endsWith(".checkpoint"))
      .flatMap(_.stripSuffix(".checkpoint").toIntOption)
      .filter(v => asOf < 0 || v <= asOf)
    cps.sorted.reverseIterator.flatMap(v => loadCheckpoint(dir, v)).nextOption()
  }

  /** Replayed state as of `asOf` (-1 = head): newest usable checkpoint
    * plus the tail entries after it — the O(checkpoint + tail) read
    * path. Requires `asOf` to exist when given. */
  private[graft] def state(dir: String, asOf: Int = -1): State = {
    val st = store(dir)
    require(asOf < 0 || st.exists(entryPath(dir, asOf)),
      s"version $asOf does not exist in $dir (head=${headVersion(dir)})")
    val cp = bestCheckpoint(dir, asOf)
    val live = scala.collection.mutable.LinkedHashSet[String](
      cp.map(_.live).getOrElse(Seq.empty): _*)
    var stats = cp.map(_.stats).getOrElse(Map.empty[(String, String), ColStats])
    var blooms = cp.map(_.blooms).getOrElse(Map.empty[(String, String), BloomStats])
    var ops = cp.map(_.streamOps).getOrElse(Set.empty[String])
    var dvs = cp.map(_.dvs).getOrElse(Map.empty[String, Seq[(String, Long)]])
    var renames = cp.map(_.renames).getOrElse(Map.empty[String, String])
    var dropped = cp.map(_.dropped).getOrElse(Set.empty[String])
    var proto = cp.map(_.protocol).getOrElse((1, 1))
    var cons = cp.map(_.constraints).getOrElse(Map.empty[String, String])
    var defs = cp.map(_.defaults).getOrElse(Map.empty[String, String])
    var gens = cp.map(_.generated).getOrElse(Map.empty[String, String])
    var cdf = cp.exists(_.cdfEnabled)
    var pcols = cp.map(_.partitionCols).getOrElse(Seq.empty[String])
    // like stats, a removed segment's files stay until a checkpoint
    // folds them away: restore and dv_coalesce re-add segments by name
    var files = cp.map(_.files).getOrElse(Map.empty[String, SegFiles])
    var schemas = files.values.map(f => f.schemaId -> f.schema).toMap
    var version = cp.map(_.version).getOrElse(-1)
    var v = version + 1
    while ((asOf < 0 || v <= asOf) && st.exists(entryPath(dir, v))) {
      val e = readEntry(dir, v)
      live --= e.remove; live ++= e.add
      // a removed segment's tombstones die with it (a rewrite's output
      // already has the deletions applied); re-added segments (restore)
      // get theirs re-recorded by the restoring commit
      dvs --= e.remove
      e.dvs.foreach { case (seg, dv, rows) =>
        dvs = dvs.updated(seg, dvs.getOrElse(seg, Seq.empty) :+ (dv -> rows))
      }
      stats ++= e.stats; blooms ++= e.blooms
      if (e.op.startsWith("stream-")) ops += e.op
      // column mapping: rename lines rebind a PHYSICAL name's logical
      // label (identity rebind clears the mapping — how restore rolls a
      // rename back); drop/undrop toggle logical visibility
      e.renames.foreach { case (p, l) =>
        renames = if (l == p) renames - p else renames.updated(p, l)
      }
      dropped = dropped ++ e.drops -- e.undrops
      e.protocol.foreach(p => proto = p)
      cons = cons ++ e.consAdds -- e.consDrops
      defs = defs ++ e.defSets -- e.defUnsets
      gens = gens ++ e.genSets -- e.genUnsets
      e.cdfSet.foreach(cdf = _)
      e.partCols.foreach(pcols = _)
      schemas ++= e.schemas
      files ++= segFilesOf(e.files, schemas.get)
      version = v; v += 1
    }
    // reader gate: refusing is the only safe response to a floor above
    // this implementation — "reading anyway" would surface physical
    // column names or resurrect DV-tombstoned rows of a future format
    if (proto._1 > SupportedReaderVersion)
      throw new UnsupportedOperationException(
        s"table $dir requires reader protocol ${proto._1}; this client " +
          s"supports $SupportedReaderVersion — upgrade the client to read")
    State(version, live.toSeq, stats, blooms, ops, dvs, renames, dropped,
      protocol = proto, constraints = cons, defaults = defs,
      generated = gens, cdfEnabled = cdf, partitionCols = pcols,
      files = files)
  }

  /** Fold the state at version `v` into a checkpoint file + advance
    * the `_last_checkpoint` pointer. Keeps LIVE segments' stats/bloom
    * refs only (Delta-style — [[restore]] re-records what it
    * resurrects) so checkpoint size tracks the live set, not history.
    * Best-effort: entries remain the source of truth, so a failed or
    * lost checkpoint costs replay length, never correctness. */
  private def maybeCheckpoint(dir: String, v: Int): Unit =
    if (CheckpointInterval > 0 && (v + 1) % CheckpointInterval == 0)
      try {
        val st = store(dir)
        val s = state(dir, v)
        val liveSet = s.live.toSet
        val body = (Seq(s"version=$v") ++
          s.live.map("live=" + enc(_)) ++
          statLines(s.stats.filter { case ((seg, _), _) => liveSet(seg) }) ++
          bloomLines(s.blooms.filter { case ((seg, _), _) => liveSet(seg) }) ++
          dvLines(s.dvs.filter { case (seg, _) => liveSet(seg) }
            .toSeq.flatMap { case (seg, ds) =>
              ds.map { case (dv, rows) => (seg, dv, rows) } }) ++
          s.streamOps.toSeq.sorted.map("streamop=" + enc(_)) ++
          s.renames.toSeq.sorted.map { case (p, l) =>
            s"rename=${enc(p)}|${enc(l)}" } ++
          s.dropped.toSeq.sorted.map("dropcol=" + enc(_)) ++
          (if (s.protocol == (1, 1)) Seq.empty
           else Seq(s"protocol=${s.protocol._1}|${s.protocol._2}")) ++
          s.constraints.toSeq.sorted.map { case (n, c) =>
            s"constraint=${enc(n)}|${enc(c)}" } ++
          s.defaults.toSeq.sorted.map { case (n, c) =>
            s"default=${enc(n)}|${enc(c)}" } ++
          s.generated.toSeq.sorted.map { case (n, c) =>
            s"generated=${enc(n)}|${enc(c)}" } ++
          (if (s.cdfEnabled) Seq("setcdf=true") else Seq.empty) ++
          (if (s.partitionCols.isEmpty) Seq.empty
           else Seq("partcols=" + s.partitionCols.map(enc).mkString("|"))) ++
          fileLines(s.files, s.live, known = Set.empty))
          .mkString("", "\n", "\n")
        // idempotent across racing checkpointers: same version folds the
        // same content, so losing the put-if-absent race is fine
        st.putIfAbsent(checkpointPath(dir, v), body.getBytes("UTF-8"))
        // pointer only moves FORWARD (a racing older checkpointer must
        // not regress it; any historical pointer value stays valid)
        if (checkpointPointer(dir).forall(_ < v))
          st.putReplace(lastCheckpointPath(dir), v.toString.getBytes("UTF-8"))
      } catch { case scala.util.control.NonFatal(_) => () }

  /** Latest committed version, -1 for an empty/new table: probe
    * forward from the checkpoint pointer — O(tail), not O(versions). */
  def headVersion(dir: String): Int = {
    val st = store(dir)
    if (!st.isDirectory(logDir(dir))) return -1
    var head = checkpointPointer(dir)
      .filter(v => st.exists(entryPath(dir, v))).getOrElse(-1)
    var v = head + 1
    while (st.exists(entryPath(dir, v))) { head = v; v += 1 }
    head
  }

  /** Live segment set as of `asOf` (-1 = head). */
  def liveSegments(dir: String, asOf: Int = -1): Seq[String] =
    state(dir, asOf).live

  /** True when a segment/sidecar REFERENCE points outside this table's
    * directory — a SHALLOW CLONE's borrowed reference (recorded as an
    * absolute path or URI). External refs are read in place and are
    * never physically deleted by this table's maintenance: vacuum
    * reclaims only storage the table owns. */
  private def isExternal(name: String): Boolean =
    name.startsWith("/") || name.contains(":/")

  /** Resolve a segment/sidecar reference to its filesystem path. */
  private def segPath(dir: String, name: String): String =
    if (isExternal(name)) name else s"$dir/$name"

  /** The store that can address a reference: an EXTERNAL ref may live
    * in a differently-addressed family than the table (a `file:/`
    * source cloned into a plain-path target), so metadata probes on it
    * must resolve through ITS OWN scheme, not the table's. */
  private def refStore(dir: String, name: String): LogStore =
    if (isExternal(name)) LogStore.forPath(name) else store(dir)

  /** The bare directory name of a reference (`seg-<uuid>` / `dv-<uuid>`)
    * — what `_metadata.file_path` attribution and sidecar `seg` columns
    * carry; globally unique by construction (UUID), so entry names
    * (possibly external) translate through it unambiguously. */
  private def bareName(name: String): String =
    name.substring(name.lastIndexOf('/') + 1)

  private def statLines(stats: Map[(String, String), ColStats]): Seq[String] =
    stats.toSeq.sortBy { case ((seg, c), _) => (seg, c) }
      .map { case ((seg, c), st) =>
        s"stats=${enc(seg)}|${enc(c)}|${enc(st.typeName)}|${enc(st.min)}|" +
          s"${enc(st.max)}|${st.nulls}"
      }

  private def bloomLines(blooms: Map[(String, String), BloomStats]): Seq[String] =
    blooms.toSeq.sortBy { case ((seg, c), _) => (seg, c) }
      .map { case ((seg, c), b) =>
        s"bloom=${enc(seg)}|${enc(c)}|${enc(b.typeName)}|${b.m}|${b.k}|" +
          enc(b.file.substring(b.file.lastIndexOf('/') + 1))
      }

  private def dvLines(dvs: Seq[(String, String, Long)]): Seq[String] =
    dvs.sorted.map { case (seg, dv, rows) =>
      s"dv=${enc(seg)}|${enc(dv)}|$rows" }

  /** Optimistic-concurrency commit: claims the next free version slot
    * via [[LogStore.putIfAbsent]] (hard-link CAS locally, atomic
    * rename-if-absent on HDFS — POSIX `rename(2)`, and therefore a
    * naive move, silently REPLACES an existing target, so a move-based
    * local CAS would let two racing writers claim the same slot and
    * lose a commit). Returns the committed version.
    *
    * `expectedHead` (>= -1) makes the commit CONDITIONAL: if any other
    * commit landed after the caller's snapshot, the claim lands on a
    * later slot and the commit is aborted with
    * ConcurrentModificationException — required for ops whose
    * remove set was computed from that snapshot (delete/overwrite/
    * compact); a blind append passes `None` and retries onto the next
    * free slot.
    *
    * `files` describes added segments for scans ([[SegFiles]]); the
    * entry defines only the schemas the state it claims against does
    * not already define for a live segment. */
  private[graft] def commit(dir: String, op: String,
                            add: Seq[String], remove: Seq[String],
                            expectedHead: Option[Int] = None,
                            stats: Map[(String, String), ColStats] = Map.empty,
                            blooms: Map[(String, String), BloomStats] = Map.empty,
                            dvs: Seq[(String, String, Long)] = Seq.empty,
                            extraLines: Seq[String] = Seq.empty,
                            requireGov: Option[String] = None,
                            files: Map[String, SegFiles] = Map.empty): Int = {
    val st = store(dir)
    // governance gate for BLIND row-adding commits (expectedHead=None):
    // the staged bytes were validated against some snapshot's
    // constraints/defaults/generated; if governance moved since, fail
    // loud so the caller restages. Conditional commits don't need it —
    // their expectedHead pins the exact snapshot they staged under, so
    // an interleaved governance commit conflicts at the slot claim.
    def govOk(cur: State): Unit = requireGov.foreach { g =>
      if (govFingerprint(cur) != g)
        throw new java.util.ConcurrentModificationException(
          s"$op against $dir: table governance (constraints/defaults/" +
            "generated/drops) changed after the batch was staged and " +
            "validated — restage against the current snapshot")
    }
    // writer gate at the single commit choke point: a client that
    // cannot understand the table's writer floor must not commit (its
    // rewrite could drop future-format metadata it never parsed). The
    // state replay underneath also enforces the READER gate — you
    // cannot safely write what you cannot read. Cost: one extra
    // O(checkpoint + tail) metadata replay per commit, which every
    // snapshot-dependent op pays already — and the governance-gated
    // blind claim below reuses THIS replay for its first attempt.
    var preRead: Option[State] = None
    if (st.isDirectory(logDir(dir))) {
      val cur = state(dir)
      preRead = Some(cur)
      val p = cur.protocol
      if (p._2 > SupportedWriterVersion)
        throw new UnsupportedOperationException(
          s"table $dir requires writer protocol ${p._2}; this client " +
            s"supports $SupportedWriterVersion — upgrade the client to write")
    }
    st.mkdirs(logDir(dir))
    // IN-COMMIT timestamp (Delta's inCommitTimestamps): the commit
    // instant travels IN the entry, so timestamp time travel survives
    // log-dir copies/rsyncs/backup-restores that reset every mtime —
    // [[adjustedTimes]] prefers it and falls back to mtime for legacy
    // entries written before this line existed
    val ts = System.currentTimeMillis
    def bytes(knownSchemas: Set[String]): Array[Byte] =
      (Seq(s"op=$op", s"ts=$ts") ++
        add.map("add=" + _) ++
        remove.map("remove=" + _) ++ statLines(stats) ++ bloomLines(blooms) ++
        dvLines(dvs) ++ fileLines(files, add, knownSchemas) ++ extraLines)
      .mkString("", "\n", "\n").getBytes("UTF-8")
    val committed = expectedHead match {
      case Some(eh) =>
        // conditional: only the snapshot's successor slot is
        // acceptable — claiming a later slot would validate a stale
        // remove set, and claim-then-withdraw would leave a GAP that
        // hides every later entry from the dense-scan replay. The claim
        // succeeds only if the head is still the one preRead replayed,
        // so preRead's schemas are exactly the ones in scope.
        val v = eh + 1
        if (!st.putIfAbsent(entryPath(dir, v),
              bytes(preRead.map(_.liveSchemaIds).getOrElse(Set.empty))))
          throw new java.util.ConcurrentModificationException(
            s"$op against stale snapshot of $dir: expected head $eh, " +
              s"found ${headVersion(dir)} — recompute and retry")
        v
      case None if requireGov.isEmpty =>
        // ungated blind claim (metadata-only / non-row-adding ops):
        // cheap headVersion probes, no replay per attempt — so no state
        // to trust for schema definitions: the entry carries its own
        val b = bytes(Set.empty)
        var v = headVersion(dir) + 1
        while (!st.putIfAbsent(entryPath(dir, v), b)) v += 1
        v
      case None =>
        // governance-gated blind claim: EVERY attempt derives its slot
        // from the SAME replay the governance check reads — the claim
        // targets exactly `checked.version + 1`, so ANY interleaving
        // commit (governance or not) occupies that slot, forces a
        // retry, and re-runs the check on a fresh replay. (Deriving
        // the slot from a separate headVersion() read would let a
        // governance commit land between the check and the claim and
        // be skipped past without a collision.) A governance commit
        // claiming a LATER slot is conditional on a snapshot that
        // already contains this entry, so its own every-existing-row
        // validation covers these rows.
        var committed = -1
        while (committed < 0) {
          val cur = preRead.getOrElse(snapshotOrEmpty(dir))
          preRead = None // attempt 1 reuses the writer-gate replay
          govOk(cur)
          val v = cur.version + 1
          if (st.putIfAbsent(entryPath(dir, v), bytes(cur.liveSchemaIds)))
            committed = v
        }
        committed
    }
    maybeCheckpoint(dir, committed)
    committed
  }

  /** The `protocol=` bump line a feature-using commit must carry when
    * the table's recorded floor is below `to` — empty when already
    * there (Delta: enabling a feature upgrades the protocol in the
    * same commit that first uses it). */
  private def protoBump(snap: State, to: (Int, Int) = (2, 2)): Seq[String] =
    if (snap.protocol._1 >= to._1 && snap.protocol._2 >= to._2) Seq.empty
    else Seq("protocol=" + math.max(snap.protocol._1, to._1) + "|" +
      math.max(snap.protocol._2, to._2))

  /** Whether row-level CHANGE DATA FEED recording is on (Delta's
    * `delta.enableChangeDataFeed` table property). */
  def cdfEnabledOf(dir: String): Boolean = state(dir).cdfEnabled

  /** ALTER TABLE ... SET enableChangeDataFeed=true: from this commit
    * on, every copy-on-write DML — delete, deleteRange, update,
    * replaceWhere, merge — ALSO records its exact row-level changes as
    * `cdc-*` sidecar files (write cost ∝ changed rows, like Delta's
    * CDC files — never the table), and [[readChangeFeed]] / the
    * streaming CDF source emit those instead of op-tagged rewrite
    * output. MoR DML needs no sidecars (its deletion vectors already
    * resolve row-level) and appends ARE their own change set, so both
    * are CDF-exact with or without the flag. REPLACE-class ops stay
    * outside the row-change algebra by design: [[overwrite]] and
    * [[restore]] redefine the table rather than change rows (Delta's
    * CDF streaming fails on them; the batch feed surfaces their adds
    * op-tagged, the documented coarse contract), and pure
    * rearrangements emit nothing. History written BEFORE the flag
    * keeps the op-tagged rewrite contract (Delta: CDF reads before the
    * property was set are refused; here they degrade to the documented
    * coarse form). Raises the WRITER floor to 3: an older writer's
    * CoW DML would silently break the feed's completeness. */
  def enableChangeDataFeed(dir: String): Int = {
    val snap = state(dir)
    commit(dir, "set_cdf", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = "setcdf=true" +: protoBump(snap, (1, 3)))
  }

  /** Stop recording CoW change sidecars (history keeps its cdc files
    * until vacuum ages them out). */
  def disableChangeDataFeed(dir: String): Int = {
    val snap = state(dir)
    commit(dir, "set_cdf", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = Seq("setcdf=false"))
  }

  /** Table CHECK constraints (name -> boolean SQL expression in
    * logical column terms); enforced on every row-adding write. */
  def constraintsOf(dir: String): Map[String, String] =
    state(dir).constraints

  /** ALTER TABLE ADD CONSTRAINT (Delta's table constraints, persisted
    * in table metadata rather than per call): validates that EVERY
    * existing row already satisfies the predicate (one distributed
    * scan — Delta does the same on ADD), then records the constraint
    * in a metadata-only commit that also raises the WRITER floor to 3:
    * an older writer that never parses constraint lines must not
    * append unchecked rows, while readers are untouched. From that
    * commit on, [[newSegment]] enforces the predicate on every
    * row-adding write. */
  def addConstraint(spark: SparkSession, dir: String, name: String,
                    expression: String): Int = {
    val snap = state(dir)
    require(!snap.constraints.contains(name),
      s"constraint $name already exists: [${snap.constraints(name)}]")
    if (snap.live.nonEmpty) {
      val bad = segScan(spark, dir, snap, snap.live, mergeSchema = true)
        .filter(not(coalesce(expr(expression), lit(true))))
      require(bad.isEmpty,
        s"cannot add constraint $name: existing rows violate [$expression]")
    }
    commit(dir, "add_constraint", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = s"addconstraint=${enc(name)}|${enc(expression)}" +:
        protoBump(snap, (1, 3)))
  }

  /** Table column defaults (column -> SQL expression); a row-adding
    * write whose batch lacks the column gets it filled at staging. */
  def defaultsOf(dir: String): Map[String, String] =
    state(dir).defaults

  /** ALTER TABLE ALTER COLUMN SET DEFAULT (Delta's defaultColumns
    * writer feature): metadata-only commit; from here on a batch that
    * omits the column gets `expression` materialized at write time.
    * Existing rows are untouched (they read as null if the column
    * never existed — defaults shape writes, not reads). Raises the
    * WRITER floor to 3: an older writer would silently append nulls
    * where the table promises a default. */
  def setColumnDefault(dir: String, colName: String,
                       expression: String): Int = {
    val snap = state(dir)
    require(!snap.generated.contains(colName),
      s"$colName is GENERATED — a column cannot be both")
    commit(dir, "set_default", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = s"setdefault=${enc(colName)}|${enc(expression)}" +:
        protoBump(snap, (1, 3)))
  }

  /** Table generated columns (column -> SQL expression): computed at
    * staging when a batch omits the column, validated (null-safe
    * equality) when a batch provides it. */
  def generatedOf(dir: String): Map[String, String] =
    state(dir).generated

  /** ALTER TABLE ADD a GENERATED ALWAYS AS column contract (Delta's
    * generated columns): metadata-only commit after validating that
    * EVERY existing live row already satisfies `col <=> (expression)`
    * — Delta only allows generated columns at table creation; the
    * equality pre-check is what makes retrofit sound here, and it is
    * why a table whose old segments LACK the column is refused (their
    * rows read null while the contract promises the expression).
    * From the commit on, a batch omitting the column gets it computed
    * at staging and a batch providing it is equality-validated in the
    * same single staged scan as CHECK constraints. Raises the WRITER
    * floor to 3. */
  def addGeneratedColumn(spark: SparkSession, dir: String, colName: String,
                         expression: String): Int = {
    val snap = state(dir)
    require(!snap.generated.contains(colName),
      s"$colName is already generated as [${snap.generated(colName)}]")
    require(!snap.defaults.contains(colName),
      s"$colName has a DEFAULT — a column cannot be both")
    if (snap.live.nonEmpty) {
      val cur = segScan(spark, dir, snap, snap.live, mergeSchema = true)
      require(cur.columns.contains(colName),
        s"cannot add generated column $colName: existing segments lack " +
          "it (their rows would read null while the contract promises " +
          "the expression)")
      val bad = cur.filter(not(expr(s"`$colName` <=> ($expression)")))
      require(bad.isEmpty, s"cannot add generated column $colName: " +
        s"existing rows violate `$colName` <=> ($expression)")
    }
    commit(dir, "add_generated", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = s"setgenerated=${enc(colName)}|${enc(expression)}" +:
        protoBump(snap, (1, 3)))
  }

  /** ALTER TABLE drop a generated-column contract: metadata-only; the
    * column itself and its data stay. */
  def dropGeneratedColumn(dir: String, colName: String): Int = {
    val snap = state(dir)
    require(snap.generated.contains(colName), s"no generated column " +
      s"$colName (defined: ${snap.generated.keys.toSeq.sorted.mkString(", ")})")
    commit(dir, "drop_generated", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = Seq(s"unsetgenerated=${enc(colName)}"))
  }

  /** ALTER TABLE ALTER COLUMN DROP DEFAULT: metadata-only commit. */
  def unsetColumnDefault(dir: String, colName: String): Int = {
    val snap = state(dir)
    require(snap.defaults.contains(colName), s"no default on $colName " +
      s"(defined: ${snap.defaults.keys.toSeq.sorted.mkString(", ")})")
    commit(dir, "unset_default", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = Seq(s"unsetdefault=${enc(colName)}"))
  }

  /** Declare HIVE-STYLE PARTITION COLUMNS (`CREATE TABLE … PARTITIONED
    * BY` / the programmatic twin): a metadata-only governance commit
    * recording the spec in the LOG — from then on every row-adding
    * write splits its batch into one value-labeled segment per present
    * partition tuple with exact (min=max) stats, so the EXISTING
    * segment triage gives exact partition pruning and partition-
    * predicate DELETE/REPLACE WHERE drop whole partitions from
    * metadata (see [[newSegments]] for the layout). Set-once-on-empty:
    * the spec must land before any data (retro-partitioning existing
    * segments would be a rewrite — that's OPTIMIZE's job, not a
    * metadata commit); re-declaring the identical spec is an idempotent
    * no-op (CTAS and CREATE OR REPLACE replay it). Streaming appends
    * and Complete-mode replaces split like every batch write; only the
    * MoR streaming upsert's updates segment stays unsplit (reads stay
    * correct — the partition column is ordinary data everywhere — and
    * OPTIMIZE/compact re-splits, like every MoR rewrite debt). */
  def setPartitionColumns(dir: String, cols: Seq[String]): Int = {
    require(cols.nonEmpty, "PARTITIONED BY needs at least one column")
    require(cols.distinct == cols, s"duplicate partition column in $cols")
    val snap = snapshotOrEmpty(dir)
    if (snap.partitionCols == cols) return snap.version
    require(snap.partitionCols.isEmpty,
      s"$dir is already partitioned by ${snap.partitionCols.mkString(", ")}" +
        " — the spec is immutable once set")
    require(snap.live.isEmpty,
      s"$dir already holds data — declare PARTITIONED BY before the " +
        "first write (existing layout rewrites are OPTIMIZE's job)")
    commit(dir, "set_partition", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = Seq("partcols=" + cols.map(enc).mkString("|")))
  }

  /** The table's declared partition columns (empty = unpartitioned). */
  def partitionColumnsOf(dir: String, asOf: Int = -1): Seq[String] =
    if (!store(dir).isDirectory(logDir(dir))) Seq.empty
    else state(dir, asOf).partitionCols

  /** ALTER TABLE DROP CONSTRAINT: metadata-only commit. */
  def dropConstraint(dir: String, name: String): Int = {
    val snap = state(dir)
    require(snap.constraints.contains(name), s"no constraint $name " +
      s"(defined: ${snap.constraints.keys.toSeq.sorted.mkString(", ")})")
    commit(dir, "drop_constraint", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = Seq(s"dropconstraint=${enc(name)}"))
  }

  /** Table protocol floor (minReader, minWriter); (1,1) when never
    * recorded. */
  def protocolOf(dir: String, asOf: Int = -1): (Int, Int) =
    state(dir, asOf).protocol

  /** Record a protocol floor explicitly (Delta's `UPGRADE PROTOCOL`):
    * one metadata-only commit; monotonic — a floor protects readers
    * that already trusted it, so it never lowers. */
  def upgradeProtocol(dir: String, minReader: Int, minWriter: Int): Int = {
    val snap = state(dir)
    require(minReader >= snap.protocol._1 && minWriter >= snap.protocol._2,
      s"protocol downgrade ${snap.protocol} -> ($minReader,$minWriter) refused")
    commit(dir, "upgrade_protocol", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = Seq(s"protocol=$minReader|$minWriter"))
  }

  /** Stage `df` as a new segment directory. `applyDefaults` is true on
    * USER-DATA paths (append/overwrite/merge updates/streaming) and
    * false on REWRITES of already-admitted rows (delete/update/
    * replaceWhere kept sets, compact): a rewrite of rows written
    * before a default existed must keep their nulls, not retroactively
    * invent values. */
  /** The table's State, or the empty pre-first-commit State — what a
    * write path stages against before the log dir necessarily exists. */
  private def snapshotOrEmpty(dir: String): State =
    if (store(dir).isDirectory(logDir(dir))) state(dir)
    else State(-1, Seq.empty, Map.empty, Map.empty, Set.empty, Map.empty)

  /** COLUMN DEFAULTS: a batch that LACKS a defaulted column gets it
    * materialized at write time (Delta's defaultColumns — defaults
    * shape new writes only; rows written before the default existed
    * read as null, not retroactively rewritten). Applied before the
    * physical re-label and before the constraint check, so a
    * constraint over a defaulted column sees the filled value.
    * GENERATED columns provided by the writer are validated at the
    * invariant scan; absent ones are computed exactly like defaults
    * (Delta's split: compute on INSERT-without, validate on
    * INSERT-with). TWO ORDERED passes, defaults strictly before
    * generated: a generated expression legitimately references
    * data/defaulted columns (the table_log_generated shape), so
    * filling both in one unordered Map fold would make
    * `GENERATED ... AS (f(defaulted))` on a batch missing BOTH columns
    * succeed or throw depending on hash iteration order — a
    * nondeterministic spurious write failure. Returns the filled frame
    * plus the writer-provided generated-column set. */
  private def fillGoverned(df: DataFrame, snap: State,
                           applyDefaults: Boolean): (DataFrame, Set[String]) = {
    val providedGen = snap.generated.keySet.filter(df.columns.contains)
    val filled =
      if (!applyDefaults) df
      else {
        val defaulted = snap.defaults.toSeq.sortBy(_._1)
          .foldLeft(df) { case (d, (c, e)) =>
            if (d.columns.contains(c)) d else d.withColumn(c, expr(e)) }
        (snap.generated -- providedGen).toSeq.sortBy(_._1)
          .foldLeft(defaulted) { case (d, (c, e)) =>
            if (d.columns.contains(c)) d else d.withColumn(c, expr(e)) }
      }
    (filled, providedGen)
  }

  private def newSegment(dir: String, df: DataFrame,
                         applyDefaults: Boolean = true,
                         snapOpt: Option[State] = None): Staged = {
    val name = s"seg-${java.util.UUID.randomUUID}"
    val snap = snapOpt.getOrElse(snapshotOrEmpty(dir))
    val (filled, providedGen) = fillGoverned(df, snap, applyDefaults)
    // segment bytes always carry PHYSICAL column names (column
    // mapping's storage invariant — reads re-label, writes un-label)
    LocalFs.writer(toPhysical(filled, snap)).mode("overwrite").parquet(s"$dir/$name")
    val staged = Staged(Seq(name), describe(df.sparkSession, dir, name))
    enforceWriteInvariants(dir, name, snap, providedGen)(
      scanSegments(df.sparkSession, dir, snap.withFiles(staged.files), staged.segs))
    staged
  }

  /** Stage a row-adding batch on a PARTITIONED table as ONE SEGMENT
    * PER PARTITION TUPLE (the unpartitioned case degenerates to
    * [[newSegment]]). The split is ONE distributed write job —
    * `partitionBy` over DUPLICATED key columns lays out hive-style
    * value dirs while the real columns STAY IN the data files — then
    * driver-side promotion renames each leaf dir's files into its own
    * value-labeled segment (`seg-<uuid>-day=2000-01-01`), metadata
    * work ∝ present tuples, exactly Delta's file-per-partition log
    * granularity. Because the partition column is ordinary DATA in
    * every file, split and unsplit segments co-scan in one multi-root
    * parquet job (no path inference, no mixed-layout conflicts), and
    * because each segment holds exactly one tuple its min=max stats
    * make the EXISTING triage exact: partition-predicate reads prune
    * to the matching dirs and partition-predicate DELETE/REPLACE WHERE
    * classify whole segments as all-match drops — metadata-only, no
    * row rewrites. Write invariants (CHECK constraints, provided
    * generated columns) scan the promoted segments ONCE, planned from
    * their record; a violation deletes them.
    * Zero-row batches stage no leaves and return empty. */
  private def newSegments(dir: String, df: DataFrame,
                          applyDefaults: Boolean = true,
                          snapOpt: Option[State] = None): Staged = {
    val snap = snapOpt.getOrElse(snapshotOrEmpty(dir))
    if (snap.partitionCols.isEmpty)
      return newSegment(dir, df, applyDefaults, snapOpt = Some(snap))
    val (filled, providedGen) = fillGoverned(df, snap, applyDefaults)
    val phys = toPhysical(filled, snap)
    val pPhys = snap.partitionCols.map(snap.physCol)
    pPhys.foreach(c => require(phys.columns.contains(c),
      s"partitioned table $dir: the batch lacks partition column '$c' " +
        s"(partitioned by ${snap.partitionCols.mkString(", ")})"))
    val dupNames = pPhys.indices.map(i => s"__graft_part_$i")
    dupNames.foreach(n => require(!phys.columns.contains(n),
      s"column name $n is reserved by the partitioned write path"))
    val dup = pPhys.zip(dupNames).foldLeft(phys) { case (d, (c, n)) =>
      d.withColumn(n, d(c)) }
    val staging = s"staging-${java.util.UUID.randomUUID}"
    val st = store(dir)
    try {
      LocalFs.writer(dup).partitionBy(dupNames: _*).parquet(s"$dir/$staging")
      def leaves(rel: String, depth: Int): Seq[String] =
        if (depth == dupNames.size) Seq(rel)
        else st.list(s"$dir/$staging$rel").filter(_.contains("="))
          .sorted.flatMap(d => leaves(s"$rel/$d", depth + 1))
      val found = leaves("", 0)
      val promoted = scala.collection.mutable.ArrayBuffer.empty[String]
      val parts = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Long)]]
      try {
        found.foreach { rel =>
          // human-readable hive labels on the segment dir itself (the
          // value keeps partitionBy's own path escaping); the stats
          // recorded at commit are the pruning truth, the name is layout
          val label = rel.split('/').filter(_.nonEmpty).zip(pPhys)
            .map { case (d, c) => c + d.dropWhile(_ != '=') }
            .mkString("-", "-", "")
          val name = s"seg-${java.util.UUID.randomUUID}$label"
          st.mkdirs(s"$dir/$name")
          promoted += name
          val files = st.listFiles(s"$dir/$staging$rel")
            .filter(_._1.startsWith("part-")).sortBy(_._1)
          files.foreach { case (f, _) =>
            movePart(st, s"$dir/$staging$rel", s"$dir/$name", f) }
          parts += files
        }
        // one write job staged every leaf: one footer names the schema
        val schema = promoted.zip(parts).collectFirst {
          case (seg, (f, _) +: _) =>
            graftshim.LogScan.footerSchema(df.sparkSession, s"$dir/$seg/$f")
        }.flatten.map(_.json)
        val staged = Staged(promoted.toSeq, schema.fold(Map.empty[String, SegFiles])(js =>
          promoted.zip(parts).collect {
            case (seg, fs) if fs.nonEmpty => seg -> SegFiles(js, fs)
          }.toMap))
        // the invariant scan reads the promoted segments once, planned
        // from their record; a zero-row batch staged no leaves —
        // nothing to validate
        if (promoted.nonEmpty)
          enforceWriteInvariants(dir, staging, snap, providedGen)(scanSegments(
            df.sparkSession, dir, snap.withFiles(staged.files), staged.segs))
        staged
      } catch {
        // a mid-promotion failure must not leak the already-renamed
        // half: the caller's reclaim scope sees these names only after
        // this method RETURNS them
        case scala.util.control.NonFatal(e) =>
          promoted.foreach(seg => st.deleteRecursively(s"$dir/$seg"))
          throw e
      }
    } finally st.deleteRecursively(s"$dir/$staging")
  }

  /** Move the staged part file `f` from `from` to `to` with its `.f.crc`
    * sidecar, so reads keep verifying its bytes (a checksummed Hadoop
    * filesystem's rename carries the sidecar itself). */
  private def movePart(st: LogStore, from: String, to: String, f: String): Unit = {
    st.rename(s"$from/$f", s"$to/$f")
    val crc = s".$f.crc"
    if (st.exists(s"$from/$crc")) st.rename(s"$from/$crc", s"$to/$crc")
  }

  /** TABLE CHECK constraints, enforced at the one choke point every
    * row-adding write funnels through (append/overwrite/replaceWhere/
    * merge/update rewrites/streaming appends — DataFrame staging and
    * the StreamingWrite's task-staged segments alike; Delta
    * enforces its invariants on every write path the same way). One
    * columnar scan of the just-staged bytes, paid ONLY when
    * constraints exist; the staged read makes the check deterministic
    * even when the source frame is nondeterministic upstream. On
    * violation the staged bytes are reclaimed and nothing was
    * committed. The scan carries both write-side invariants: CHECK
    * constraints plus equality validation of writer-PROVIDED
    * generated columns (null-safe <=>, so an all-null pre-generated
    * column only passes if the expression is null too). */
  private def enforceWriteInvariants(dir: String, name: String, snap: State,
      providedGen: Set[String])(scan: => DataFrame): Unit = {
    val cs = snap.constraints.toSeq.sorted ++
      providedGen.toSeq.sorted.map(c =>
        s"generated:$c" -> s"`$c` <=> (${snap.generated(c)})")
    if (cs.nonEmpty) {
      val staged = applyMapping(scan, snap)
      // SQL CHECK semantics: only an explicit FALSE violates (NULL passes)
      val counts = staged.select(cs.map { case (n, c) =>
        coalesce(sum(when(not(coalesce(expr(c), lit(true))), 1L)
          .otherwise(0L)), lit(0L)).as(n) }: _*).head()
      val violated = cs.zipWithIndex
        .map { case ((n, c), i) => (n, c, counts.getLong(i)) }
        .filter(_._3 > 0)
      if (violated.nonEmpty) {
        store(dir).deleteRecursively(s"$dir/$name")
        throw new IllegalArgumentException("table constraint violation(s): " +
          violated.map { case (n, c, k) => s"$n [$c] $k row(s)" }
            .mkString("; "))
      }
    }
  }

  /** Promote a TASK-STAGED segment (the streaming sink's
    * DataWriters wrote its parquet files directly) to a commit-ready
    * one: bytes already carry physical names (the writer factory
    * renames), so the common case is just the write-invariant scan —
    * zero extra copies. Only when table governance defines DEFAULT or
    * GENERATED columns the batch lacks does the segment rewrite once
    * through [[newSegment]] (which fills them exactly like every
    * DataFrame write path); the raw staging is reclaimed either way
    * on failure. */
  private def finalizeStagedSegment(spark: SparkSession, dir: String,
      rawSeg: String, snap: State): Staged =
    // ANY failure below reclaims the raw staging (the violation path
    // inside enforceWriteInvariants already deleted it — the repeat
    // delete is a no-op); no entry records it, so vacuum never could
    try {
      val raw = Staged(Seq(rawSeg), describe(spark, dir, rawSeg))
      val rawScan = scanSegments(spark, dir, snap.withFiles(raw.files), raw.segs)
      val fields = rawScan.schema.fieldNames.toSet
      val needFill = (snap.defaults.keySet ++ snap.generated.keySet)
        .exists(c => !fields.contains(snap.physCol(c)))
      if (needFill) {
        val seg = newSegment(dir, applyMapping(rawScan, snap), snapOpt = Some(snap))
        store(dir).deleteRecursively(s"$dir/$rawSeg")
        seg
      } else {
        val providedGen = snap.generated.keySet
          .filter(c => fields.contains(snap.physCol(c)))
        enforceWriteInvariants(dir, rawSeg, snap, providedGen)(rawScan)
        raw
      }
    } catch { case scala.util.control.NonFatal(e) =>
      store(dir).deleteRecursively(s"$dir/$rawSeg"); throw e }

  /** [[finalizeStagedSegment]] for the append/Complete stream paths of
    * a PARTITIONED table: the task-staged bytes re-split into
    * value-labeled one-tuple segments — one rewrite of the micro-batch,
    * the price of keeping the partition contract (metadata-only
    * partition DMLs) under streaming ingest instead of deferring the
    * whole debt to OPTIMIZE. Unpartitioned tables keep the zero-copy
    * promote. (The MoR upsert mode stays single-segment by design: its
    * appended updates frame is tombstone-paired, and its layout debt
    * is OPTIMIZE's, like every MoR rewrite debt.) */
  private def finalizeStagedSegments(spark: SparkSession, dir: String,
      rawSeg: String, snap: State): Staged =
    if (snap.partitionCols.isEmpty)
      finalizeStagedSegment(spark, dir, rawSeg, snap)
    else try {
      val df = applyMapping(stagedScan(spark, dir, snap, rawSeg), snap)
      val segs = newSegments(dir, df, snapOpt = Some(snap))
      store(dir).deleteRecursively(s"$dir/$rawSeg")
      segs
    } catch { case scala.util.control.NonFatal(e) =>
      store(dir).deleteRecursively(s"$dir/$rawSeg"); throw e }

  /** A dedup-skip must reclaim the replay's staged bytes ONLY when
    * they are not the committed data itself: a re-invoked commit of
    * an epoch THIS instance already committed stages nothing new (the
    * per-epoch segment name is deterministic per writer instance), so
    * deleting the "staging" would delete the live segment. A
    * restarted query's replay has a fresh writer uuid — its staging
    * never collides with the committed name and reclaims normally. */
  private def reclaimUnlessLive(dir: String, snap: State,
                                staged: String): Unit =
    if (!snap.live.exists(l => bareName(l) == staged))
      store(dir).deleteRecursively(s"$dir/$staged")

  /** Tombstones small enough to broadcast into the anti join that
    * subtracts them (a shuffle join would move the whole TABLE to meet
    * the deletion vector). Sized from the COMMIT-RECORDED per-(segment,
    * sidecar) row counts — a pure metadata lookup, no Spark job during
    * plan construction, and only the PROBED segments' tombstones count
    * (another segment's huge DV cannot pessimize this scan). Past the
    * gate the join falls back to shuffle: correct either way, and a DV
    * that large means OPTIMIZE is overdue (it materializes tombstones
    * away). A production impl pushes DV bitmaps into the scan itself
    * (Delta's per-file row-index filters); the join formulation keeps
    * the mechanics plan-visible here. */
  private[graft] val BroadcastDvLimit = 4000000L

  /** The dv-* sidecar layout: one row per tombstoned row coordinate. */
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("seg",
      org.apache.spark.sql.types.StringType)))

  /** The ONE parquet reader of segment bytes (physical names, no
    * deletion vectors — [[segScan]] adds those). Segments whose files
    * the log records (`s.files`, or just-staged output a caller added
    * with [[State.withFiles]]) are planned from that record: no listing
    * job, no footer-inference job. A segment without a record — a log
    * written before records existed, or an external shallow-clone
    * ref — takes Spark's own path for itself: its directory is listed
    * and its schema inferred. The schema is the one that path picks:
    * `schema` when given; else with `mergeSchema` the union of the
    * segments' schemas in scan order, without it the first segment's. */
  private[sources] def scanSegments(spark: SparkSession, dir: String, s: State,
      segs: Seq[String], mergeSchema: Boolean = false,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StructType}
    def listed(ss: Seq[String]): DataFrame = {
      val reader = schema match {
        case Some(sc) => spark.read.schema(sc)
        case None     => spark.read.option("mergeSchema", mergeSchema.toString)
      }
      reader.parquet(ss.map(segPath(dir, _)): _*)
    }
    val recorded = segs.map(s.files.get)
    if (recorded.forall(_.isEmpty)) return listed(segs)
    // None stands for the unrecorded segments: they contribute the one
    // schema Spark infers over them (needed only when it decides)
    lazy val unrecorded = listed(segs.filterNot(s.files.contains)).schema
    def parsed(js: Option[String]): StructType =
      js.fold(unrecorded)(DataType.fromJson(_).asInstanceOf[StructType])
    val readSchema =
      try Some(schema.getOrElse(
        if (!mergeSchema) parsed(recorded.head.map(_.schema))
        else graftshim.LogScan.merge(spark,
          recorded.map(_.map(_.schema)).distinct.map(parsed))))
      catch { case scala.util.control.NonFatal(_) => None }
    readSchema match {
      // incompatible schemas: Spark's own merge raises its own error
      case None     => listed(segs)
      case Some(sc) =>
        graftshim.LogScan.parquet(spark, sc, segs.zip(recorded).map {
          case (seg, f) => segPath(dir, seg) -> f.map(_.files).getOrElse(dataFiles(dir, seg))
        })
    }
  }

  /** The data files of a segment directory (Spark's own filter: no
    * `_`/`.`-prefixed names) with their byte sizes, by name. */
  private def dataFiles(dir: String, seg: String): Seq[(String, Long)] =
    refStore(dir, seg).listFiles(segPath(dir, seg))
      .filterNot { case (n, _) => n.startsWith("_") || n.startsWith(".") }
      .sortBy(_._1)

  /** What the log records of a directory a write just produced: its
    * data files, and the schema from the first file's footer (every
    * file of one write shares it) — a driver-side listing and one
    * footer read, no Spark job. Empty when the directory holds no data
    * file or no Spark schema (scans of it then take the listing path). */
  private def describe(spark: SparkSession, dir: String,
                       seg: String): Map[String, SegFiles] = {
    val files = dataFiles(dir, seg)
    files.headOption.flatMap { case (f, _) =>
      graftshim.LogScan.footerSchema(spark, s"${segPath(dir, seg)}/$f")
    }.map(sc => seg -> SegFiles(sc.json, files)).toMap
  }

  /** The rows this statement just wrote to `name`, summed from its
    * part files' footers on the driver: exact, since a fresh directory
    * carries no deletion vectors, and no Spark job. */
  private def stagedRows(spark: SparkSession, dir: String, name: String): Long =
    dataFiles(dir, name).collect { case (f, len) if len > 0 =>
      graftshim.LogScan.footerRows(spark, s"${segPath(dir, name)}/$f")
    }.sum

  /** A scan of what this statement just wrote to `name` (a staging
    * directory or a sidecar), planned from [[describe]]. */
  private def stagedScan(spark: SparkSession, dir: String, snap: State,
                         name: String): DataFrame =
    scanSegments(spark, dir, snap.withFiles(describe(spark, dir, name)), Seq(name))

  /** Scan `segs` with their DELETION VECTORS applied — the one reader
    * every query AND every copy-on-write rewrite must go through (a
    * raw parquet read of a DV-carrying segment would resurrect its
    * tombstoned rows). No DVs → exactly the plain parquet scan, zero
    * overhead. `withMeta` keeps the per-row (`__file`, `__pos`)
    * provenance columns ([[deleteMoR]]/[[updateMoR]] derive their
    * tombstones from them). */
  private def segScan(spark: SparkSession, dir: String, s: State,
                      segs: Seq[String], mergeSchema: Boolean = false,
                      schema: Option[org.apache.spark.sql.types.StructType] = None,
                      withMeta: Boolean = false): DataFrame = {
    val base = scanSegments(spark, dir, s, segs, mergeSchema, schema)
    val probed = segs.flatMap(s.dvs.getOrElse(_, Seq.empty))
    if (probed.isEmpty && !withMeta) return applyMapping(base, s)
    // a row two sidecars tombstone is one build row
    val live =
      if (probed.isEmpty) rowCoords(base)
      else dvJoin(base, tombstones(spark, dir, probed.map(_._1).distinct, segs).distinct(),
        probed.map(_._2), "left_anti")
    val applied = applyMapping(live, s)
    if (withMeta) applied else applied.drop("__file", "__pos")
  }

  /** `scan` with the per-row (`__file`, `__pos`) provenance columns. */
  private def rowCoords(scan: DataFrame): DataFrame =
    scan.withColumn("__file", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))

  /** [[rowCoords]] of `scan` joined by them to the (file, pos)
    * tombstones `tomb` of one or more DV sidecars, whose recorded row
    * counts are `counts`: `left_anti` keeps the live rows, `left_semi`
    * the tombstoned pre-images. The counts size the broadcast
    * ([[BroadcastDvLimit]]): a metadata lookup, no Spark job. Any
    * legacy unknown count (-1) keeps the shuffle, which is always
    * correct. */
  private def dvJoin(scan: DataFrame, tomb: DataFrame, counts: Seq[Long],
                     how: String): DataFrame = {
    require(counts.nonEmpty, "a DV join needs at least one sidecar")
    val withM = rowCoords(scan)
    val t =
      if (counts.forall(_ >= 0) && counts.sum <= BroadcastDvLimit) broadcast(tomb) else tomb
    withM.join(t, withM("__file") === t("file") && withM("__pos") === t("pos"), how)
  }

  /** The (file, pos) tombstones of the sidecars `dvNames` on `segs`.
    * A sidecar stores the absolute path its delete read; rows match by
    * (segment, part-file name) — the `seg` column, or a legacy sidecar's
    * last two path components — re-rooted through [[segPath]], so a
    * moved table keeps its deletion vectors and shallow-clone segments
    * resolve as before. The explicit schema (ours by construction) keeps
    * a DV-bearing read free of a schema-inference job. */
  private def tombstones(spark: SparkSession, dir: String, dvNames: Seq[String],
                         segs: Seq[String]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    // keyed by bare name, as `seg` columns are; the URI is rebuilt from
    // its parts, as a scan's file paths are (file:/x/, not file:///x/)
    val roots = segs.map { seg =>
      val p = new org.apache.hadoop.fs.Path(segPath(dir, seg))
      val u = p.getFileSystem(conf).makeQualified(p).toUri
      bareName(seg) ->
        new java.net.URI(u.getScheme, u.getAuthority, s"${u.getPath}/", null, null).toString
    }.toMap
    spark.read.schema(DvSchema).parquet(dvNames.map(n => segPath(dir, n)): _*)
      .select(
        coalesce(col("seg"), regexp_extract(col("file"), "([^/]+)/[^/]*$", 1)).as("seg"),
        regexp_extract(col("file"), "[^/]*$", 0).as("part"), col("pos"))
      .filter(col("seg").isInCollection(roots.keySet))
      .select(concat(element_at(typedLit(roots), col("seg")), col("part")).as("file"),
        col("pos"))
  }

  /** COLUMN MAPPING applied to a physical scan: hide dropped physical
    * columns, then surface mapped physical names under their logical
    * labels. Pure projection — zero data movement; the inverse
    * ([[toPhysical]]) runs on every write, so segment bytes always
    * carry PHYSICAL names and a rename/drop never touches a segment. */
  private def applyMapping(df: DataFrame, s: State): DataFrame = {
    if (s.renames.isEmpty && s.dropped.isEmpty) return df
    val present = df.columns.toSet
    val afterDrop = s.dropped.filter(present).foldLeft(df)(_ drop _)
    relabel(afterDrop, s.renames)
  }

  /** Re-label a frame's columns through `mapping` in ONE simultaneous
    * positional rename (`toDF`) — the shared physical→logical (and
    * inverse) projection every mapped read/write funnels through. A
    * sequential `withColumnRenamed` fold is ORDER-SENSITIVE: with
    * chained renames it can transiently alias two columns onto one
    * name and emit duplicates; the simultaneous form cannot. Names not
    * in the mapping pass through; zero data movement either way. */
  private def relabel(df: DataFrame,
                      mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.toDF(df.columns.map(c => mapping.getOrElse(c, c)): _*)

  /** The write-side inverse of [[applyMapping]]: a user frame carries
    * LOGICAL names; rebind mapped ones to their physical storage names
    * before the bytes land. Writing a column whose name collides with
    * a mapped or dropped PHYSICAL name fails loud — silently accepting
    * it would alias two logical columns onto one physical name. */
  private def toPhysical(df: DataFrame, s: State): DataFrame = {
    if (s.renames.isEmpty && s.dropped.isEmpty) return df
    val present = df.columns.toSet
    // a name is shadowed when it denotes occupied storage the writer
    // cannot mean: a dropped column's physical name, or a renamed-away
    // physical name — UNLESS the name is also some column's CURRENT
    // label (chained renames reissue freed labels, and dropColumn can
    // legally drop a physical name whose label was already reissued
    // over another column; in both cases the write unambiguously means
    // the labeled column, via physByLogical)
    val labels = s.renames.values.toSet
    val shadowed = present.filter(c =>
      (s.renames.contains(c) || s.dropped(c)) && !labels(c))
    require(shadowed.isEmpty,
      s"column name(s) ${shadowed.mkString(", ")} are physical names " +
        "hidden by a rename or drop — write under the logical name, or " +
        "choose a fresh name")
    relabel(df, s.physByLogical)
  }

  /** MERGE-ON-READ delete (Delta's deletion vectors): rows matching
    * `predicate` are TOMBSTONED — one `dv-*` parquet sidecar of
    * (seg, file, pos) row coordinates, attached to the dirty segments
    * by the commit entry — and no data segment is rewritten. A 1-row
    * delete writes a 1-row sidecar instead of a segment-sized rewrite:
    * the write-amplification answer for wide tables with narrow DML.
    * Reads subtract tombstones ([[segScan]]); [[optimize]]/[[compact]]
    * materialize them away; [[restore]] rolls them back; [[vacuum]]
    * reclaims unreferenced sidecars. Conflicts like every
    * snapshot-dependent op. Row coordinates are parquet metadata
    * (`_metadata.file_path`, `_metadata.row_index`) — stable because
    * segments are immutable; reads match them by segment and part-file
    * name ([[tombstones]]), so the table directory may move. */
  def deleteMoR(spark: SparkSession, dir: String, predicate: String): Int = {
    val snap = state(dir)
    val matches = segScan(spark, dir, snap, snap.live,
        mergeSchema = true, withMeta = true)
      .filter(predicate)
      .select(col("__file").as("file"), col("__pos").as("pos"),
        segOfFile(col("__file")).as("seg"))
    val dvName = s"dv-${java.util.UUID.randomUUID}"
    LocalFs.writer(matches).parquet(s"$dir/$dvName")
    // per-segment tombstone counts, recorded in the commit entry so the
    // read side sizes its broadcast from metadata alone; bare sidecar
    // names translate back to (possibly external) entry names
    val entryOf = snap.live.map(n => bareName(n) -> n).toMap
    val dirty = stagedScan(spark, dir, snap, dvName)
      .groupBy("seg").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    if (dirty.isEmpty) {
      store(dir).deleteRecursively(s"$dir/$dvName")
      return commitOrReclaim(dir, "delete_mor", Seq.empty, Seq.empty,
        snap.version, Map.empty, retryPastAppends = true)
    }
    // retryPastAppends is sound for MoR too: DV row coordinates are
    // (file, pos) into snapshot segments, and a pure append never
    // moves an existing segment — the staged sidecar re-commits as-is
    commitOrReclaim(dir, "delete_mor", Seq.empty, Seq.empty, snap.version,
      Map.empty,
      dvs = dirty.map { case (seg, n) => (entryOf.getOrElse(seg, seg), dvName, n) },
      extraLines = protoBump(snap), alsoReclaim = Seq(dvName),
      retryPastAppends = true)
  }

  /** The segment a scanned row came from: the path component DIRECTLY
    * containing the parquet file (segments are flat directories under
    * the table dir). Anchoring to the file's parent — not the first
    * `seg-` match anywhere in the path — keeps a table that happens to
    * live under a `.../seg-abc.../` parent directory from attributing
    * every tombstone to that nonexistent segment. */
  private def segOfFile(file: org.apache.spark.sql.Column) =
    // [^/]+ (not a hex charset): partitioned segments carry value
    // labels (`seg-<uuid>-day=2024-01-01`); the `$`-anchored immediate
    // parent is what guards against `.../seg-abc.../` ancestor dirs
    regexp_extract(file, "/(seg-[^/]+)/[^/]*$", 1)

  /** MERGE-ON-READ update: the matched rows' NEW images land in one
    * appended segment and their OLD images are tombstoned by a
    * deletion vector — same one-commit atomicity as [[update]], with
    * write cost proportional to the MATCHED rows, not to the dirty
    * segments. SQL UPDATE semantics (predicate and every SET expression
    * read the pre-update row) hold by construction: the new images are
    * one projection over the matched pre-images. */
  def updateMoR(spark: SparkSession, dir: String, predicate: String,
                setExprs: Map[String, String],
                statsCols: Seq[String] = Nil): Int = {
    require(setExprs.nonEmpty, "update without SET expressions")
    val snap = state(dir)
    val schema = tableSchema(spark, dir, snap)
    // user-facing (LOGICAL) column list: mapped physical names surface
    // under their labels, dropped ones don't exist
    val visible = logicalSchema(snap, schema).map(_.name)
    val unknown = setExprs.keySet -- visible.toSet
    require(unknown.isEmpty, s"SET references unknown column(s): $unknown")
    // stage the matched pre-images ONCE (the merge-staging pattern):
    // the tombstone sidecar and the new-image segment must be derived
    // from the same bytes even if the scan is nondeterministic
    val stage = s"seg-${java.util.UUID.randomUUID}"
    LocalFs.writer(
      segScan(spark, dir, snap, snap.live, schema = Some(schema), withMeta = true)
        .filter(predicate)
        .withColumn("__seg", segOfFile(col("__file"))))
      .parquet(s"$dir/$stage")
    try {
      val m = stagedScan(spark, dir, snap, stage)
      val dirty = m.groupBy("__seg").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
      if (dirty.isEmpty)
        return commitOrReclaim(dir, "update_mor", Seq.empty, Seq.empty,
          snap.version, Map.empty, retryPastAppends = true)
      val dvName = s"dv-${java.util.UUID.randomUUID}"
      LocalFs.writer(m.select(col("__file").as("file"), col("__pos").as("pos"),
          col("__seg").as("seg")))
        .parquet(s"$dir/$dvName")
      val newImages = m.select(visible.map { c =>
        setExprs.get(c) match {
          case Some(e) => expr(e).as(c)
          case None    => col(c)
        }
      }: _*)
      val newSegs = newSegments(dir, newImages, applyDefaults = false,
        snapOpt = Some(snap))
      val entryOf = snap.live.map(n => bareName(n) -> n).toMap
      // commitOrReclaim reclaims newSegs+dvName itself on a true
      // conflict; this catch covers the remaining NonFatal exits
      // (deleteRecursively is a no-op on an already-reclaimed path)
      try commitOrReclaim(dir, "update_mor", newSegs.segs, Seq.empty,
        snap.version,
        stats = segStatsMany(spark, dir, newSegs.segs,
          (snap.partitionCols ++ statsCols).distinct, snap.withFiles(newSegs.files)),
        dvs = dirty.map { case (seg, n) =>
          (entryOf.getOrElse(seg, seg), dvName, n) },
        extraLines = protoBump(snap), alsoReclaim = Seq(dvName),
        retryPastAppends = true, files = newSegs.files)
      catch {
        case scala.util.control.NonFatal(e) =>
          store(dir).deleteRecursively(s"$dir/$dvName")
          newSegs.segs.foreach(s0 => store(dir).deleteRecursively(s"$dir/$s0"))
          throw e
      }
    } finally store(dir).deleteRecursively(s"$dir/$stage")
  }

  /** MERGE-ON-READ upsert on `key` — the third MoR DML leg (DELETE /
    * UPDATE / MERGE): matched target rows are TOMBSTONED by a deletion
    * vector and the ENTIRE `updates` frame (replacements + inserts)
    * lands as ONE appended segment, which is the staged updates
    * segment itself — zero data rewritten, zero bytes written twice;
    * total write cost ∝ |updates|. Logically indistinguishable from
    * copy-on-write [[merge]] on the same inputs (TxLogDvSpec pins hash
    * parity); same one-commit atomicity, stats-pruned probe, and
    * stale-snapshot conflict semantics. Assumes `key` unique within
    * `updates` (the usual MERGE contract). */
  def mergeMoR(spark: SparkSession, dir: String, updates: DataFrame, key: String,
               statsCols: Seq[String] = Nil): Int = {
    val snap = state(dir)
    val staged = newSegment(dir, updates, snapOpt = Some(snap))
    // any exit that didn't commit deletes the staged updates segment
    // (no entry records it, so vacuum never could)
    reclaimOnFailure(dir, staged.segs) {
      mergeMoRAt(spark, dir, key, "merge_mor", stream = false)(snap, staged,
        segStatsMany(spark, dir, staged.segs,
          (snap.partitionCols ++ statsCols).distinct, snap.withFiles(staged.files)))
    }
  }

  /** [[mergeStreamMoR]] over a TASK-STAGED updates segment (the v2
    * streaming sink's upsert mode): identical dedup/tombstone/commit
    * contract — the staged bytes stand in for the updates frame. */
  private[graft] def mergeStreamMoRStaged(spark: SparkSession, dir: String,
      rawSeg: String, key: String, batchId: Long,
      statsCols: Seq[String] = Nil,
      txnAppId: Option[String] = None): Option[Int] = {
    val op = streamOp(txnAppId, batchId)
    commitStreamOp(spark, dir, op, statsCols, Some(rawSeg))(
      snap => finalizeStagedSegment(spark, dir, rawSeg, snap))(
      mergeMoRAt(spark, dir, key, op, stream = true))
  }

  /** One attempt of a MoR upsert of the staged updates segment against
    * `snap`, the snapshot its conditional commit is conditioned on.
    * Tombstone COORDINATES are derived per attempt: a retry against a
    * newer head must recompute them (a concurrent compaction may have
    * rewritten the very segments stale coordinates pointed into), and
    * a failed attempt reclaims its own DV sidecar. */
  private def mergeMoRAt(spark: SparkSession, dir: String, key: String,
      op: String, stream: Boolean)(snap: State, staged: Staged,
      stats: Map[(String, String), ColStats]): Int = {
    val uSeg = staged.segs.head
    var dvName: Option[String] = None
    try {
      // staged bytes carry physical names; probe in logical terms
      val u = applyMapping(scanSegments(spark, dir,
        snap.withFiles(staged.files), staged.segs), snap)
      val candidates = keyCandidates(spark, snap, u, key, key)
      val uKeys = broadcast(u.select(col(key)).distinct())
      val dirty: Seq[(String, Long)] =
        if (candidates.isEmpty) Seq.empty
        else {
          val name = s"dv-${java.util.UUID.randomUUID}"
          LocalFs.writer(
            segScan(spark, dir, snap, candidates,
                mergeSchema = true, withMeta = true)
              .join(uKeys, Seq(key), "left_semi")
              .select(col("__file").as("file"), col("__pos").as("pos"),
                segOfFile(col("__file")).as("seg")))
            .parquet(s"$dir/$name")
          val d = stagedScan(spark, dir, snap, name)
            .groupBy("seg").agg(count(lit(1)).as("n"))
            .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
          if (d.isEmpty) store(dir).deleteRecursively(s"$dir/$name")
          else dvName = Some(name)
          d
        }
      val entryOf = snap.live.map(n => bareName(n) -> n).toMap
      val dvLines = dirty.map { case (seg, n) =>
        (entryOf.getOrElse(seg, seg), dvName.get, n) }
      val bump = if (dirty.nonEmpty) protoBump(snap) else Seq.empty
      // BATCH merge commutes with pure blind appends like every
      // DML (serial order ⟨merge, appends⟩; the staged DV's
      // coordinates stay valid — appends move no segment), so it
      // re-claims through commitOrReclaim, and a TRUE conflict stays
      // loud. The STREAMING path must NOT: its dedup contract re-checks
      // streamOps against every newer head ([[commitStreamOp]]), and a
      // content-classified retry would skip that re-check (a concurrent
      // duplicate of the same batch id is itself a pure add — retrying
      // past it double-applies).
      if (stream)
        commit(dir, op, Seq(uSeg), Seq.empty, Some(snap.version),
          stats = stats, dvs = dvLines, extraLines = bump,
          files = staged.files)
      else
        commitOrReclaim(dir, op, Seq(uSeg), Seq.empty, snap.version,
          stats = stats, dvs = dvLines, extraLines = bump,
          alsoReclaim = dvName.toSeq, retryPastAppends = true,
          files = staged.files)
    } catch {
      case scala.util.control.NonFatal(e) =>
        dvName.foreach(n => store(dir).deleteRecursively(s"$dir/$n"))
        throw e
    }
  }

  /** SHALLOW CLONE (zero-copy, Delta's CLONE): commits version 0 of a
    * NEW table at `target` whose live set REFERENCES the source's
    * segments in place — absolute refs, not copies; no data byte moves.
    * The clone is a snapshot of the source AT CLONE TIME (later source
    * commits don't leak in) and is immediately readable and writable:
    * its own DML — CoW or MoR — writes only into the clone's directory,
    * and OPTIMIZE/compact LOCALIZE it (rewrite output is owned
    * storage, external refs drop out of the live set). Deletion-vector
    * refs carry absolute, so a cloned MoR table reads identically;
    * column stats carry (value-based, portable); Bloom refs do NOT
    * (their bitset sidecars live in the source's log dir) — the clone
    * point-probes without Bloom pruning until ANALYZE re-indexes or a
    * rewrite localizes it, a conservative cost, never a wrong answer.
    * Vacuum on EITHER side never deletes storage it doesn't own, but
    * the standard shallow-clone caveat applies: a SOURCE-side vacuum
    * can reclaim segments a clone still references (the same contract
    * Delta documents) — localize the clone to sever the dependency. */
  def cloneShallow(dir: String, target: String): Int = {
    val snap = state(dir)
    require(snap.version >= 0, s"cannot clone $dir: no commits")
    require(headVersion(target) < 0, s"clone target $target already has commits")
    val abs =
      if (isExternal(dir)) dir
      else new java.io.File(dir).getAbsolutePath
    def ref(name: String): String =
      if (isExternal(name)) name else s"$abs/$name"
    // LIVE-only stats (the checkpoint-fold discipline): the state fold
    // keeps stats of removed segments, and absolutizing those would
    // embed dangling external refs for segments the source may vacuum
    val liveSet = snap.live.toSet
    // expectedHead = -1: racing clones of the SAME target must not
    // union — exactly one claims slot 0, the loser conflicts loud
    commit(target, "clone",
      add = snap.live.map(ref),
      remove = Seq.empty,
      expectedHead = Some(-1),
      stats = snap.stats.filter { case ((seg, _), _) => liveSet(seg) }
        .map { case ((seg, c), v) => ((ref(seg), c), v) },
      dvs = snap.dvs.toSeq.flatMap { case (seg, ds) =>
        ds.map { case (dv, rows) => (ref(seg), ref(dv), rows) } },
      // the clone sees the source's logical view AND its write
      // contracts: column mapping, the protocol floor (a clone of a
      // feature-bearing table needs the same reader everywhere its
      // source did), and constraints/defaults/generated (writes into
      // the clone keep the source's governance — losing them silently
      // would admit rows the source never would)
      extraLines = snap.renames.toSeq.sorted.map { case (p, l) =>
        s"rename=${enc(p)}|${enc(l)}" } ++
        snap.dropped.toSeq.sorted.map("dropcol=" + enc(_)) ++
        (if (snap.protocol == (1, 1)) Seq.empty
         else Seq(s"protocol=${snap.protocol._1}|${snap.protocol._2}")) ++
        snap.constraints.toSeq.sorted.map { case (n, c) =>
          s"addconstraint=${enc(n)}|${enc(c)}" } ++
        snap.defaults.toSeq.sorted.map { case (n, c) =>
          s"setdefault=${enc(n)}|${enc(c)}" } ++
        snap.generated.toSeq.sorted.map { case (n, c) =>
          s"setgenerated=${enc(n)}|${enc(c)}" } ++
        // CDF is a write contract too: a clone of a change-recording
        // table must keep recording (Delta CLONE copies the property)
        (if (snap.cdfEnabled) Seq("setcdf=true") else Seq.empty) ++
        // partitioning is a write-layout contract: appends into the
        // clone must keep splitting per partition like the source
        (if (snap.partitionCols.isEmpty) Seq.empty
         else Seq("partcols=" + snap.partitionCols.map(enc).mkString("|"))))
  }

  /** Targeted CLONE LOCALIZATION — sever a shallow clone's dependency
    * on its source without rewriting the whole table: ONLY live
    * segments that are borrowed (an external segment ref, or an owned
    * segment whose deletion-vector sidecars are external) are
    * rewritten into owned storage; owned clean segments carry by
    * reference untouched. After it, a SOURCE-side vacuum can reclaim
    * everything — the clone reads identically from its own bytes (the
    * gap Delta's shallow CLONE leaves between "clone" and "rewrite it
    * all"). One distributed job over the borrowed set, staged through
    * the shared optimize tail (part-file renames, no second job):
    * `bins` part files sized to `targetBytes` (default: one bin per
    * borrowed segment, preserving the source's segment granularity).
    * The DV-applied scan materializes borrowed tombstones away, so
    * external sidecar refs drop with their segments. Borrowed BLOOM
    * refs were already dropped by [[cloneShallow]]; run [[analyze]]
    * after to re-index owned bytes. None when nothing is borrowed. */
  def localize(spark: SparkSession, dir: String,
               statsCols: Seq[String] = Nil,
               targetBytes: Long = 0L): Option[Int] = {
    val snap = state(dir)
    val borrowed = snap.live.filter(seg => isExternal(seg) ||
      snap.dvs.getOrElse(seg, Seq.empty).exists { case (dv, _) => isExternal(dv) })
    if (borrowed.isEmpty) return None
    val bins =
      if (targetBytes <= 0) borrowed.size
      else {
        val total = borrowed.map(seg =>
          refStore(dir, seg).sizeOf(segPath(dir, seg))).sum
        math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
      }
    val owned = segScan(spark, dir, snap, borrowed, mergeSchema = true)
      .repartition(bins)
    Some(stageAndCommitClustered(spark, dir, owned, borrowed, snap,
      statsCols, op = "localize"))
  }

  /** DELETION-VECTOR sidecar compaction — the MoR maintenance op:
    * repeated narrow deletes on one segment accumulate one `dv-*`
    * sidecar per commit, and every scan of that segment reads ALL of
    * them; this rewrites each crowded segment's sidecars (more than
    * `maxSidecars`) into ONE distinct-coordinate sidecar and re-records
    * the mapping as a METADATA-ONLY commit — no data segment is read
    * or rewritten, cost ∝ tombstone coordinates. The entry removes and
    * re-adds the crowded segments (the [[restore]] trick: the state
    * fold clears a removed segment's dv mapping, then the entry's dv
    * lines re-record the merged one); superseded sidecars stay for
    * time travel until [[vacuum]] reclaims them past the horizon. A
    * sidecar shared with an uncrowded segment survives through that
    * segment's own mapping. Conflicts like every snapshot-dependent
    * op. None when no segment is crowded. */
  def coalesceDvs(spark: SparkSession, dir: String,
                  maxSidecars: Int = 1): Option[Int] = {
    require(maxSidecars >= 1, "maxSidecars must be >= 1")
    val snap = state(dir)
    val crowded = snap.live.filter(seg =>
      snap.dvs.getOrElse(seg, Seq.empty).size > maxSidecars)
    if (crowded.isEmpty) return None
    val dvNames = crowded.flatMap(seg => snap.dvs(seg).map(_._1)).distinct
    val segSet = crowded.map(bareName).toSet
    val merged = s"dv-${java.util.UUID.randomUUID}"
    LocalFs.writer(spark.read.schema(DvSchema)
      .parquet(dvNames.map(n => segPath(dir, n)): _*)
      .filter(col("seg").isInCollection(segSet))
      .distinct())
      .parquet(s"$dir/$merged")
    try {
      val counts = spark.read.schema(DvSchema).parquet(s"$dir/$merged")
        .groupBy("seg").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // stats/blooms need no re-record: the segments stay continuously
      // live, so every checkpoint's live-filter keeps their metadata
      // (unlike restore, which resurrects checkpoint-dropped segments)
      // retryPastAppends with add==remove==crowded: pure metadata
      // rearrangement the appends never reference — but the add set
      // here is LIVE data segments a true conflict must NOT delete
      // (reclaimAdds = false), so only the merged sidecar reclaims
      Some(commitOrReclaim(dir, "dv_coalesce",
        add = crowded, remove = crowded, expectedHead = snap.version,
        stats = Map.empty,
        dvs = crowded.flatMap(seg =>
          counts.get(bareName(seg)).map(n => (seg, merged, n))),
        alsoReclaim = Seq(merged), reclaimAdds = false,
        retryPastAppends = true))
    } catch {
      case scala.util.control.NonFatal(e) =>
        store(dir).deleteRecursively(s"$dir/$merged")
        throw e
    }
  }

  /** Append `df` as a new segment. Blind (no expectedHead — concurrent
    * appends both land), but governance-gated: the commit re-checks
    * that no ADD CONSTRAINT / SET DEFAULT / ADD GENERATED / DROP landed
    * after this batch was staged and validated ([[govFingerprint]]). */
  def append(df: DataFrame, dir: String): Int = {
    val snap = snapshotOrEmpty(dir)
    val staged = newSegments(dir, df, snapOpt = Some(snap))
    reclaimOnFailure(dir, staged.segs) {
      // partitioned tables ALWAYS record the partition columns' exact
      // (min=max) stats — they are the pruning contract the split buys
      commit(dir, "append", staged.segs, Seq.empty,
        stats = segStatsMany(df.sparkSession, dir, staged.segs,
          snap.partitionCols, snap.withFiles(staged.files)),
        requireGov = Some(govFingerprint(snap)), files = staged.files)
    }
  }

  /** Min/max of `statsCols` over the just-written segment, computed by
    * one distributed agg over the segment's parquet (columnar — reads
    * only the stat columns, like a write-path stats pass). All-null
    * columns yield no entry (conservatively unprunable). `snap` is the
    * caller's already-resolved State — physical names are stable for a
    * table's lifetime, so any snapshot maps logical names identically,
    * and threading it through keeps a 1000-segment OPTIMIZE at one
    * metadata replay instead of one PER produced segment. */
  private def segStats(spark: SparkSession, dir: String, seg: String,
                       statsCols0: Seq[String],
                       snap: State): Map[(String, String), ColStats] = {
    if (statsCols0.isEmpty) return Map.empty
    // stats are keyed by PHYSICAL name (stable across renames): map the
    // caller's logical names down, like every other metadata surface
    val statsCols = statsCols0.map(snap.physCol)
    val sdf = scanSegments(spark, dir, snap, Seq(seg))
    val types = sdf.schema.map(f => f.name -> f.dataType.typeName).toMap
    statsCols.foreach(c => require(types.contains(c), s"no column $c in segment $seg"))
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).cast("string").as(s"mn_$c"),
          max(col(c)).cast("string").as(s"mx_$c"),
          coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
            .as(s"nl_$c")))
    val row = sdf.agg(aggs.head, aggs.tail: _*).head()
    statsCols.flatMap { c =>
      val mn = row.getAs[String](s"mn_$c"); val mx = row.getAs[String](s"mx_$c")
      if (mn == null || mx == null) None
      else Some((seg, c) -> ColStats(types(c), mn, mx,
        row.getAs[Long](s"nl_$c")))
    }.toMap
  }

  /** The k bit positions of `value` in an m-bit Bloom filter: the
    * 52-bit md5 prefix of `value:i` mod m — deterministic, engine- and
    * JVM-independent (same recipe as the PQ/seed hashing). */
  private[graft] def bloomPositions(value: String, m: Int, k: Int): Seq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until k).map { i =>
      val hex = md.digest(s"$value:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      (java.lang.Long.parseLong(hex, 16) % m).toInt
    }
  }

  /** Per-segment Bloom filters for `bloomCols` over the just-written
    * segment: one distributed pass per column emits the DISTINCT bit
    * positions (bounded by m, not by rows — the shuffle carries at most
    * m ints per segment), collected into an m-bit bitset persisted as a
    * `.bloom` SIDECAR under the log dir (the entry carries only the
    * reference, so entry parsing never pays for bitset bytes). m
    * auto-sizes to ~16 bits/row (power of two, 8K..128M bits → fp well
    * under 1% to ~8M rows/segment; beyond that the filter degrades
    * toward keep-everything, which costs scans, never correctness);
    * each lookup reads its segment's recorded m, so mixed sizes across
    * a table's history are fine. */
  private def segBlooms(spark: SparkSession, dir: String, seg: String,
                        bloomCols0: Seq[String], snap: State,
                        k: Int = 4): Map[(String, String), BloomStats] = {
    if (bloomCols0.isEmpty) return Map.empty
    val bloomCols = bloomCols0.map(snap.physCol)
    val sdf = scanSegments(spark, dir, snap, Seq(seg))
    val types = sdf.schema.map(f => f.name -> f.dataType.typeName).toMap
    val n = sdf.count()
    var m = 8192
    while (m < 16L * n && m < (1 << 27)) m <<= 1
    val st = store(dir)
    st.mkdirs(logDir(dir))
    bloomCols.map { c =>
      val posCols = (0 until k).map(i =>
        (conv(substring(md5(concat(col("v"), lit(s":$i"))), 1, 13), 16, 10)
          .cast("long") % m).cast("int"))
      // 64-bit word fragments OR-combined distributed-side: the driver
      // collects at most m/64 rows (word index, word bits), never the
      // raw position multiset
      val words = sdf.select(col(c).cast("string").as("v")).na.drop()
        .select(explode(array(posCols: _*)).as("p"))
        .groupBy((col("p") / 64).cast("int").as("w"))
        .agg(bit_or(expr("shiftleft(1L, CAST(p % 64 AS INT))")).as("bits"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      val bits = new Array[Byte]((m + 7) / 8)
      words.foreach { case (w, word) =>
        var i = 0
        while (i < 8) {
          val b = ((word >>> (8 * i)) & 0xffL).toByte
          if (w * 8 + i < bits.length) bits(w * 8 + i) = b
          i += 1
        }
      }
      val f = s"${logDir(dir)}/${bareName(seg)}-$c.bloom"
      st.putReplace(f, bits)
      (seg, c) -> BloomStats(types.getOrElse(c, "string"), m, k, st, f)
    }.toMap
  }

  /** Append with per-segment min/max stats on `statsCols` (range
    * skipping) and Bloom filters on `bloomCols` (point-lookup skipping
    * for high-cardinality keys range stats can't prune) recorded in
    * the commit entry — [[readRange]]/[[readPoint]] skip segments
    * without opening them (Delta/Iceberg file skipping + bloom index). */
  def appendWithStats(spark: SparkSession, df: DataFrame, dir: String,
                      statsCols: Seq[String],
                      bloomCols: Seq[String] = Nil): Int = {
    val snap = snapshotOrEmpty(dir)
    val staged = newSegments(dir, df, snapOpt = Some(snap))
    val segs = staged.segs
    val withSegs = snap.withFiles(staged.files)
    val allStatsCols = (snap.partitionCols ++ statsCols).distinct
    // stats/bloom failures (e.g. a statsCol missing from the batch)
    // happen AFTER the segment bytes are staged but BEFORE any entry
    // records them — reclaim on the way out or vacuum (which only sees
    // entry-recorded segments) could never delete the orphan
    reclaimOnFailure(dir, segs) {
      val stats = segStatsMany(spark, dir, segs, allStatsCols, withSegs)
      // ZERO-ROW batch: min/max fold to null, so the segment would
      // commit with NO stats — permanently unprunable, kept forever by
      // every pruning surface (triage/point/DSv2) on a stats-indexed
      // table even though it is provably matchless. Commit the VERSION
      // without the segment instead (callers still get their slot; an
      // occasionally-empty date-sliced loader no longer accumulates
      // prune-defeating dirs). Probed only when stats came back empty
      // — the hot non-empty path pays nothing extra. (A partitioned
      // zero-row batch already staged no segments at all.)
      if (segs.isEmpty ||
          (statsCols.nonEmpty && stats.isEmpty &&
            segs.forall(s0 => scanSegments(spark, dir, withSegs, Seq(s0)).isEmpty))) {
        segs.foreach(s0 => store(dir).deleteRecursively(s"$dir/$s0"))
        commit(dir, "append", Seq.empty, Seq.empty,
          requireGov = Some(govFingerprint(snap)))
      } else
        commit(dir, "append", segs, Seq.empty,
          stats = stats,
          blooms = segs.flatMap(s0 =>
            segBlooms(spark, dir, s0, bloomCols, withSegs)).toMap,
          requireGov = Some(govFingerprint(snap)), files = staged.files)
    }
  }

  /** Split the live set (as of `asOf`) into (kept, pruned) for the
    * point predicate `col = value`, from log metadata alone: a segment
    * is pruned when its Bloom PROVES absence OR its [min,max] range
    * excludes the value; either index missing → conservative keep.
    * False positives only cost an extra scan, never correctness. */
  def prunePoint(dir: String, c: String, value: String,
                 asOf: Int = -1): (Seq[String], Seq[String]) = {
    val s = state(dir, asOf)
    s.live.partition(triageByBounds(s,
      probeBounds(c, recordedType(s, c), Some(value), None, point = true)).toSet)
  }

  /** Split the live set (as of `asOf`) into (kept, pruned) for the
    * range predicate `col BETWEEN lo AND hi` (None = unbounded side),
    * using only log metadata — no file is opened. */
  def pruneRange(dir: String, c: String, lo: Option[String], hi: Option[String],
                 asOf: Int = -1): (Seq[String], Seq[String]) = {
    val s = state(dir, asOf)
    s.live.partition(triageByBounds(s, probeBounds(c, recordedType(s, c), lo, hi)).toSet)
  }

  /** Cap on segments whose BLOOM sidecars one driver-side prune will
    * load: range stats are in-memory log metadata (free to consult at
    * any segment count), but each bloom probe lazily reads one sidecar
    * FILE on the driver — uncapped, a point probe on a 100k-segment
    * table whose ranges don't discriminate would serialize 100k
    * metadata fetches before any job launches. So pruning runs range
    * stats FIRST over everything, then probes blooms DRIVER-side while
    * the range survivors fit the cap; ABOVE the cap, callers holding a
    * session run ONE distributed sidecar-probe job ([[bloomProbeJob]])
    * — executor-side reads, O(candidates) booleans back — so the
    * 100k-segment needle-in-haystack case still bloom-prunes.
    * Metadata-only callers (no session) skip instead — strictly
    * conservative (skipping blooms only KEEPS segments). */
  private val bloomProbeCap = new scala.util.DynamicVariable(256)

  /** Test seam: every prune this thread runs while `body` runs uses
    * `cap` as the bloom probe cap, until `body` returns or throws. */
  private[graft] def withBloomProbeCap[T](cap: Int)(body: => T): T =
    bloomProbeCap.withValue(cap)(body)

  /** The type the log records for `c` over the live set (its stats and
    * Bloom entries), when they agree on one: the column type of the
    * session-less probes [[prunePoint]] and [[pruneRange]]. */
  private def recordedType(s: State, c: String): Option[org.apache.spark.sql.types.DataType] = {
    val p = s.physCol(c)
    s.live.flatMap(seg => s.stats.get((seg, p)).map(_.typeName) ++
      s.blooms.get((seg, p)).map(_.typeName)).distinct match {
      case Seq(tn) => scala.util.Try(
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(tn)).toOption
      case _ => None
    }
  }

  /** Triage bounds of a typed probe: `c = lo` for a `point` (Blooms can
    * prove it absent), else `c >= lo AND c <= hi` (None = unbounded), as
    * SQL's BETWEEN desugars. Each probe is cast to `dt` (TRY semantics,
    * session zone) into the Catalyst literal [[conjunctBoundsOf]] reads
    * as it reads a SQL one; a probe that does not cast bounds nothing. */
  private def probeBounds(c: String, dt: Option[org.apache.spark.sql.types.DataType],
                          lo: Option[String], hi: Option[String],
                          point: Boolean = false): Bounds = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def typed(v: String): Option[ce.Literal] = dt.flatMap { t =>
      try Option(ce.Cast(ce.Literal(v), t,
          Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone),
          ce.EvalMode.TRY).eval()).map(ce.Literal(_, t))
      catch { case scala.util.control.NonFatal(_) => None }
    }
    val a = org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(c))
    conjunctBoundsOf(
      if (point) lo.flatMap(typed).map(ce.EqualTo(a, _)).toSeq
      else lo.flatMap(typed).map(ce.GreaterThanOrEqual(a, _)).toSeq ++
        hi.flatMap(typed).map(ce.LessThanOrEqual(a, _)))
  }

  /** The live segments that may hold a `c` in [lo, hi], with `c` typed
    * as the table's merged schema scans it (what DML rewrites read). */
  private def rangeCandidates(spark: SparkSession, dir: String, snap: State,
                              c: String, lo: String, hi: String): Seq[String] = {
    val dt = if (snap.live.isEmpty) None
      else tableSchema(spark, dir, snap).find(_.name == snap.physCol(c)).map(_.dataType)
    triageByBounds(snap, probeBounds(c, dt, Some(lo), Some(hi)), Some(spark))
  }

  /** The live segments that may hold a MERGE source's keys: those
    * meeting the range of `df`'s key `k`, typed as `df` holds it, on
    * the target's key column `c`. */
  private def keyCandidates(spark: SparkSession, snap: State, df: DataFrame,
                            k: String, c: String): Seq[String] = {
    val r = df.agg(min(df(k)).cast("string"), max(df(k)).cast("string")).head()
    triageByBounds(snap, probeBounds(c, Some(df.schema(k).dataType),
      Option(r.getString(0)), Option(r.getString(1))), Some(spark))
  }

  /** The live segments holding one of `df`'s keys `k` in the target's
    * key column `c`: ONE distributed probe over all [[keyCandidates]]
    * (not a job per segment) semi-joins their scan with the distinct
    * keys — O(candidates) segment names to the driver, O(1) jobs. */
  private def keyedSegments(spark: SparkSession, dir: String, snap: State,
                            df: DataFrame, k: String, c: String): Seq[String] = {
    val candidates = keyCandidates(spark, snap, df, k, c)
    if (candidates.isEmpty) return candidates
    val entryOf = candidates.map(n => bareName(n) -> n).toMap
    // the probe keys take the TARGET's key name: the semi-join binds by name
    val hit = segScan(spark, dir, snap, candidates, mergeSchema = true, withMeta = true)
      .join(broadcast(df.select(df(k).as(c)).distinct()), Seq(c), "left_semi")
      .select(segOfFile(col("__file"))).distinct().collect()
      .map(r => entryOf.getOrElse(r.getString(0), r.getString(0))).toSet
    candidates.filter(hit)
  }

  /** Bloom/stats-pruned point lookup: scans ONLY segments that may
    * contain `col = value`. The 100 TB needle-in-haystack path: a key
    * lookup touches the one segment holding it, not the table. */
  def readPoint(spark: SparkSession, dir: String, c: String, value: String,
                asOf: Int = -1, mergeSchema: Boolean = false): DataFrame =
    readPruned(spark, dir, asOf, mergeSchema)(
      t => probeBounds(c, t(c), Some(value), None, point = true),
      df => col(c) === lit(value).cast(df.schema(c).dataType))

  /** Stats-pruned range read: scans ONLY segments whose recorded
    * [min,max] may intersect [lo, hi], then applies the exact residual
    * filter. At 100 TB this is the difference between a full-table scan
    * and touching the handful of segments a time/key range lives in.
    * `mergeSchema` mirrors [[read]]: on a schema-EVOLVED table the range
    * column may exist only in newer segments, and a single-footer
    * schema could miss it. */
  def readRange(spark: SparkSession, dir: String, c: String,
                lo: Option[String], hi: Option[String],
                asOf: Int = -1, mergeSchema: Boolean = false): DataFrame =
    readPruned(spark, dir, asOf, mergeSchema)(
      t => probeBounds(c, t(c), lo, hi),
      df => (lo.map(l => col(c) >= lit(l).cast(df.schema(c).dataType)) ++
        hi.map(h => col(c) <= lit(h).cast(df.schema(c).dataType))).reduceOption(_ && _)
        .getOrElse(lit(true)))

  /** Stats- AND bloom-pruned read for an ARBITRARY SQL predicate — the
    * general form of [[readPoint]] (one-column equality) and
    * [[readRange]] (one-column range): prunable conjuncts of the
    * predicate are intersected with per-segment min/max stats and — for
    * point probes — Bloom sidecars, so only segments that can possibly
    * hold a match are opened; the full predicate then applies as the
    * exact residual filter. Unanalyzable predicates degrade to a full
    * scan with the filter (never wrong, just unpruned). The same
    * [[triageByBounds]] machinery the DML triage uses, exposed as
    * the read path: at 100 TB, `readWhere(t, "day = X AND user = Y")`
    * touches the segments whose stats intersect X (and whose blooms
    * admit Y), never the table. */
  def readWhere(spark: SparkSession, dir: String, predicate: String,
                asOf: Int = -1, mergeSchema: Boolean = false): DataFrame =
    readPruned(spark, dir, asOf, mergeSchema)(
      _ => prunableConjuncts(spark, predicate), _ => expr(predicate))

  /** The one body of the pruned reads: replay as of `asOf`, refuse an
    * empty table, raise the typed error for a vacuumed version, scan the
    * segments [[triageByBounds]] keeps for `bounds` (given a column's
    * scan type, planned only when asked for) — or nothing, keeping the
    * schema — and apply the exact `residual` filter. */
  private def readPruned(spark: SparkSession, dir: String, asOf: Int,
      mergeSchema: Boolean)(
      bounds: (String => Option[org.apache.spark.sql.types.DataType]) => Bounds,
      residual: DataFrame => Column): DataFrame = {
    val s = state(dir, asOf)
    require(s.live.nonEmpty, s"table $dir is empty as of version $asOf")
    // time travel gets the typed retention error (head reads skip the
    // probe: a vacuum never reclaims the head's live set)
    if (asOf >= 0)
      requireRetained(dir, asOf, s.live)
    lazy val whole = segScan(spark, dir, s, s.live, mergeSchema)
    val kept = triageByBounds(s,
      bounds(c => whole.schema.find(_.name == c).map(_.dataType)), Some(spark))
    val base =
      if (kept.isEmpty) whole.limit(0) // schema-preserving empty
      else segScan(spark, dir, s, kept, mergeSchema)
    base.filter(residual(base))
  }

  /** `a < b` in the stat column's own domain (see [[canPrune]]'s
    * collation notes) — throws NumberFormatException on an unparseable
    * value. Both readers of [[conjunctBoundsOf]]'s conjuncts compare
    * through it, exclusion ([[triageByBounds]], via [[canPrune]]) and
    * the all-match proof ([[allMatchByStats]]), and both catch that as
    * "proves nothing". */
  private def statLt(tn: String, a: String, b: String): Boolean = {
    val integral = Set("byte", "short", "integer", "long").contains(tn) ||
      tn.startsWith("decimal")
    if (tn == "float")
      // compare in the FLOAT domain: the residual filter casts the
      // probe to float, so a probe string carrying more precision
      // than float holds (double-rounding above the stored max while
      // float-rounding TO it) must not prune the segment whose max
      // row the residual >= filter would match
      java.lang.Float.parseFloat(a) < java.lang.Float.parseFloat(b)
    else if (tn == "double") java.lang.Double.parseDouble(a) < java.lang.Double.parseDouble(b)
    else if (integral) BigDecimal(a) < BigDecimal(b)
    else java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
  }

  /** True iff the recorded [min,max] of `c` in `seg` PROVES no row can
    * fall in [lo, hi]. Missing stats → not prunable (conservative).
    * Integral/decimal types compare as BigDecimal (exact); float/double
    * compare as parsed doubles — Spark's cast-to-string is the shortest
    * ROUND-TRIP representation, so the parse recovers the exact stored
    * value and the comparison agrees bit-for-bit with the residual
    * filter's own cast (a BigDecimal compare of the decimal strings
    * would NOT: 0.1's repr "0.1" reads as a decimal below the true
    * binary value and can falsely prune a matching segment). NaN stats
    * (Spark max propagates NaN) make every comparison false → the
    * segment is conservatively kept, never an exception. Everything
    * else (string, date — ISO strings order correctly) compares in
    * UTF-8 BYTE order — the order Spark's own min/max used. Java's
    * String `<` is UTF-16 code-UNIT order, which ranks a supplementary
    * character (surrogate pair, 0xD800-lead) BELOW [U+E000, U+FFFF]
    * while UTF-8 ranks it above: a segment whose recorded max is an
    * emoji would be falsely pruned for a probe like '�' — for a
    * DML triage that is silent row loss, so the compare must match the
    * stats' own collation exactly. Only [[triageByBounds]] calls it,
    * after its type-family guard. */
  private def canPrune(st: Option[ColStats], lo: Option[String],
                       hi: Option[String]): Boolean = st match {
    case None => false
    case Some(ColStats(tn, mn, mx, _)) =>
      lo.exists(l => statLt(tn, mx, l)) || hi.exists(h => statLt(tn, h, mn))
  }

  /** Copy-on-write range delete: stats-prune first (segments whose
    * [min,max] excludes the range are never OPENED — no probe scan),
    * probe only the candidates, rewrite only the dirty ones. Null rows
    * in the delete column are kept (a range never matches null). */
  def deleteRange(spark: SparkSession, dir: String, c: String,
                  lo: String, hi: String,
                  statsCols: Seq[String] = Nil): Int = {
    val snap = state(dir)
    val candidates = rangeCandidates(spark, dir, snap, c, lo, hi)
    def rangeCond(df: DataFrame) = {
      val dt = df.schema(c).dataType
      col(c) >= lit(lo).cast(dt) && col(c) <= lit(hi).cast(dt)
    }
    // ONE triage job over the stats-surviving candidates (not a probe
    // job per segment), then ONE multi-path scan rewrites the
    // match-bearing ones; NULL keys are kept (outside any range)
    val counts = matchCountsOn(spark, dir, snap, candidates, rangeCond)
    val dirty = candidates.filter(seg => counts.get(seg).exists(_._1))
    if (dirty.isEmpty)
      return commitOrReclaim(dir, "delete", Seq.empty, Seq.empty,
        snap.version, Map.empty, retryPastAppends = true)
    // all-match segments drop wholesale (metadata-only), like delete:
    // a whole-partition range drop never rewrites a row — but a
    // NULL-keyed row never matches a range, so a segment is only
    // all-match when it holds no NULL keys
    val (_, straddling) = dirty.partition(seg => counts(seg)._2)
    val sdf0 =
      if (straddling.isEmpty) None
      else Some(segScan(spark, dir, snap, straddling, mergeSchema = true))
    // CHANGE DATA FEED (when enabled): same exact-delete contract as
    // the arbitrary-predicate path — without it a deleteRange commit
    // (also op 'delete') would be indistinguishable from a cdc-exact
    // one while silently feeding kept rows as phantom inserts; the
    // pre-image scan must cover the WHOLE dirty set, wholesale included
    val cdc =
      if (!snap.cdfEnabled) Seq.empty
      else {
        val all = segScan(spark, dir, snap, dirty, mergeSchema = true)
        Seq(writeCdc(dir,
          all.filter(rangeCond(all) && col(c).isNotNull), "delete", snap))
      }
    reclaimOnFailure(dir, cdc.map(_._1)) {
      val adds = sdf0.fold(NothingStaged) { sdf =>
        newSegments(dir, sdf.filter(!rangeCond(sdf) || col(c).isNull),
          applyDefaults = false, snapOpt = Some(snap))
      }
      // the staged segments join the scope: a segStats/commit failure
      // must not leak dirs no entry records
      reclaimOnFailure(dir, adds.segs) {
        commitOrReclaim(dir, "delete", adds.segs, dirty, snap.version,
          segStatsMany(spark, dir, adds.segs,
            (snap.partitionCols ++ statsCols).distinct, snap.withFiles(adds.files)),
          extraLines = cdcLines(cdc), alsoReclaim = cdc.map(_._1),
          retryPastAppends = true, files = adds.files)
      }
    }
  }

  /** OPTIMIZE with clustering (Delta's `OPTIMIZE ... ZORDER/CLUSTER BY`
    * mechanics at segment granularity): rewrite the live set as
    * `numSegments` RANGE-CLUSTERED segments on `sortCols` — one
    * distributed `repartitionByRange` job writes all the files, then
    * each part file is MOVED (a filesystem rename, no second job) into
    * its own segment so per-segment min/max stats make the cluster key
    * skippable. Logically a no-op, like [[compact]]; conflicts on any
    * concurrent commit. After it, a range query on the leading sort
    * column prunes all but the covering segments from log metadata —
    * the layout lever that turns a 100 TB table's time/key queries
    * into touch-only-what-matches scans. */
  def optimize(spark: SparkSession, dir: String, sortCols: Seq[String],
               numSegments: Int, statsCols: Seq[String] = Nil): Int = {
    require(sortCols.nonEmpty && numSegments >= 1, "need sort columns and >=1 segments")
    val snap = state(dir)
    require(snap.live.nonEmpty, s"optimize of empty table $dir")
    // mergeSchema: a schema-evolved table's rewrite must not silently
    // drop the added column (single-footer inference could). The scan
    // applies deletion vectors, so OPTIMIZE also MATERIALIZES them
    // away: the rewritten segments carry no tombstones.
    val clustered = segScan(spark, dir, snap, snap.live, mergeSchema = true)
      .repartitionByRange(numSegments, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    stageAndCommitClustered(spark, dir, clustered, snap.live, snap, statsCols)
  }

  /** Predicate-scoped OPTIMIZE (Delta's `OPTIMIZE ... WHERE`): rewrite
    * ONLY segments whose [min,max] stats on `c` INTERSECT [lo, hi] —
    * selected from log metadata alone, no data read to decide — into
    * `numSegments` range-clustered segments; everything outside the
    * frame carries by reference. The nightly-maintenance shape for
    * date-sliced ingest: re-cluster yesterday's partition without
    * touching the other 99.9% of a 100 TB table. Segments without
    * recorded stats on `c` are conservatively included (they might
    * hold frame rows). None when fewer than 2 segments qualify
    * (nothing to co-cluster). */
  def optimizeWhere(spark: SparkSession, dir: String, c: String,
                    lo: String, hi: String, sortCols: Seq[String],
                    numSegments: Int,
                    statsCols: Seq[String] = Nil): Option[Int] = {
    require(sortCols.nonEmpty && numSegments >= 1,
      "need sort columns and >=1 segments")
    val snap = state(dir)
    val candidates = rangeCandidates(spark, dir, snap, c, lo, hi)
    if (candidates.size < 2) return None
    val clustered = segScan(spark, dir, snap, candidates, mergeSchema = true)
      .repartitionByRange(numSegments, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    Some(stageAndCommitClustered(spark, dir, clustered, candidates,
      snap, statsCols, op = "optimize_where"))
  }

  /** Shared optimize tail: write the clustered frame once, MOVE each
    * part file into its own segment (filesystem renames, no second
    * job), record per-segment stats, commit remove(live)+add(segs). */
  private def stageAndCommitClustered(spark: SparkSession, dir: String,
                                      clustered: DataFrame, live: Seq[String],
                                      snap: State, statsCols: Seq[String],
                                      op: String = "optimize"): Int = {
    val st = store(dir)
    // PARTITIONED tables re-split through the shared partition stager:
    // maintenance is exactly how unsplit segments (streaming ingest,
    // pre-spec history) regain the one-tuple-per-segment layout
    val staged =
      if (snap.partitionCols.nonEmpty)
        newSegments(dir, clustered, applyDefaults = false,
          snapOpt = Some(snap))
      else {
        val written = newSegment(dir, clustered, applyDefaults = false,
          snapOpt = Some(snap))
        val staging = written.segs.head
        val parts = st.list(s"$dir/$staging")
          .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
          .sorted
        val named = parts.map { p =>
          val name = s"seg-${java.util.UUID.randomUUID}"
          st.mkdirs(s"$dir/$name")
          movePart(st, s"$dir/$staging", s"$dir/$name", p)
          name -> p
        }
        // drop the emptied staging dir (only _SUCCESS etc. remain)
        st.deleteRecursively(s"$dir/$staging")
        // each part file's segment shares the staging's record and schema
        Staged(named.map(_._1), written.files.get(staging).fold(
            Map.empty[String, SegFiles]) { f =>
          val sizes = f.files.toMap
          named.map { case (name, p) => name -> f.copy(files = Seq(p -> sizes(p))) }.toMap
        })
      }
    // the renamed segments join the reclaim scope: a segStats/commit
    // failure must not leak a live-set-sized family of dirs no entry
    // records and no vacuum can find
    reclaimOnFailure(dir, staged.segs) {
      commitOrReclaim(dir, op, staged.segs, live, snap.version,
        segStatsMany(spark, dir, staged.segs,
          (snap.partitionCols ++ statsCols).distinct, snap.withFiles(staged.files)),
        retryPastAppends = true, files = staged.files)
    }
  }

  /** [[segStats]] over MANY just-staged segments in ONE distributed
    * job: a 120-segment OPTIMIZE must not submit 120 sequential
    * one-segment agg jobs (at 100k segments that folding loop is a
    * driver/scheduler bottleneck regardless of data size — the same
    * O(segments)-job-submissions rule matchCountsOn enforces for the
    * triage). One scan groups by the owning segment dir and ships
    * 2·|statsCols| strings per segment. All-null columns yield no
    * entry, like the single-segment form. */
  private def segStatsMany(spark: SparkSession, dir: String,
                           segs: Seq[String], statsCols0: Seq[String],
                           snap: State): Map[(String, String), ColStats] = {
    if (statsCols0.isEmpty || segs.isEmpty) return Map.empty
    if (segs.size == 1)
      return segStats(spark, dir, segs.head, statsCols0, snap)
    val statsCols = statsCols0.map(snap.physCol)
    val sdf = scanSegments(spark, dir, snap, segs)
    val types = sdf.schema.map(f => f.name -> f.dataType.typeName).toMap
    statsCols.foreach(c =>
      require(types.contains(c), s"no column $c in staged segments"))
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).cast("string").as(s"mn_$c"),
          max(col(c)).cast("string").as(s"mx_$c"),
          coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
            .as(s"nl_$c")))
    val entryOf = segs.map(n => bareName(n) -> n).toMap
    sdf.withColumn("__seg", segOfFile(col("_metadata.file_path")))
      .groupBy("__seg").agg(aggs.head, aggs.tail: _*)
      .collect()
      .flatMap { r =>
        val seg = entryOf.getOrElse(r.getString(0), r.getString(0))
        statsCols.flatMap { c =>
          val mn = r.getAs[String](s"mn_$c"); val mx = r.getAs[String](s"mx_$c")
          if (mn == null || mx == null) None
          else Some((seg, c) -> ColStats(types(c), mn, mx,
            r.getAs[Long](s"nl_$c")))
        }
      }.toMap
  }

  /** The table's unioned schema (mergeSchema over the live set) — the
    * read schema every DML rewrite must use so a schema-evolved table
    * (old segments missing an added column) probes and rewrites
    * uniformly: missing columns surface null, exactly like [[read]]
    * with mergeSchema. */
  private def tableSchema(spark: SparkSession, dir: String,
                          snap: State): org.apache.spark.sql.types.StructType =
    scanSegments(spark, dir, snap, snap.live, mergeSchema = true).schema

  /** Copy-on-write UPDATE — the third leg of the DML triad (DELETE /
    * MERGE / UPDATE): rows matching `predicate` get `setExprs` applied
    * (column → SQL expression over the old row); only segments that
    * contain a match are rewritten, clean ones carry by reference.
    * SQL UPDATE semantics: the predicate and EVERY set expression
    * evaluate against the PRE-update row (one projection, not a
    * sequential fold — `SET x = y, y = x` swaps). Schema-evolved
    * tables rewrite under the unioned table schema. Conflicts like
    * every snapshot-dependent op. */
  def update(spark: SparkSession, dir: String, predicate: String,
             setExprs: Map[String, String],
             statsCols: Seq[String] = Nil): Int = {
    require(setExprs.nonEmpty, "update without SET expressions")
    val snap = state(dir)
    val schema = tableSchema(spark, dir, snap)
    val unknown = setExprs.keySet -- schema.map(_.name).filterNot(snap.dropped)
      .map(p => snap.renames.getOrElse(p, p)).toSet
    require(unknown.isEmpty, s"SET references unknown column(s): $unknown")
    if (snap.cdfEnabled)
      requireCdfDeterministic(spark, snap, schema,
        setExprs.map { case (c, e) => s"SET $c" -> e } +
          ("UPDATE predicate" -> predicate))
    // ONE stats-pre-pruned triage job (not a probe job per segment —
    // O(segments) scheduler round-trips is the 100k-segment
    // bottleneck; prunable conjuncts skip non-intersecting segments
    // entirely), then ONE multi-path scan rewrites exactly the
    // match-bearing segments; clean ones carry by reference
    val counts = matchCounts(spark, dir, snap, predicate)
    val dirty = snap.live.filter(seg => counts.get(seg).exists(_._1))
    if (dirty.isEmpty)
      return commitOrReclaim(dir, "update", Seq.empty, Seq.empty,
        snap.version, Map.empty, retryPastAppends = true)
    val sdf = segScan(spark, dir, snap, dirty, schema = Some(schema))
    // ONE projection over the original frame: all when()/RHS columns
    // read the pre-update row; a NULL-evaluating predicate keeps the
    // old value (SQL UPDATE updates only TRUE rows)
    val rewritten = sdf.select(sdf.columns.map { c =>
      setExprs.get(c) match {
        case Some(e) => when(expr(predicate), expr(e)).otherwise(col(c)).as(c)
        case None    => col(c)
      }
    }: _*)
    // CHANGE DATA FEED (when enabled): pre- and post-images of exactly
    // the TRUE-predicate rows. The post-images are projected from the
    // just-written PRE sidecar read back (changed-rows-sized), not from
    // a third scan of the dirty segments — one extra dirty-set read for
    // the pre-images, then O(changed rows) for the post (the SET
    // expressions evaluate against pre-update values either way)
    val cdc =
      if (!snap.cdfEnabled) Seq.empty
      else stageCdc(dir) { buf =>
        val pre = sdf.filter(coalesce(expr(predicate), lit(false)))
        buf += writeCdc(dir, pre, "update_preimage", snap)
        val preBack = applyMapping(stagedScan(spark, dir, snap, buf.head._1), snap)
        val post = preBack.select(sdf.columns.map { c =>
          setExprs.get(c) match {
            case Some(e) => expr(e).as(c)
            case None    => col(c)
          }
        }: _*)
        buf += writeCdc(dir, post, "update_postimage", snap)
      }
    reclaimOnFailure(dir, cdc.map(_._1)) {
      val newSegs = newSegments(dir, rewritten, applyDefaults = false,
        snapOpt = Some(snap))
      // the staged segments join the scope: a segStats/commit failure
      // must not leak dirs no entry records
      reclaimOnFailure(dir, newSegs.segs) {
        commitOrReclaim(dir, "update", newSegs.segs, dirty, snap.version,
          segStatsMany(spark, dir, newSegs.segs,
            (snap.partitionCols ++ statsCols).distinct,
            snap.withFiles(newSegs.files)),
          extraLines = cdcLines(cdc), alsoReclaim = cdc.map(_._1),
          retryPastAppends = true, files = newSegs.files)
      }
    }
  }

  /** OPTIMIZE variant clustering on an arbitrary EXPRESSION — the
    * Z-ORDER path: pass e.g. `zorder2(col("a"), col("b"))` and record
    * stats on BOTH source columns; interleaved bits give each dimension
    * partial locality, so single-column range queries on either
    * dimension prune segments (the multi-dim skipping layout, vs
    * [[optimize]]'s total order on one leading column). */
  def optimizeBy(spark: SparkSession, dir: String, clusterExpr: Column,
                 numSegments: Int, statsCols: Seq[String] = Nil): Int = {
    val snap = state(dir)
    require(snap.live.nonEmpty, s"optimize of empty table $dir")
    val clustered = segScan(spark, dir, snap, snap.live, mergeSchema = true)
      .withColumn("__cluster", clusterExpr)
      .repartitionByRange(numSegments, col("__cluster"))
      .sortWithinPartitions(col("__cluster"))
      .drop("__cluster")
    stageAndCommitClustered(spark, dir, clustered, snap.live, snap, statsCols)
  }

  /** Copy-on-write MERGE (upsert) on `key`: rows of `updates` REPLACE
    * target rows with a matching key; unmatched updates are INSERTED.
    * Only segments actually containing a matched key are rewritten
    * (stats on `key`, when recorded, prune the probe set without
    * opening files); clean segments carry over by reference. Assumes
    * `key` is unique within `updates` (the usual MERGE contract).
    * Schemas must match (unioned by name). */
  def merge(spark: SparkSession, dir: String, updates: DataFrame, key: String,
            statsCols: Seq[String] = Nil): Int = {
    val snap = state(dir)
    // pin the updates once as a STAGING segment (never committed —
    // deleted below) so the probe and rewrite jobs don't recompute them
    val staged = newSegment(dir, updates, snapOpt = Some(snap))
    val uSeg = staged.segs.head
    try {
      // staged bytes carry physical names; probe in logical terms
      val u = applyMapping(scanSegments(spark, dir,
        snap.withFiles(staged.files), staged.segs), snap)
      val uKeys = broadcast(u.select(col(key)).distinct())
      val dirty = keyedSegments(spark, dir, snap, u, key, key)
      // every update row lands exactly once (replacing or inserting), and
      // clean segments contain no matching keys by construction — so the
      // rewrite is: (dirty rows not matched) ∪ updates
      val newData =
        if (dirty.isEmpty) u
        else segScan(spark, dir, snap, dirty)
          .join(uKeys, Seq(key), "left_anti")
          .unionByName(u)
      // defaults were already applied staging `uSeg` (user data); the
      // dirty-kept rows are a rewrite and must not be back-filled
      val written = newSegments(dir, newData, applyDefaults = false,
        snapOpt = Some(snap))
      val segs = written.segs
      // EVERYTHING after the rewrite segments are staged runs inside
      // their reclaim scope: a cdc job, segStats, or commit failure
      // must not leak dirty-set-sized dirs that no entry records and
      // no vacuum can find
      reclaimOnFailure(dir, segs) {
        // CHANGE DATA FEED (when enabled): MERGE decomposes into
        // update_preimage (matched target rows) + update_postimage
        // (their replacing update rows) + insert (unmatched updates) —
        // Delta's CDC classes for MERGE. All-insert merges record the
        // committed segments BY REFERENCE (they ARE the insert set).
        val cdc =
          if (!snap.cdfEnabled) Seq.empty
          else if (dirty.isEmpty) segs.map(s0 => (s0, "insert"))
          else stageCdc(dir) { buf =>
            val pre = segScan(spark, dir, snap, dirty, mergeSchema = true)
              .join(uKeys, Seq(key), "left_semi")
            buf += writeCdc(dir, pre, "update_preimage", snap)
            // matched/unmatched update rows, split on the PRE sidecar's
            // keys (changed-rows-sized, no third dirty-segment scan)
            val preKeys = applyMapping(
              stagedScan(spark, dir, snap, buf.head._1), snap)
              .select(col(key)).distinct()
            buf += writeCdc(dir, u.join(preKeys, Seq(key), "left_semi"),
              "update_postimage", snap)
            // write the inserts once, then drop the sidecar if it came
            // out empty (its footers' row counts, not a second
            // execution of the anti-join just to probe emptiness)
            val ins = writeCdc(dir, u.join(preKeys, Seq(key), "left_anti"),
              "insert", snap)
            if (stagedRows(spark, dir, ins._1) > 0)
              buf += ins
            else store(dir).deleteRecursively(s"$dir/${ins._1}")
          }
        val sidecars = cdc.collect { case (f, _) if f.startsWith("cdc-") => f }
        reclaimOnFailure(dir, sidecars) {
          commitOrReclaim(dir, "merge", segs, dirty, snap.version,
            segStatsMany(spark, dir, segs,
              (snap.partitionCols ++ statsCols).distinct,
              snap.withFiles(written.files)),
            extraLines = cdcLines(cdc), alsoReclaim = sidecars,
            retryPastAppends = true, files = written.files)
        }
      }
    } finally {
      // staging bytes are referenced by no version — reclaim eagerly
      store(dir).deleteRecursively(s"$dir/$uSeg")
    }
  }

  /** One WHEN clause of a general MERGE ([[mergeGeneral]]). Condition
    * and value expressions are SQL over the two row sides qualified as
    * `t` (target) and `s` (source) — `WHEN MATCHED AND t.cents <
    * s.cents THEN UPDATE SET cents = s.cents` becomes
    * `MergeUpdateClause(Some("t.cents < s.cents"),
    * Map("cents" -> "s.cents"))`. Clauses apply FIRST-MATCH-WINS
    * within their group (SQL MERGE semantics); a row no clause claims
    * is kept (matched / not-matched-by-source) or dropped
    * (not-matched source rows). */
  sealed trait MergeClause { def cond: Option[String] }
  /** UPDATE SET — columns absent from `sets` keep their target value
    * (partial SET). In a NOT MATCHED BY SOURCE clause the expressions
    * may reference `t` only (there is no source row — Catalyst
    * enforces the same on the SQL route). */
  case class MergeUpdateClause(cond: Option[String],
                               sets: Map[String, String]) extends MergeClause
  case class MergeDeleteClause(cond: Option[String]) extends MergeClause
  /** INSERT — columns absent from `values` fill from the table's
    * column DEFAULTs, else NULL (Delta's rule). */
  case class MergeInsertClause(cond: Option[String],
                               values: Map[String, String]) extends MergeClause

  /** General MERGE (Delta/SQL-standard shapes): conditional and
    * multiple WHEN MATCHED clauses (UPDATE with partial SET, DELETE),
    * conditional NOT MATCHED inserts, and NOT MATCHED BY SOURCE
    * (UPDATE/DELETE of target rows the source lacks) — the shapes the
    * full-row upsert [[merge]] deliberately refuses. Same key
    * contract: `ON t.key = s.key`, key-unique source (duplicate keys
    * here are REJECTED loud — with action semantics a duplicate would
    * multiply matched target rows, corruption rather than upsert
    * overwrite).
    *
    * Scale shape: the source is staged once; without NOT MATCHED BY
    * SOURCE clauses, candidate segments prune by the source's key
    * bounds and ONE distributed semi-join probe finds the
    * match-bearing ones — exactly [[merge]]'s cost. NMBS clauses act
    * on rows ABSENT from the source, which no stats can prune, so
    * their presence rewrites every live segment (Delta schedules the
    * same full scan); the Scaladoc price of the clause, not a bug.
    * The action-tagged full-outer join is staged ONCE and every
    * consumer (rewrite projection, each CDF class, the empty-result
    * probe) re-reads those bytes — no job re-runs the join.
    *
    * `srcKey` names the SOURCE side of the ON equality when it differs
    * from the target's (`ON t.id = s.customer_id`); default = `key`.
    * `targetSchema` supplies the target's columns when the table is
    * still EMPTY (the post-CREATE bootstrap MERGE): matched / NOT
    * MATCHED BY SOURCE clauses are then vacuous no-ops (no target
    * rows) and the insert clauses append — without it an empty table
    * rejects loud, because the output projection needs column types
    * and an empty log carries none. */
  def mergeGeneral(spark: SparkSession, dir: String, source: DataFrame,
                   key: String,
                   matched: Seq[MergeClause] = Nil,
                   notMatched: Seq[MergeInsertClause] = Nil,
                   notMatchedBySource: Seq[MergeClause] = Nil,
                   statsCols: Seq[String] = Nil,
                   srcKey: Option[String] = None,
                   targetSchema: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "MERGE needs at least one WHEN clause")
    matched.foreach {
      case _: MergeInsertClause => throw new IllegalArgumentException(
        "WHEN MATCHED takes UPDATE/DELETE clauses, not INSERT")
      case _ => ()
    }
    notMatchedBySource.foreach {
      case _: MergeInsertClause => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE takes UPDATE/DELETE, not INSERT")
      case _ => ()
    }
    val sKey = srcKey.getOrElse(key)
    // snapshotOrEmpty, not state: a freshly CREATEd managed table has
    // no log yet — with targetSchema the bootstrap MERGE claims slot 0
    val snap =
      if (targetSchema.nonEmpty) snapshotOrEmpty(dir) else state(dir)
    require(snap.live.nonEmpty || targetSchema.nonEmpty,
      s"MERGE into empty table $dir — the empty log carries no schema " +
        "to resolve the clauses against; pass targetSchema (the SQL " +
        "route does, from the catalog), or append the source instead")
    // no CDF-determinism guard here (unlike delete/update): those ops
    // re-evaluate the predicate in separate jobs (cdc scan, rewrite
    // scan) and a nondeterministic expression could diverge between
    // them — this op evaluates every clause exactly ONCE into the
    // staged action-tagged bytes, and the rewrite AND every cdc class
    // re-read those same bytes, so the decomposition is self-consistent
    // by construction
    // stage the source ONCE (raw bytes, arbitrary schema — never
    // committed, so no physical re-label / invariant pass)
    val uSeg = s"seg-${java.util.UUID.randomUUID}"
    LocalFs.writer(source).parquet(s"$dir/$uSeg")
    try {
      val s0 = stagedScan(spark, dir, snap, uSeg)
      require(s0.columns.contains(sKey), s"MERGE source lacks key '$sKey'")
      val dup = s0.agg(count(s0(sKey)).as("n"),
        countDistinct(s0(sKey)).as("d")).head()
      require(dup.getLong(0) == dup.getLong(1),
        s"MERGE source keys must be unique on '$sKey': ${dup.getLong(0)} " +
          s"rows, ${dup.getLong(1)} distinct — a duplicate key would " +
          "multiply its matched target row")
      val dirty =
        if (notMatchedBySource.nonEmpty) snap.live
        else keyedSegments(spark, dir, snap, s0, sKey, key)
      // target side: the dirty rows (logical columns); when nothing
      // matched the join degenerates to source-only rows, but the
      // TARGET SCHEMA is still needed for projections — a zero-row
      // plan over the live set carries it without reading data, and an
      // EMPTY table's comes from the caller's declared `targetSchema`
      val t0 =
        if (dirty.nonEmpty) segScan(spark, dir, snap, dirty, mergeSchema = true)
        else if (snap.live.nonEmpty)
          segScan(spark, dir, snap, snap.live, mergeSchema = true).limit(0)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          targetSchema.get)
      val cols = t0.columns.toSeq
      val colType = t0.schema.map(f => f.name -> f.dataType).toMap
      val tj = t0.withColumn("__graft_tp", lit(true)).as("t")
      val sj = s0.withColumn("__graft_sp", lit(true)).as("s")
      val joined = tj.join(sj,
        col(s"t.`$key`") === col(s"s.`$sKey`"), "full_outer")
      val tp = col("t.__graft_tp").isNotNull
      val sp = col("s.__graft_sp").isNotNull
      def condOf(c: MergeClause): Column =
        c.cond.map(s => coalesce(expr(s), lit(false))).getOrElse(lit(true))
      // ONE action discriminator per row: m<i> / b<i> (update|delete),
      // i<i> (insert), keep, drop — first-match-wins inside each group
      val mTags = matched.zipWithIndex.map { case (c, i) => (c, s"m$i") }
      val bTags = notMatchedBySource.zipWithIndex.map { case (c, i) => (c, s"b$i") }
      val iTags = notMatched.zipWithIndex.map { case (c, i) => (c, s"i$i") }
      val action = {
        val chain =
          mTags.map { case (c, tag) => (tp && sp && condOf(c), tag) } ++
          Seq((tp && sp, "keep")) ++
          bTags.map { case (c, tag) => (tp && !sp && condOf(c), tag) } ++
          Seq((tp && !sp, "keep")) ++
          iTags.map { case (c, tag) => (!tp && condOf(c), tag) }
        chain.tail.foldLeft(when(chain.head._1, chain.head._2)) {
          case (acc, (cond, tag)) => acc.when(cond, tag)
        }.otherwise("drop")
      }
      def updateValue(c: String, sets: Map[String, String]): Column =
        sets.get(c).map(s => expr(s).cast(colType(c)))
          .getOrElse(col(s"t.`$c`"))
      def insertValue(c: String, values: Map[String, String]): Column =
        values.get(c).orElse(snap.defaults.get(c))
          .map(s => expr(s).cast(colType(c)))
          .getOrElse(lit(null).cast(colType(c)))
      // the post-action value of every output column, one when-chain
      // mirroring the discriminator (delete/drop rows are filtered by
      // tag, their value lanes are never read)
      def outValue(c: String): Column = {
        val branches =
          (mTags ++ bTags).collect {
            case (u: MergeUpdateClause, tag) =>
              (col("__graft_action") === tag, updateValue(c, u.sets))
          } ++
          iTags.map { case (cl, tag) =>
            (col("__graft_action") === tag, insertValue(c, cl.values))
          }
        if (branches.isEmpty) col(s"t.`$c`")
        else branches.tail.foldLeft(
          when(branches.head._1, branches.head._2)) {
            case (acc, (p, v)) => acc.when(p, v)
          }.otherwise(col(s"t.`$c`"))
      }
      // stage the ACTION-TAGGED frame once: __graft_action + the
      // post-image (out_) and pre-image (pre_) lanes, disambiguated by
      // POSITION (t and s legitimately share column names)
      val tagSeg = s"seg-${java.util.UUID.randomUUID}"
      try {
        val tagged = joined.withColumn("__graft_action", action)
        val projection =
          Seq(col("__graft_action")) ++
          cols.zipWithIndex.map { case (c, i) =>
            outValue(c).as(s"__graft_out_$i") } ++
          (if (snap.cdfEnabled)
            cols.zipWithIndex.map { case (c, i) =>
              col(s"t.`$c`").as(s"__graft_pre_$i") }
           else Nil)
        LocalFs.writer(tagged.select(projection: _*)).parquet(s"$dir/$tagSeg")
        val staged = stagedScan(spark, dir, snap, tagSeg)
        val act = col("__graft_action")
        def outCols = cols.zipWithIndex.map { case (c, i) =>
          col(s"__graft_out_$i").as(c) }
        def preCols = cols.zipWithIndex.map { case (c, i) =>
          col(s"__graft_pre_$i").as(c) }
        val updateTags = (mTags ++ bTags).collect {
          case (_: MergeUpdateClause, tag) => tag }
        val deleteTags = (mTags ++ bTags).collect {
          case (_: MergeDeleteClause, tag) => tag }
        val insertTags = iTags.map(_._2)
        val survives = act.isin(("keep" +: (updateTags ++ insertTags)): _*)
        val newData = staged.filter(survives).select(outCols: _*)
        val written = newSegments(dir, newData, applyDefaults = false,
          snapOpt = Some(snap))
        val segs = written.segs
        reclaimOnFailure(dir, segs) {
          // CDF classes ride the staged tags: update pre/post images,
          // delete pre-images, inserts — cost ∝ changed rows
          val cdc =
            if (!snap.cdfEnabled) Seq.empty
            else stageCdc(dir) { buf =>
              def cls(tags: Seq[String], rows: DataFrame, t: String): Unit =
                if (tags.nonEmpty) {
                  val w = writeCdc(dir, rows, t, snap)
                  if (stagedRows(spark, dir, w._1) > 0)
                    buf += w
                  else store(dir).deleteRecursively(s"$dir/${w._1}")
                }
              cls(updateTags, staged.filter(act.isin(updateTags: _*))
                .select(preCols: _*), "update_preimage")
              cls(updateTags, staged.filter(act.isin(updateTags: _*))
                .select(outCols: _*), "update_postimage")
              cls(deleteTags, staged.filter(act.isin(deleteTags: _*))
                .select(preCols: _*), "delete")
              cls(insertTags, staged.filter(act.isin(insertTags: _*))
                .select(outCols: _*), "insert")
            }
          val sidecars = cdc.collect { case (f, _) if f.startsWith("cdc-") => f }
          reclaimOnFailure(dir, sidecars) {
            commitOrReclaim(dir, "merge", segs, dirty, snap.version,
              segStatsMany(spark, dir, segs,
                (snap.partitionCols ++ statsCols).distinct,
                snap.withFiles(written.files)),
              extraLines = cdcLines(cdc), alsoReclaim = sidecars,
              retryPastAppends = true, files = written.files)
          }
        }
      } finally store(dir).deleteRecursively(s"$dir/$tagSeg")
    } finally store(dir).deleteRecursively(s"$dir/$uSeg")
  }

  /** CHECK-constraint-enforced append (Delta's table constraints): the
    * batch is admitted only if EVERY row satisfies every predicate —
    * one distributed scan counts violations per constraint BEFORE any
    * commit; on violation nothing is committed and the staged bytes
    * are reclaimed (writer-side enforcement: readers never see a row
    * that breaks an invariant). Throws IllegalArgumentException naming
    * the violated constraints and their row counts. */
  def appendChecked(spark: SparkSession, df: DataFrame, dir: String,
                    constraints: Seq[String],
                    statsCols: Seq[String] = Nil): Int = {
    require(constraints.nonEmpty, "appendChecked without constraints: use append")
    // stage once so the checks and the commit read the same bytes even
    // if `df` is nondeterministic upstream; reclaim the staged bytes if
    // the check pass itself throws (e.g. a malformed constraint
    // expression), not just on a counted violation
    val snap = snapshotOrEmpty(dir)
    val written = newSegments(dir, df, snapOpt = Some(snap))
    val segs = written.segs
    val withSegs = snap.withFiles(written.files)
    if (segs.isEmpty)
      // partitioned zero-row batch staged nothing: commit the slot
      return commit(dir, "append", Seq.empty, Seq.empty,
        requireGov = Some(govFingerprint(snap)))
    reclaimOnFailure(dir, segs) {
      // constraints are written in logical terms; staged bytes are physical
      val staged = applyMapping(scanSegments(spark, dir, withSegs, segs), snap)
      // SQL CHECK semantics: a row violates only when the predicate is
      // explicitly FALSE (NULL passes, like Delta's constraints)
      // coalesce: an EMPTY batch sums to null, which must read as 0 violations
      val counts = staged.select(constraints.map(c =>
        coalesce(sum(when(not(coalesce(expr(c), lit(true))), 1L).otherwise(0L)),
          lit(0L)).as(c)): _*).head()
      val violated = constraints.zipWithIndex
        .map { case (c, i) => c -> counts.getLong(i) }.filter(_._2 > 0)
      if (violated.nonEmpty)
        throw new IllegalArgumentException("constraint violation(s): " +
          violated.map { case (c, n) => s"[$c] $n row(s)" }.mkString("; "))
      commit(dir, "append", segs, Seq.empty,
        stats = segStatsMany(spark, dir, segs,
          (snap.partitionCols ++ statsCols).distinct, withSegs),
        requireGov = Some(govFingerprint(snap)), files = written.files)
    }
  }

  /** Idempotent streaming append — the exactly-once `foreachBatch`
    * sink contract (Delta's txnAppId/txnVersion mechanics): the commit
    * entry records the micro-batch id in its op, and a batch id that is
    * ALREADY committed is skipped (returns None), so an at-least-once
    * replay after a sink failure cannot double-append. Committed batch
    * ids fold into checkpoints (the `streamop` lines), so the dedup
    * probe is O(checkpoint + tail), not a log replay. Defended against
    * CONCURRENT duplicates too (not just sequential retries): the
    * commit is conditional on the snapshot the dedup check read, so a
    * racing writer of the same batch id forces a conflict; the loser
    * re-reads, finds the op committed, and skips — never a double
    * append. Unrelated concurrent commits just retry the loop (each
    * iteration re-proves the batch id absent at a newer head), so the
    * blind-append liveness of a busy table is kept. */
  def appendStream(df: DataFrame, dir: String, batchId: Long,
                   statsCols: Seq[String] = Nil,
                   txnAppId: Option[String] = None): Option[Int] =
    writeStreamVia(df.sparkSession, dir, streamOp(txnAppId, batchId),
      statsCols, None, replace = false)(
      snap => newSegments(dir, df, snapOpt = Some(snap)))

  /** The committed-batch dedup KEY. `txnAppId` is Delta's
    * txnAppId/txnVersion split: batch ids are PER WRITER, so two
    * different streaming queries (each numbering its batches from 0)
    * writing to ONE table must not share a dedup namespace — without
    * the app id, the second query's first batches silently dedup
    * against the first query's and are DROPPED. The txlog streaming
    * sink passes the engine's stable query id (it survives restarts
    * with the checkpoint, and a foreachBatch body that passes the
    * `sql.streaming.queryId` local property commits under the SAME
    * key, so a query can move between the two and keep deduping);
    * foreachBatch callers of
    * the raw API pass their own pipeline id, or None for a
    * single-writer table (the legacy `stream-<batch>` key). */
  private def streamOp(txnAppId: Option[String], batchId: Long): String =
    txnAppId.fold(s"stream-$batchId")(a => s"stream-$a-$batchId")

  /** [[appendStream]] over a TASK-STAGED segment (the streaming
    * sink): identical dedup/commit contract; the already-written
    * staging is reclaimed when the batch id turns out committed. */
  private[graft] def appendStreamStaged(spark: SparkSession, dir: String,
      rawSeg: String, batchId: Long,
      statsCols: Seq[String] = Nil,
      txnAppId: Option[String] = None): Option[Int] =
    writeStreamVia(spark, dir, streamOp(txnAppId, batchId), statsCols,
      Some(rawSeg), replace = false)(
      snap => finalizeStagedSegments(spark, dir, rawSeg, snap))

  /** The one body of [[appendStream]] and [[overwriteStream]] and their
    * task-staged forms. `replace` removes the live set of the snapshot
    * each attempt is conditioned on, re-resolved on every retry, so a
    * racing append is replaced rather than resurrected. */
  private def writeStreamVia(spark: SparkSession, dir: String, op: String,
      statsCols: Seq[String], preStaged: Option[String], replace: Boolean)(
      stage: State => Staged): Option[Int] =
    commitStreamOp(spark, dir, op, statsCols, preStaged)(stage) {
      (snap, staged, stats) =>
        commit(dir, op, staged.segs, if (replace) snap.live else Seq.empty,
          Some(snap.version), stats = stats, files = staged.files)
    }

  /** The exactly-once commit of stream op `op`, the one loop every
    * stream write (append, Complete-mode replace, MoR upsert) commits
    * through. An op the head already records is skipped (None), and
    * the task-staged bytes `preStaged` of a replayed sink batch are
    * reclaimed. Otherwise the batch is staged against that head, its
    * stats are computed once (physical names are stable for the
    * table's lifetime, so retries need no re-agg), and `attempt` runs
    * against the snapshot its conditional commit is conditioned on —
    * the SAME snapshot the dedup check read, so a racing writer of the
    * same op moves the head and conflicts instead of double-applying.
    * On a conflict the head is re-read: if the op is now committed, a
    * concurrent duplicate won the slot, and the staged segments are
    * reclaimed (None); if governance changed, the staged bytes were
    * validated against a stale contract, and the call fails loud so
    * the engine's batch retry restages (the same gate as [[commit]]'s
    * blind path); any other commit just retries at the new head, which
    * keeps the blind-append liveness of a busy table. Any other exit
    * that does not commit reclaims the staged segments too: no entry
    * records them, so vacuum never could. */
  private def commitStreamOp(spark: SparkSession, dir: String, op: String,
      statsCols: Seq[String], preStaged: Option[String])(
      stage: State => Staged)(
      attempt: (State, Staged, Map[(String, String), ColStats]) => Int): Option[Int] = {
    val snap = state(dir)
    if (snap.streamOps.contains(op)) {
      // an at-least-once replay of a committed batch: a foreachBatch
      // caller has staged nothing yet; the sink's writers already
      // did — reclaim
      preStaged.foreach(reclaimUnlessLive(dir, snap, _))
      return None
    }
    val gov = govFingerprint(snap)
    val staged = stage(snap)
    reclaimOnFailure(dir, staged.segs) {
      val stats = segStatsMany(spark, dir, staged.segs,
        (snap.partitionCols ++ statsCols).distinct, snap.withFiles(staged.files))
      @annotation.tailrec
      def loop(at: State): Option[Int] =
        (try Right(attempt(at, staged, stats))
         catch { case _: java.util.ConcurrentModificationException => Left(state(dir)) }
        ) match {
          case Right(v) => Some(v)
          case Left(snap) if snap.streamOps.contains(op) =>
            staged.segs.foreach(s0 => store(dir).deleteRecursively(s"$dir/$s0"))
            None
          case Left(snap) if govFingerprint(snap) != gov =>
            throw new java.util.ConcurrentModificationException(
              s"$op against $dir: table governance changed after the " +
                "batch was staged — the retried batch restages")
          case Left(snap) => loop(snap)
        }
      loop(snap)
    }
  }

  /** Idempotent streaming MERGE-ON-READ upsert — [[appendStream]]'s
    * contract composed with [[mergeMoR]]: the foreachBatch sink shape
    * for streaming CDC APPLY into the table (each micro-batch upserts
    * its keys; an at-least-once replay of an already-committed batch
    * id is skipped, so the upsert is exactly-once per batch). The
    * batch id rides in the op (`stream-<id>`), folds into checkpoints
    * like every stream op, and the dedup probe stays
    * O(checkpoint + tail). Write cost per batch ∝ |batch| (tombstones
    * + the batch segment) — never a target rewrite. The dedup check
    * runs in [[commitStreamOp]] against the SAME snapshot the
    * conditional commit is conditioned on, so a cross-process duplicate
    * of the same batch id conflicts instead of double-applying (the
    * loser re-reads, sees the committed op, and skips). */
  def mergeStreamMoR(spark: SparkSession, dir: String, updates: DataFrame,
                     key: String, batchId: Long,
                     statsCols: Seq[String] = Nil,
                     txnAppId: Option[String] = None): Option[Int] = {
    val op = streamOp(txnAppId, batchId)
    commitStreamOp(spark, dir, op, statsCols, None)(
      snap => newSegment(dir, updates, snapOpt = Some(snap)))(
      mergeMoRAt(spark, dir, key, op, stream = true))
  }

  /** Idempotent streaming OVERWRITE — [[appendStream]]'s contract for
    * Complete-mode sinks (a streaming aggregation that REPLACES the
    * table every trigger): the batch id rides in the op, an
    * already-committed id is skipped, and the conditional commit makes
    * a concurrent duplicate conflict loud and skip on its retry. The
    * remove set is the conditioned snapshot's live set, re-resolved on
    * each unrelated-conflict retry, so a racing append is replaced
    * rather than resurrected. */
  def overwriteStream(df: DataFrame, dir: String, batchId: Long,
                      statsCols: Seq[String] = Nil,
                      txnAppId: Option[String] = None): Option[Int] =
    writeStreamVia(df.sparkSession, dir, streamOp(txnAppId, batchId),
      statsCols, None, replace = true)(
      snap => newSegments(dir, df, snapOpt = Some(snap)))

  /** [[overwriteStream]] over a TASK-STAGED segment (the v2 streaming
    * sink's Complete mode): identical dedup/replace contract. */
  private[graft] def overwriteStreamStaged(spark: SparkSession, dir: String,
      rawSeg: String, batchId: Long,
      statsCols: Seq[String] = Nil,
      txnAppId: Option[String] = None): Option[Int] =
    writeStreamVia(spark, dir, streamOp(txnAppId, batchId), statsCols,
      Some(rawSeg), replace = true)(
      snap => finalizeStagedSegments(spark, dir, rawSeg, snap))

  /** Replace the table contents with `df`. Conflicts (fails) if any
    * commit lands between the snapshot and this commit — the replaced
    * set would be stale. */
  def overwrite(df: DataFrame, dir: String): Int = {
    val snap = snapshotOrEmpty(dir)
    val staged = newSegments(dir, df, snapOpt = Some(snap))
    // the stats job runs inside the reclaim scope like every sibling
    // write path: a transient stats failure must not leak staged dirs
    // no entry records and no vacuum can find
    reclaimOnFailure(dir, staged.segs) {
      commitOrReclaim(dir, "overwrite", staged.segs, snap.live, snap.version,
        segStatsMany(df.sparkSession, dir, staged.segs, snap.partitionCols,
          snap.withFiles(staged.files)), files = staged.files)
    }
  }

  /** One alternative range of a conjunct: [lo, hi] (None = unbounded),
    * each side strict (`<`, `>`) or inclusive (`=`, `<=`, `>=`, IN). */
  private[graft] final case class Alt(lo: Option[String], loStrict: Boolean,
                                      hi: Option[String], hiStrict: Boolean)

  /** One recognized top-level conjunct: its logical column, its literal
    * kind (see [[statComparable]]) and its alternative ranges, an OR:
    * one for a comparison, one point per element for IN. */
  private[graft] final case class Conj(column: String, kind: Char, alts: Seq[Alt])

  /** A predicate as [[conjunctBoundsOf]] reads it: per top-level
    * conjunct, its bounds, or None when the conjunct is unrecognized. */
  private[graft] type Bounds = Seq[Option[Conj]]

  /** [[conjunctBoundsOf]] over a SQL predicate string, parsed to the
    * UNRESOLVED form; an unparseable predicate reads as no conjuncts. */
  private[graft] def prunableConjuncts(spark: SparkSession, predicate: String): Bounds = {
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(predicate)
      catch { case scala.util.control.NonFatal(_) => return Seq.empty }
    conjunctBoundsOf(Seq(parsed))
  }

  /** The ONE predicate walker of the txlog: per top-level AND term, its
    * (logical column, literal kind, alternative ranges) when the term is
    * `col {=,<,<=,>,>=} literal` (either operand order), `col BETWEEN lo
    * AND hi` (desugared to the >=/<= pair) or `col IN (...)` (an OR of
    * point ranges, ≤ 1024 elements, all literals of one kind), and None
    * for anything else (OR, NOT, function calls, casts, non-literal
    * operands). Each range keeps its strictness. Its two readers:
    * exclusion ([[triageByBounds]]) skips a segment whose recorded
    * [min,max] rules out every alternative of ANY recognized conjunct,
    * ignoring strictness and unrecognized conjuncts (both only ever
    * keep more); the all-match proof ([[allMatchByStats]]) needs EVERY
    * conjunct recognized, strictness intact.
    *
    * It reads the string-predicate surface ([[prunableConjuncts]]:
    * unresolved attributes) and the DSv2 pushdown surface (the
    * optimizer's RESOLVED expressions — AttributeReference, internal
    * literal values like UTF8String, whose toString is the same
    * cast-to-string domain the stats recorded) alike.
    *
    * Literal/stat TYPE-FAMILY guard (correctness, not pedantry): a
    * bound is only usable when the literal compares in the same domain
    * the stats compare in ([[literalBound]], [[statComparable]]).
    * `long_col = '05'` under a lexicographic compare would falsely
    * prune the segment whose row int-compares equal, and a
    * non-canonical date string (`'2024-1-5'`) ordered against canonical
    * ISO stats can prune a segment that holds matches. A falsely-pruned
    * DML segment is silent row loss, so every unprovable pairing is
    * rejected. */
  private[graft] def conjunctBoundsOf(
      predicates: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Bounds = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    def split(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(a, b) => split(a) ++ split(b)
      // the parser leaves BETWEEN unresolved ('between(col, lo, hi) —
      // its replacement is only built at analysis); desugar to the
      // >=/<= pair ourselves, plus the RuntimeReplaceable node for
      // programmatically-built trees
      case f: UnresolvedFunction
        if f.nameParts.map(_.toLowerCase) == Seq("between") &&
          f.arguments.size == 3 && !f.isDistinct && f.filter.isEmpty =>
        Seq(ce.GreaterThanOrEqual(f.arguments(0), f.arguments(1)),
          ce.LessThanOrEqual(f.arguments(0), f.arguments(2)))
      case ce.Between(input, lower, upper, _) =>
        Seq(ce.GreaterThanOrEqual(input, lower), ce.LessThanOrEqual(input, upper))
      case other => Seq(other)
    }
    def attr(e: ce.Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        Some(a.nameParts.head)
      case a: ce.AttributeReference => Some(a.name)
      case _ => None
    }
    // `col op v` reads as mk(v), the swapped `v op col` as flip(v)
    def cmp(a: ce.Expression, b: ce.Expression,
            mk: String => Alt, flip: String => Alt): Option[Conj] =
      attr(a).flatMap(c => literalBound(b).map { case (v, k) => Conj(c, k, Seq(mk(v))) })
        .orElse(attr(b).flatMap(c =>
          literalBound(a).map { case (v, k) => Conj(c, k, Seq(flip(v))) }))
    def point(v: String) = Alt(Some(v), false, Some(v), false)
    def above(strict: Boolean)(v: String) = Alt(Some(v), strict, None, false)
    def below(strict: Boolean)(v: String) = Alt(None, false, Some(v), strict)
    predicates.flatMap(split).map {
      case ce.EqualTo(a, b) => cmp(a, b, point, point)
      case ce.GreaterThan(a, b) => // col > v | v > col ≡ col < v
        cmp(a, b, above(strict = true), below(strict = true))
      case ce.GreaterThanOrEqual(a, b) =>
        cmp(a, b, above(strict = false), below(strict = false))
      case ce.LessThan(a, b) => // col < v | v < col ≡ col > v
        cmp(a, b, below(strict = true), above(strict = true))
      case ce.LessThanOrEqual(a, b) =>
        cmp(a, b, below(strict = false), above(strict = false))
      case ce.In(a, list) if list.nonEmpty && list.size <= 1024 =>
        // IN = OR of point probes; usable only when every element is a
        // literal of ONE kind (bounded at 1024 to cap per-segment
        // driver metadata work — the same bound overwriteDynamic
        // enforces so its IN-shaped predicate is always recognized)
        attr(a).flatMap { c =>
          val ls = list.map(literalBound)
          if (ls.exists(_.isEmpty)) None
          else ls.flatten.map(_._2).distinct match {
            case Seq(k) => Some(Conj(c, k, ls.flatten.map { case (v, _) => point(v) }))
            case _ => None
          }
        }
      case _ => None
    }
  }

  /** True iff `tn` (a stat column's recorded type name) and a literal
    * kind from [[conjunctBoundsOf]] compare in the same domain.
    *
    * Kinds (r16, ADVICE r15): `N` = exact numeric literal (integral /
    * decimal — compares exactly in any numeric stat domain), `F` =
    * float/double literal — pairs ONLY with float/double stat columns:
    * Spark evaluates a fractional-literal-vs-integral-column predicate
    * in the DOUBLE domain, where a long beyond 2^53 can round ONTO the
    * literal; an exact BigDecimal compare against integral stats would
    * then prune (or all-match-drop) a segment whose rows the predicate
    * actually matches — silent row loss both directions. `S` = string,
    * `D`/`T`/`U` = date / timestamp / timestamp_ntz literals rendered
    * to the stats' own cast-to-string domain (ISO forms, byte-ordered
    * chronologically — see [[literalBound]]). */
  private def statComparable(tn: String, kind: Char): Boolean = {
    val fpTn = tn == "float" || tn == "double"
    val exactTn = Set("byte", "short", "integer", "long").contains(tn) ||
      tn.startsWith("decimal")
    kind match {
      case 'N' => exactTn || fpTn
      case 'F' => fpTn
      case 'S' => tn == "string"
      case 'D' => tn == "date"
      case 'T' => tn == "timestamp"
      case 'U' => tn == "timestamp_ntz"
      case _   => false
    }
  }

  /** True when the session's DEFAULT string collation is binary.
    * Non-binary defaults (UTF8_LCASE) make every byte-order string
    * proof unsound — `col = 'apple'` matches 'APPLE' rows that byte
    * stats order far from the literal — so the walker refuses string
    * bounds entirely under them (ADVICE r15). */
  private def binaryCollationDefault: Boolean =
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.session.collation.default", "UTF8_BINARY")
      .equalsIgnoreCase("UTF8_BINARY")
    catch { case scala.util.control.NonFatal(_) => true }

  /** Render a date/timestamp literal through Spark's OWN Cast-to-string
    * — bit-identical to the `min(col).cast("string")` form the stats
    * recorded, so the byte-order compare is chronologically exact.
    * Guards: 4-digit-year renderings only (years < 0 or > 9999 render
    * with signs/5 digits and break byte order — refused, conservative);
    * TimestampType (tz-AWARE) only under a UTC session — its rendering
    * bakes in the session zone, so classification across differently-
    * zoned sessions would compare apples to oranges (the engine pins
    * UTC everywhere; other zones just fall back to the scan path).
    * Date / timestamp_ntz render zone-independently. */
  private def renderTemporalLiteral(
      l: org.apache.spark.sql.catalyst.expressions.Literal): Option[String] = {
    import org.apache.spark.sql.types._
    val zone = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    if (l.dataType == TimestampType && zone != "UTC") return None
    val rendered = org.apache.spark.sql.catalyst.expressions
      .Cast(l, StringType, Some(zone)).eval(null)
    Option(rendered).map(_.toString).filter(s =>
      s.length >= 5 && s.charAt(4) == '-' &&
        s.substring(0, 4).forall(c => c >= '0' && c <= '9'))
  }

  /** The literal recognizer of [[conjunctBoundsOf]]: Some((rendered
    * value, kind)) for literals that compare soundly
    * against recorded stats, None for everything else (strictly
    * conservative — an unrecognized literal just means a scan). */
  private def literalBound(
      e: org.apache.spark.sql.catalyst.expressions.Expression
      ): Option[(String, Char)] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.types._
    e match {
      case l: ce.Literal if l.value != null => l.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             _: DecimalType => Some((l.value.toString, 'N'))
        case FloatType | DoubleType => Some((l.value.toString, 'F'))
        case StringType if binaryCollationDefault =>
          Some((l.value.toString, 'S'))
        case DateType => renderTemporalLiteral(l).map((_, 'D'))
        case TimestampType => renderTemporalLiteral(l).map((_, 'T'))
        case TimestampNTZType => renderTemporalLiteral(l).map((_, 'U'))
        case _ => None
      }
      case _ => None
    }
  }

  /** Live segments that can possibly hold a match of `bounds`, from
    * log metadata alone — the ONE place a txlog decides a segment can
    * be skipped. The bounds come from a SQL predicate
    * ([[prunableConjuncts]]: DML triage, [[readWhere]]), the
    * optimizer's resolved filters (DSv2 pushdown) or a typed
    * one-column probe ([[probeBounds]]). Each recognized conjunct is
    * intersected with the per-segment stats via [[canPrune]] and, for point
    * alternatives, the Bloom sidecars; segments without stats on a
    * conjunct's column stay in (conservative). This is what makes a
    * date-sliced `delete`/`replaceWhere`/`update` on a 100 TB table
    * touch only the handful of segments whose [min,max] intersect the
    * slice instead of reading the predicate columns of EVERY live row. */
  private def triageByBounds(snap: State, bounds: Bounds,
      spark: Option[SparkSession] = None): Seq[String] = {
    // unrecognized conjuncts and strictness only ever keep more: a
    // segment excluded for `c >= v` is excluded for `c > v` too
    val conjs = bounds.flatten
    if (conjs.isEmpty) return snap.live
    // the conjunct is an OR of its ranges: skippable only when EVERY
    // alternative is excluded. An alternative is excluded by RANGE
    // stats (min/max outside it) or — for the point alternatives
    // equality and IN produce — by a BLOOM sidecar PROVING the value
    // absent. An unparseable probe (e.g. `long_col = 'abc'`) proves
    // nothing — keep, never throw.
    // `probe` answers (seg, physCol, value): Some(false) = proven
    // absent; anything else keeps.
    def excluded(seg: String,
                 probe: (String, String, String) => Option[Boolean]): Boolean =
      conjs.exists { case Conj(c, kind, alts) =>
        val p = snap.physCol(c)
        val st = snap.stats.get((seg, p))
        val statsOk = st.exists(s0 => statComparable(s0.typeName, kind))
        alts.nonEmpty && alts.forall { case Alt(lo, _, hi, _) =>
          val byRange = statsOk &&
            (try canPrune(st, lo, hi)
             catch { case _: NumberFormatException => false })
          // same type-family guard as the range compare: a numeric
          // literal probed against a STRING column's bloom would hash
          // "5" while the row stored "05" — equal under the
          // predicate's numeric cast, absent to the bloom: row loss
          def byBloom = lo.isDefined && lo == hi &&
            snap.blooms.get((seg, p))
              .exists(b => statComparable(b.typeName, kind)) &&
            probe(seg, p, lo.get).contains(false)
          byRange || byBloom
        }
      }
    val noBloom = (_: String, _: String, _: String) => Option.empty[Boolean]
    val driverProbe = (seg: String, p: String, v: String) =>
      snap.blooms.get((seg, p)).flatMap(_.mightContain(v))
    // range phase over everything (in-memory metadata), then blooms:
    // DRIVER-side lazy sidecar reads while the survivors fit
    // [[bloomProbeCap]] (each probe is one metadata-file fetch); above
    // the cap, ONE DISTRIBUTED job maps over the candidates' sidecar
    // paths instead (the 100k-segment needle-in-haystack case where
    // ranges don't discriminate — O(candidates) tiny reads belong on
    // executors, not serialized through the driver). Metadata-only
    // callers with no session in hand keep the conservative skip
    // (only ever KEEPS segments)
    val rangeKept = snap.live.filterNot(seg => excluded(seg, noBloom))
    if (rangeKept.size <= bloomProbeCap.value)
      rangeKept.filterNot(seg => excluded(seg, driverProbe))
    else spark match {
      case None => rangeKept
      case Some(sp) =>
        val tasks = (for {
          Conj(c, kind, alts) <- conjs
          v <- alts.collect { case Alt(Some(lo), _, Some(hi), _) if lo == hi => lo }
          seg <- rangeKept
          p = snap.physCol(c)
          b <- snap.blooms.get((seg, p))
          if statComparable(b.typeName, kind)
        } yield ((seg, p, b.file, b.typeName, b.m, b.k), v))
          .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toSeq
        val answers = bloomProbeJob(sp, tasks)
        rangeKept.filterNot(seg =>
          excluded(seg, (s0, p, v) => answers.getOrElse((s0, p, v), None)))
    }
  }

  /** ONE Spark job probing Bloom sidecars EXECUTOR-side — the
    * above-cap form of the lazy driver probe: each task re-opens its
    * sidecar via [[LogStore.forPath]] (nothing driver-held is
    * serialized) into a task-local [[BloomStats]], so it decodes by
    * the driver probe's own rules (truncated/missing sidecar → no
    * answer → keep), and ships back
    * one Option[Boolean] per (segment, column, value) — O(candidates)
    * booleans, never bitsets. Tasks are keyed (seg, physCol, sidecar
    * file, typeName, m, k) with their distinct probe values so each
    * sidecar is read ONCE per task regardless of how many IN-list
    * values probe it. */
  private def bloomProbeJob(spark: SparkSession,
      tasks: Seq[((String, String, String, String, Int, Int), Seq[String])]
      ): Map[(String, String, String), Option[Boolean]] = {
    if (tasks.isEmpty) return Map.empty
    val slices = math.max(1, math.min(tasks.size,
      spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(tasks, slices)
      .flatMap { case ((seg, p, file, tn, m, k), values) =>
        val b = BloomStats(tn, m, k, LogStore.forPath(file), file)
        values.map(v => ((seg, p, v), b.mightContain(v)))
      }.collect().toMap
  }

  /** Test hook: the segment subset an arbitrary-predicate DML triage
    * would scan (entry names, possibly external clone refs). */
  private[graft] def triageCandidatesOf(spark: SparkSession, dir: String,
                                        predicate: String): Seq[String] =
    triageByBounds(state(dir), prunableConjuncts(spark, predicate), Some(spark))

  /** Opaque resolved snapshot for the DSv2 connector: ONE metadata
    * replay (+ footer merge) serves BOTH `Table.schema()` and every
    * scan build of the same Table — without it each query paid two
    * full replays, and a multi-scan query (self-join) could see two
    * different table versions. The caller (TxLogTable) PINS the
    * result for its lifetime. `schema` is the LOGICAL view (mapping
    * labels applied, dropped columns hidden); `physSchema` is the same
    * fields under their PHYSICAL storage names (what the segment bytes
    * carry), positionally parallel to `schema`. */
  private[graft] final class Dsv2Snapshot private[TxLog] (
      private[TxLog] val snap: State,
      private[graft] val schema: org.apache.spark.sql.types.StructType,
      private[graft] val physSchema: org.apache.spark.sql.types.StructType) {
    /** physical (stored) name → logical label, for mapped columns. */
    private[graft] def renames: Map[String, String] = snap.renames
    /** logical label → physical (stored) name. */
    private[graft] def physByLogical: Map[String, String] = snap.physByLogical
    private[graft] def mapped: Boolean =
      snap.renames.nonEmpty || snap.dropped.nonEmpty
  }

  /** One triage-surviving segment as the DSv2 connector consumes it:
    * the segment's path, its log entry name (an external clone ref
    * keeps its own root), and its deletion-vector sidecars as (sidecar
    * entry name, commit-recorded tombstone rows; -1 legacy-unknown). */
  private[graft] final case class Dsv2Seg(path: String, name: String,
      dvs: Seq[(String, Long)])

  /** True when `dir` holds no committed live data — the case where a
    * catalog-declared schema (CREATE TABLE ... USING txlog) stands in
    * for resolution so the first INSERT can match and a pre-INSERT
    * scan is empty by construction. */
  private[graft] def dsv2Empty(dir: String): Boolean =
    snapshotOrEmpty(dir).live.isEmpty

  private[graft] def dsv2Resolve(spark: SparkSession, dir: String,
                                 asOf: Int): Dsv2Snapshot = {
    val s = state(dir, asOf)
    require(s.live.nonEmpty, s"table $dir is empty as of version $asOf")
    // the LOGICAL schema (mapping labels applied, dropped columns
    // hidden) — what read() resolves, derived from the same replay —
    // plus its physical twin (dropped hidden, storage names kept):
    // the delegate parquet scan reads bytes, which carry physical names
    val raw = tableSchema(spark, dir, s)
    val phys = org.apache.spark.sql.types.StructType(
      raw.filterNot(f => s.dropped(f.name)))
    new Dsv2Snapshot(s, logicalSchema(s, raw), phys)
  }

  /** Scan surface for the DSv2 batch connector
    * (`spark.read.format("txlog")`): the live segments surviving
    * stats+bloom pruning for the optimizer's resolved filter `exprs` —
    * the same triage every other arbitrary-predicate surface uses, so a
    * pushed `day = X` filter opens only X's segments. Deletion vectors
    * and column mapping are carried as PLAN METADATA (per-segment DV
    * sidecar refs here, the physical↔logical name maps on
    * [[Dsv2Snapshot]]) for the connector to apply — a DV-filtering
    * reader wrapper and a schema relabel — so the SQL surface stays
    * usable on exactly the tables that saw MoR deletes or renames. */
  private[graft] def dsv2ScanInfo(spark: SparkSession, dir: String, asOf: Int,
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      resolved: Dsv2Snapshot): Seq[Dsv2Seg] = {
    val snap = resolved.snap
    if (asOf >= 0)
      requireRetained(dir, asOf, snap.live)
    triageByBounds(snap, conjunctBoundsOf(exprs), Some(spark)).map { seg =>
      Dsv2Seg(segPath(dir, seg), seg, snap.dvs.getOrElse(seg, Seq.empty))
    }
  }

  /** Driver-side tombstone coordinates for the DSv2 DV-filtering scan:
    * exactly the sidecar relation [[segScan]] anti-joins
    * ([[tombstones]], keyed by the table's current location), collected
    * (the connector pushes per-FILE position sets into its readers; the
    * caller has already gated the total on the commit-recorded counts,
    * so this collect is metadata-bounded like the read-side broadcast).
    * Deduplication is the reader's binary search — duplicate
    * coordinates across sidecars are harmless there. */
  private[graft] def dsv2Tombstones(spark: SparkSession, dir: String,
      segs: Seq[Dsv2Seg]): Array[(String, Long)] =
    tombstones(spark, dir, segs.flatMap(_.dvs.map(_._1)).distinct, segs.map(_.name))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))

  /** Per-segment LIVE-row (any-match, all-match) flags for `predicate`,
    * computed by ONE distributed job — not a probe job per segment: at
    * 100k-segment scale, O(segments) job submissions is a driver/
    * scheduler bottleneck regardless of how little data each probe
    * reads. The scan is STATS-PRE-PRUNED ([[triageByBounds]]): only
    * segments whose recorded [min,max] may intersect the predicate's
    * prunable conjuncts are read at all, so a date-sliced DML touches
    * the slice, never the table. The single pass reads only the
    * predicate's columns (parquet pruning), applies DVs, and ships
    * O(segments) flag rows to the driver. Segments with no live rows
    * emit nothing (group absent = clean); pruned segments are provably
    * matchless and equally absent. Keys are ENTRY names (possibly
    * external clone refs). */
  private def matchCounts(spark: SparkSession, dir: String, snap: State,
                          predicate: String): Map[String, (Boolean, Boolean)] = {
    val bounds = prunableConjuncts(spark, predicate)
    val cands = triageByBounds(snap, bounds, Some(spark))
    // stats-PROVEN all-match segments classify from METADATA and skip
    // the scan: a partition-predicate DELETE/REPLACE WHERE on a
    // partitioned table (every segment single-valued, min=max,
    // zero-null recorded) drops whole segments having read NOTHING
    val proven = allMatchByStats(snap, bounds, cands)
    matchCountsOn(spark, dir, snap, cands.filterNot(proven),
      _ => expr(predicate)) ++ proven.iterator.map(_ -> (true, true))
  }

  /** Candidate segments a predicate, walked into `bounds` by
    * [[conjunctBoundsOf]], PROVABLY matches EVERY row of, from log
    * metadata alone — the metadata-only half of the DML triage
    * (exclusion's dual). Sufficient proof, strictly conservative:
    * every top-level conjunct must be recognized, and per conjunct the
    * segment's stats must record ZERO nulls (a null row fails every
    * comparison) and one alternative range covering [min,max] in the
    * comparable type domain, WITH ITS STRICTNESS (`col > v` over min=v
    * is NOT all-match). Anything else — unrecognized conjunct,
    * missing/legacy stats (nulls=-1), type-family mismatch, unparseable
    * probe — proves nothing and the segment takes the ordinary scan. */
  private def allMatchByStats(snap: State, bounds: Bounds,
                              cands: Seq[String]): Set[String] = {
    if (cands.isEmpty || bounds.isEmpty || bounds.exists(_.isEmpty)) return Set.empty
    def covers(tn: String, mn: String, mx: String, alt: Alt): Boolean = {
      // lo covers min when lo < min (always) or lo == min (inclusive
      // only); dually for hi/max — strict bounds exclude the boundary
      def loOk = alt.lo.forall(l =>
        statLt(tn, l, mn) || (!alt.loStrict && !statLt(tn, mn, l)))
      def hiOk = alt.hi.forall(h =>
        statLt(tn, mx, h) || (!alt.hiStrict && !statLt(tn, h, mx)))
      try loOk && hiOk catch { case _: NumberFormatException => false }
    }
    cands.filter { seg =>
      bounds.flatten.forall { case Conj(c, kind, alts) =>
        snap.stats.get((seg, snap.physCol(c))).exists(st =>
          st.nulls == 0L &&
            // FLOATING-POINT columns never classify all-match: Spark
            // evaluates a float-vs-fractional-literal predicate in the
            // DOUBLE domain where (double)0.1f != 0.1 — a float-domain
            // "covers" proof here would drop rows the predicate does
            // not actually match. (For EXCLUSION canPrune's float
            // compare is the conservative direction; the all-match
            // dual is not.) Integrals/decimals/strings compare exactly
            // in one domain, so they stay provable.
            st.typeName != "float" && st.typeName != "double" &&
            statComparable(st.typeName, kind) &&
            alts.exists(covers(st.typeName, st.min, st.max, _)))
      }
    }.toSet
  }

  /** The general form: flags over an explicit segment subset (e.g.
    * stats-pruned candidates), with the predicate built FROM the scan
    * (a range condition needs the scanned column's type to cast its
    * bounds). A row hits when the predicate is TRUE — NULL is a
    * non-hit, mirroring SQL DELETE/UPDATE/replaceWhere semantics.
    * (any, all) min/max flags instead of hit COUNTS: the DML ops only
    * ever ask "any match?" (rewrite) and "all match?" (drop
    * wholesale), so the aggregate ships two booleans per segment. */
  private def matchCountsOn(spark: SparkSession, dir: String, snap: State,
                            segs: Seq[String],
                            predicate: DataFrame => Column
                           ): Map[String, (Boolean, Boolean)] = {
    if (segs.isEmpty) return Map.empty
    val entryOf = segs.map(n => bareName(n) -> n).toMap
    val scan = segScan(spark, dir, snap, segs, mergeSchema = true,
      withMeta = true)
    val hit = when(predicate(scan), 1).otherwise(0)
    scan.groupBy(segOfFile(col("__file")).as("seg"))
      .agg(max(hit).as("any"), min(hit).as("all"))
      .collect()
      .map(r => entryOf.getOrElse(r.getString(0), r.getString(0)) ->
        (r.getInt(1) == 1, r.getInt(2) == 1))
      .toMap
  }

  /** Write `rows` as a CHANGE-FEED sidecar (`cdc-*`, physical column
    * names like segment bytes — the feed re-labels on read) and return
    * (file, changeType) for the commit's `cdc=` line. Cost ∝ the
    * changed rows, never the table — Delta's CDC-file mechanics. */
  private def writeCdc(dir: String, rows: DataFrame, changeType: String,
                       snap: State): (String, String) = {
    val name = s"cdc-${java.util.UUID.randomUUID}"
    // self-reclaiming: a mid-job failure must not leave a partial
    // sidecar no entry records and no vacuum can ever find
    try LocalFs.writer(toPhysical(rows, snap)).mode("overwrite").parquet(s"$dir/$name")
    catch {
      case scala.util.control.NonFatal(e) =>
        store(dir).deleteRecursively(s"$dir/$name"); throw e
    }
    (name, changeType)
  }

  /** Run `body` accumulating cdc sidecars; reclaim every
    * already-written one if a LATER write (or anything else in the
    * body) fails — without this, a two-sidecar op like update leaks
    * its pre-image file when the post-image job dies, invisibly to
    * vacuum forever (only entry-recorded cdc files age out). */
  private def stageCdc(dir: String)(
      body: scala.collection.mutable.ArrayBuffer[(String, String)] => Unit
  ): Seq[(String, String)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    try { body(buf); buf.toSeq }
    catch {
      case scala.util.control.NonFatal(e) =>
        buf.foreach(f => store(dir).deleteRecursively(s"$dir/${f._1}"))
        throw e
    }
  }

  private def cdcLines(cdc: Seq[(String, String)]): Seq[String] =
    cdc.map { case (f, t) => s"cdc=${enc(f)}|${enc(t)}" }

  /** Copy-on-write delete of rows matching `predicate`: the triage is
    * STATS-PRE-PRUNED ([[triageByBounds]] — a `day = X` slice opens
    * only segments whose recorded [min,max] intersect X) and runs as
    * ONE job ([[matchCounts]]) to find the match-bearing segments,
    * then ONE multi-path scan rewrites exactly those; clean segments
    * carry over untouched by reference. SQL DELETE semantics: only
    * rows where the predicate is TRUE are deleted — a NULL-evaluating
    * row is KEPT
    * (`NOT(pred)` alone would silently drop it, because `NOT(NULL)` is
    * NULL; [[deleteMoR]] keeps such rows by construction, and CoW and
    * MoR must agree). */
  def delete(spark: SparkSession, dir: String, predicate: String): Int = {
    val snap = state(dir)
    if (snap.cdfEnabled)
      requireCdfDeterministic(spark, snap, tableSchema(spark, dir, snap),
        Map("DELETE predicate" -> predicate))
    val counts = matchCounts(spark, dir, snap, predicate)
    val dirty = snap.live.filter(seg => counts.get(seg).exists(_._1))
    if (dirty.isEmpty)
      return commitOrReclaim(dir, "delete", Seq.empty, Seq.empty,
        snap.version, Map.empty, retryPastAppends = true)
    // ALL-MATCH segments drop WHOLESALE (metadata removal, bytes never
    // scanned for the rewrite — the replaceWhere classification): a
    // partition-predicate delete on a partitioned table removes whole
    // value-labeled segments with zero row rewrites; only straddlers
    // (segments mixing kept and deleted rows) rewrite
    val (wholesale, straddling) = dirty.partition(seg => counts(seg)._2)
    // CHANGE DATA FEED (when enabled): the deleted PRE-IMAGES ride in
    // a cdc sidecar recorded by the same commit — exact row-level CDF
    // for copy-on-write deletes, cost ∝ deleted rows
    val cdc =
      if (!snap.cdfEnabled) Seq.empty
      else Seq(writeCdc(dir, segScan(spark, dir, snap, dirty,
        mergeSchema = true).filter(coalesce(expr(predicate), lit(false))),
        "delete", snap))
    reclaimOnFailure(dir, cdc.map(_._1)) {
      val adds =
        if (straddling.isEmpty) NothingStaged
        else newSegments(dir,
          segScan(spark, dir, snap, straddling, mergeSchema = true)
            .filter(not(coalesce(expr(predicate), lit(false)))),
          applyDefaults = false, snapOpt = Some(snap))
      reclaimOnFailure(dir, adds.segs) {
        commitOrReclaim(dir, "delete", adds.segs, dirty, snap.version,
          segStatsMany(spark, dir, adds.segs, snap.partitionCols,
            snap.withFiles(adds.files)),
          extraLines = cdcLines(cdc), alsoReclaim = cdc.map(_._1),
          retryPastAppends = true, files = adds.files)
      }
    }
  }

  /** DYNAMIC PARTITION OVERWRITE (Hive/Delta's
    * `partitionOverwriteMode=dynamic`): replace exactly the partitions
    * PRESENT in the batch, leave every other partition untouched — the
    * idempotent-backfill shape (`INSERT OVERWRITE` re-running a day
    * re-lands that day only). Requires a PARTITIONED table; compiles
    * the batch's distinct partition tuples (one small distinct job,
    * result metadata-bounded and capped loud) into a disjunction
    * predicate and delegates to [[replaceWhere]] — so touched
    * partitions drop WHOLESALE from metadata (every split segment is
    * single-valued; `allMatchByStats` proves it without a scan),
    * straddling unsplit segments rewrite, and the incoming frame lands
    * split per tuple. `df` executes twice (tuple probe + staging): a
    * nondeterministic frame whose second run emits a partition the
    * probe never saw fails replaceWhere's frame validation LOUD rather
    * than silently widening the overwrite. */
  def overwriteDynamic(spark: SparkSession, dir: String, df: DataFrame,
                       statsCols: Seq[String] = Nil): Int = {
    val snap = state(dir)
    require(snap.partitionCols.nonEmpty,
      s"dynamic partition overwrite needs a PARTITIONED table — $dir " +
        "declares no partition columns (use overwrite/replaceWhere)")
    val pCols = snap.partitionCols
    val tuples = df.select(pCols.map(c => col(s"`$c`")): _*)
      .distinct().collect()
    if (tuples.isEmpty)
      // empty batch overwrites nothing: commit the slot (idempotent
      // loaders still observe a version per run)
      return commitOrReclaim(dir, "replace_where", Seq.empty, Seq.empty,
        snap.version, Map.empty)
    // 1024 = the triage walker's IN-recognition bound: staying inside
    // it keeps the touched-partition classification METADATA-ONLY (a
    // wider batch would silently degrade the triage to a full-table
    // scan — reject loud instead and point at the whole-table op)
    require(tuples.length <= 1024,
      s"dynamic overwrite touches ${tuples.length} partitions — above " +
        "the 1024 metadata bound; use overwrite() (whole table) or " +
        "batch the backfill")
    def sqlLit(v: Any): String =
      org.apache.spark.sql.catalyst.expressions.Literal(v).sql
    // ONE partition column (the common spec) compiles to the `IN`
    // shape the triage walker recognizes (point alternatives), so
    // exclusion AND all-match both classify from metadata; a
    // multi-column tuple disjunction has no conjunct form — correct
    // but conservatively scan-classified
    val pred =
      if (pCols.size == 1) {
        val c = pCols.head
        val (nullT, valT) = tuples.partition(_.isNullAt(0))
        (Option.when(valT.nonEmpty)(
          s"`$c` IN (${valT.map(r => sqlLit(r.get(0))).mkString(", ")})") ++
         Option.when(nullT.nonEmpty)(s"`$c` IS NULL")).mkString(" OR ")
      } else tuples.map { r =>
        pCols.zipWithIndex.map { case (c, i) =>
          val v = r.get(i)
          if (v == null) s"`$c` IS NULL" else s"`$c` = ${sqlLit(v)}"
        }.mkString("(", " AND ", ")")
      }.mkString(" OR ")
    replaceWhere(spark, dir, pred, df, statsCols)
  }

  /** Predicate-scoped atomic OVERWRITE (Delta's `replaceWhere`, the
    * general form of dynamic partition overwrite): ONE commit replaces
    * every row matching `predicate` with `df`. Enforces, like Delta,
    * that every incoming row satisfies the predicate — otherwise the
    * op would smuggle rows outside its declared replacement frame.
    * Copy-on-write and segment-bounded: all-match segments drop
    * WHOLESALE (metadata removal, their bytes never rewritten),
    * no-match segments carry by reference, and only straddling
    * segments are rewritten (one distributed DV-applied scan keeping
    * the non-matching rows). Backfilling one day of a date-sliced
    * 100 TB table therefore removes that day's segments by name,
    * rewrites only boundary segments that mix days, and writes the
    * new slice — never touches the other 99.9%. */
  def replaceWhere(spark: SparkSession, dir: String, predicate: String,
                   df: DataFrame, statsCols: Seq[String] = Nil): Int = {
    val snap = state(dir)
    if (snap.cdfEnabled)
      requireCdfDeterministic(spark, snap, tableSchema(spark, dir, snap),
        Map("replaceWhere predicate" -> predicate))
    // one STATS-PRE-PRUNED triage job classifies the candidate
    // segments: all live rows match -> drop wholesale; none -> carry
    // by reference; mixed -> rewrite. Segments whose recorded stats
    // exclude the predicate's prunable conjuncts never reach the scan
    // (a `day = X` backfill reads only the segments that may hold X).
    // (A fully-tombstoned segment emits no flags and carries by
    // reference — no logical change either way.)
    val counts = matchCounts(spark, dir, snap, predicate)
    val withMatch = snap.live.filter(seg => counts.get(seg).exists(_._1))
    val (dropped, straddling) = withMatch.partition(seg => counts(seg)._2)
    // staging, stats and commit all inside one reclaim scope: a failure
    // anywhere (incl. the frame validation below, or a table-constraint
    // violation staging the SECOND segment) deletes every
    // already-staged segment, never leaking
    val adds = scala.collection.mutable.ArrayBuffer.empty[String]
    var addFiles = Map.empty[String, SegFiles]
    val cdc = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    try {
      // CHANGE DATA FEED (when enabled): the REPLACED rows' pre-images
      // ride in a cdc sidecar (cost ∝ replaced rows); the incoming
      // frame's inserts are recorded by REFERENCE to its own staged
      // segment below — no second copy of the new data
      if (snap.cdfEnabled && withMatch.nonEmpty)
        cdc += writeCdc(dir, segScan(spark, dir, snap, withMatch,
          mergeSchema = true).filter(coalesce(expr(predicate), lit(false))),
          "delete", snap)
      if (straddling.nonEmpty) {
        // the kept rows are those where the predicate is NOT TRUE —
        // `NOT(pred)` alone would silently DROP a NULL-evaluating row
        // (NOT(NULL) is NULL), losing rows that matched neither the
        // replacement frame nor the incoming data
        val kept = newSegments(dir, segScan(spark, dir, snap, straddling,
          mergeSchema = true)
            .filter(not(coalesce(expr(predicate), lit(false)))),
          applyDefaults = false, snapOpt = Some(snap))
        adds ++= kept.segs
        addFiles ++= kept.files
      }
      // stage the incoming frame ONCE, then validate the STAGED bytes:
      // `df` executes exactly one time, so a nondeterministic upstream
      // cannot pass validation with one set of rows and commit another
      // (the appendChecked pattern). The check counts rows whose
      // predicate is not TRUE — a NULL-evaluating row is OUTSIDE the
      // declared replacement frame and must be rejected too.
      val incoming = newSegments(dir, df, snapOpt = Some(snap))
      val dfSegs = incoming.segs
      adds ++= dfSegs
      addFiles ++= incoming.files
      if (dfSegs.nonEmpty) {
        val staged = applyMapping(
          scanSegments(spark, dir, snap.withFiles(incoming.files), dfSegs), snap)
        val vc = staged.agg(count(lit(1)).as("n"),
          coalesce(sum(when(not(coalesce(expr(predicate), lit(false))), 1L)
            .otherwise(0L)), lit(0L)).as("bad")).head()
        if (vc.getLong(1) > 0)
          throw new IllegalArgumentException(
            s"replaceWhere: ${vc.getLong(1)} incoming row(s) do not " +
              s"satisfy ($predicate)")
        if (vc.getLong(0) == 0) { // empty incoming frame: nothing to add
          dfSegs.foreach { s0 =>
            adds -= s0
            store(dir).deleteRecursively(s"$dir/$s0")
          }
        } else if (snap.cdfEnabled) {
          // by reference: the segments ARE the insert set
          dfSegs.foreach(s0 => cdc += ((s0, "insert")))
        }
      }
      val allStatsCols = (snap.partitionCols ++ statsCols).distinct
      val stats =
        if (allStatsCols.isEmpty) Map.empty[(String, String), ColStats]
        else segStatsMany(spark, dir, adds.toSeq, allStatsCols,
          snap.withFiles(addFiles))
      commit(dir, "replace_where", adds.toSeq, dropped ++ straddling,
        Some(snap.version), stats, extraLines = cdcLines(cdc.toSeq),
        files = addFiles)
    } catch {
      case scala.util.control.NonFatal(e) =>
        (adds ++ cdc.collect { case (f, _) if f.startsWith("cdc-") => f })
          .foreach(seg => store(dir).deleteRecursively(s"$dir/$seg"))
        throw e
    }
  }

  /** Size-tiered SMALL-FILE COMPACTION (OPTIMIZE's bin-packing mode —
    * the incremental companion to [[compact]]/[[optimize]]): live
    * segments whose on-disk footprint is under `smallBytes` are
    * bin-packed into `ceil(Σ smallSizes / targetBytes)` segments of
    * roughly `targetBytes` each (`targetBytes` defaults to
    * `smallBytes`); larger segments carry by reference, so the rewrite
    * is bounded by the small TAIL, not the table. The maintenance op
    * for streaming-ingest tables, where every micro-batch commit lands
    * a tiny segment and the small-file count otherwise grows without
    * bound — and exactly the case where the tail itself grows to
    * thousands of segments, so the rewrite is ONE distributed job
    * (`repartition(bins)` + per-part-file renames via the shared
    * optimize staging tail), never a single-task funnel: a nightly
    * compaction of a 10k-segment tail spreads across the cluster
    * instead of pushing tens of GB through one task. ([[compact]]'s
    * `coalesce(1)` is different on purpose: "consolidate into ONE
    * segment" is its declared semantic; bounded consolidation belongs
    * here or in [[optimize]].) Segment sizes come from filesystem
    * metadata (no data read to decide); the scan is DV-applied, so a
    * small dirty segment's tombstones are materialized away with it.
    * None when fewer than 2 small segments (nothing to gain). */
  def compactSmall(spark: SparkSession, dir: String, smallBytes: Long,
                   statsCols: Seq[String] = Nil,
                   targetBytes: Long = 0L): Option[Int] = {
    val snap = state(dir)
    val sized = snap.live.map(seg =>
      seg -> refStore(dir, seg).sizeOf(segPath(dir, seg)))
    val small = sized.filter(_._2 < smallBytes)
    if (small.size < 2) return None
    val target = if (targetBytes > 0) targetBytes else smallBytes
    val bins = math.max(1L, (small.map(_._2).sum + target - 1) / target).toInt
    val merged = segScan(spark, dir, snap, small.map(_._1), mergeSchema = true)
      .repartition(bins)
    Some(stageAndCommitClustered(spark, dir, merged, small.map(_._1),
      snap, statsCols, op = "compact_small"))
  }

  /** Consolidate the live set into one segment — no logical change.
    * Conflicts (fails) on any concurrent commit, like [[delete]]. */
  def compact(spark: SparkSession, dir: String): Int = {
    val snap = state(dir)
    require(snap.live.nonEmpty, s"compact of empty table $dir")
    // DV-applied scan: compaction materializes tombstones away.
    // Partitioned tables consolidate to ONE SEGMENT PER TUPLE (the
    // declared layout bounds "one segment" — this is also how unsplit
    // streaming-ingest segments regain it)
    val all = segScan(spark, dir, snap, snap.live, mergeSchema = true).coalesce(1)
    val staged = newSegments(dir, all, applyDefaults = false,
      snapOpt = Some(snap))
    reclaimOnFailure(dir, staged.segs) {
      commitOrReclaim(dir, "compact", staged.segs, snap.live, snap.version,
        segStatsMany(spark, dir, staged.segs, snap.partitionCols,
          snap.withFiles(staged.files)),
        retryPastAppends = true, files = staged.files)
    }
  }

  /** Incremental read: ONLY the segments commit `version` ADDED — the
    * commit-by-commit consumption pattern of a downstream pipeline
    * (for an append-only table this is change-data-capture; a delete/
    * compact commit's add set is its rewrite output, so consumers that
    * must distinguish logical changes check the entry's `op`). Rows
    * carry the head's LOGICAL column names, as [[read]] and
    * [[readChangesSince]] do: the head state's mapping relabels them
    * and hides dropped columns. Metadata: the commit's entry plus the
    * head state; segments the log records plan with no listing or
    * inference job. */
  def readCommit(spark: SparkSession, dir: String, version: Int): DataFrame = {
    if (!store(dir).exists(entryPath(dir, version)))
      throw new IllegalArgumentException(
        s"version $version does not exist in $dir (head=${headVersion(dir)})")
    val e = readEntry(dir, version)
    // a ZERO-ROW append commits its version with an empty add set
    // (appendWithStats' unprunable-segment skip): an incremental
    // consumer driving per-version readCommit must get the empty
    // frame it always got, not an exception; other add-less commits
    // (metadata ops, MoR DVs) stay loud — their "changes" are not an
    // add set
    if (e.add.isEmpty && e.remove.isEmpty && e.op == "append")
      return read(spark, dir, asOf = version).limit(0)
    require(e.add.nonEmpty, s"commit $version of $dir added no segments")
    requireRetained(dir, version, e.add)
    val hs = state(dir)
    applyMapping(scanSegments(spark, dir, hs, e.add), hs)
  }

  /** Typed retention error for HISTORICAL reads whose bytes a vacuum
    * reclaimed — "version N was vacuumed", not a mid-plan
    * PATH_NOT_FOUND that reads like corruption. Only called on
    * explicitly historical paths (time travel, readCommit, the change
    * feeds): the head read stays zero-overhead, a vacuum never
    * reclaims head bytes, and the historical existence probe is
    * O(that version's segments) of driver metadata. */
  private def requireRetained(dir: String, version: Int,
                              names: Seq[String]): Unit = {
    val gone = missingAdds(dir, names)
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"version $version of $dir was vacuumed (${gone.size} segment(s) " +
          s"reclaimed, e.g. ${gone.head}) — retention no longer covers it. " +
          "Increase vacuum retention to keep deeper time travel.")
  }

  /** Retention vacuum: physically deletes segments that are not live
    * in ANY version newer than `head - keepVersions` (the retention
    * horizon). Time travel to vacuumed versions stops working — the
    * Delta VACUUM trade — but every retained version still replays
    * exactly, because a segment referenced by any retained snapshot is
    * kept. Returns the reclaimed (or, with `dryRun`, reclaimABLE —
    * nothing deleted) owned segment and DV-sidecar names. Driver-side
    * O(commits +
    * segments) metadata work — vacuum is rare maintenance, and the
    * all-adds-ever set it needs is intrinsically a full-log fold (it
    * deliberately does NOT delete unrecorded dirs, so a concurrent
    * writer's staging segments are never vacuumed from under it);
    * data deletion is per-directory. */
  def vacuum(dir: String, keepVersions: Int = 2,
             dryRun: Boolean = false): Seq[String] = {
    require(keepVersions >= 1, "must keep at least the head version")
    val st = store(dir)
    val head = headVersion(dir)
    if (head < 0) return Seq.empty
    val horizon = math.max(0, head - keepVersions + 1)
    val horizonStates = (horizon to head).map(v => state(dir, v))
    val retained = horizonStates.flatMap(_.live).toSet
    // a DV sidecar is retained while ANY retained snapshot applies it
    // to a live segment
    val retainedDvs = horizonStates.flatMap(s =>
      s.live.flatMap(seg => s.dvs.getOrElse(seg, Seq.empty).map(_._1))).toSet
    val log = entries(dir)
    val all = log.flatMap(_.add).toSet
    // EXTERNAL references (shallow-clone borrows) are dropped from the
    // log like any dead segment but their BYTES belong to the source
    // table — this table's vacuum must never reach outside its own dir
    val doomedAll = (all -- retained).toSeq.sorted
    val doomed = doomedAll.filterNot(isExternal)
    val deadDvs = (log.flatMap(_.dvs.map(_._2)).toSet -- retainedDvs)
      .toSeq.sorted.filterNot(isExternal)
    // change-feed sidecars belong to their COMMIT, not to any live
    // set: they age out with the version horizon (a CDF read inside
    // retention still resolves; older history degrades exactly like
    // time travel). Only `cdc-*` files are reclaimable — an insert
    // line referencing a data segment by name is governed by ordinary
    // segment liveness above.
    val deadCdc = (log.filter(_.version < horizon).flatMap(_.cdc.map(_._1)).toSet --
        log.filter(_.version >= horizon).flatMap(_.cdc.map(_._1)).toSet)
      .toSeq.sorted.filter(_.startsWith("cdc-"))
    // DRY RUN (Delta's `VACUUM ... DRY RUN`): report what a real run
    // would reclaim — same computation, zero deletions — so retention
    // changes can be audited before bytes disappear
    if (dryRun) return doomed ++ deadDvs ++ deadCdc
    // loop-invariant: one log parse, not one per doomed segment
    val bloomFiles = log.flatMap(_.blooms).groupBy(_._1._1)
    doomedAll.foreach { seg =>
      if (!isExternal(seg)) st.deleteRecursively(s"$dir/$seg")
      // a dead segment's bloom sidecars are equally dead — and they
      // are OWNED storage even when the segment is an external ref
      // (ANALYZE on a clone writes its own .bloom files into the
      // clone's log dir keyed to the borrowed name)
      bloomFiles.getOrElse(seg, Nil).foreach(b => st.deleteIfExists(b._2.file))
    }
    deadDvs.foreach(dv => st.deleteRecursively(s"$dir/$dv"))
    deadCdc.foreach(c => st.deleteRecursively(s"$dir/$c"))
    doomed ++ deadDvs ++ deadCdc
  }

  /** TIME-BASED retention vacuum (Delta's `VACUUM … RETAIN n HOURS`,
    * composing with in-commit timestamps): keep every snapshot whose
    * ADJUSTED commit instant falls inside the retention window — plus
    * the snapshot that was CURRENT at the window's edge, so "read the
    * table as it was `retainMillis` ago" keeps working right up to the
    * boundary — and reclaim storage referenced by nothing newer.
    * `asOfMillis` is injectable for determinism (tests pin it to
    * recorded commit instants); production callers omit it. A window
    * predating the first commit retains everything. Delegates to the
    * version-count [[vacuum]] so the two retention dialects share one
    * reclamation engine (live-set union, DV sidecar liveness,
    * external-ref ownership). */
  def vacuumRetain(dir: String, retainMillis: Long,
                   asOfMillis: Long = System.currentTimeMillis,
                   dryRun: Boolean = false): Seq[String] = {
    require(retainMillis >= 0, s"negative retention $retainMillis")
    val head = headVersion(dir)
    if (head < 0) return Seq.empty
    val cutoff = asOfMillis - retainMillis
    val horizon =
      if (cutoff < commitTimestamp(dir, 0)) 0
      else versionAsOfTimestamp(dir, cutoff)
    vacuum(dir, keepVersions = head - horizon + 1, dryRun = dryRun)
  }

  /** Change data feed for append-only consumption: every row ADDED by
    * commits in (`fromVersion`, head], tagged with `_commit_version`
    * and `_commit_op` — the incremental-sync surface a downstream
    * pipeline polls ("give me everything since the version I last
    * processed"). PURE REARRANGEMENTS ([[RearrangeOps]]: optimize/
    * compact/localize/dv_coalesce) change no logical row and emit
    * NOTHING — a nightly OPTIMIZE must not re-feed the whole table to
    * every poller. Content-changing rewrites (CoW delete/update/merge,
    * replace_where) surface their rewrite OUTPUT rows tagged with the
    * op, so consumers that must not re-ingest logically-old rows
    * filter on it (the append-only-table contract makes this exact for
    * append/stream commits). Column names are the head's LOGICAL
    * labels (dropped columns hidden), like the streaming source's. One
    * scan per new commit's add set and one entry read per new commit —
    * nothing re-reads older segments. */
  def readChangesSince(spark: SparkSession, dir: String,
                       fromVersion: Int): DataFrame = {
    val st = store(dir)
    val newer = Iterator.from(math.max(0, fromVersion + 1))
      .takeWhile(v => st.exists(entryPath(dir, v)))
      .map(v => readEntry(dir, v))
      .filter(e => e.add.nonEmpty && !RearrangeOps(e.op))
      .toSeq
    if (newer.isEmpty) // a poll with nothing new: empty, schema-preserving
      return noChanges(spark, read(spark, dir, mergeSchema = true).schema)
    val hs = state(dir)
    newer.map { e =>
      requireRetained(dir, e.version, e.add)
      // mergeSchema + allowMissingColumns: an add-column commit must not
      // break the feed; pre-evolution rows surface null for new columns
      applyMapping(commitScan(spark, dir, hs, e, e.add, mergeSchema = true), hs)
    }.reduce(_ unionByName(_, allowMissingColumns = true))
  }

  /** Segments `segs` of commit `e` — its add set, cdc sidecars or
    * pre-image segments — read through [[scanSegments]] (physical
    * names) and tagged `_commit_version` and `_commit_op`: the one
    * segment read of the change surfaces. */
  private def commitScan(spark: SparkSession, dir: String, s: State, e: Entry,
      segs: Seq[String], mergeSchema: Boolean = false,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    scanSegments(spark, dir, s, segs, mergeSchema, schema)
      .withColumn("_commit_version", lit(e.version.toLong))
      .withColumn("_commit_op", lit(e.op))

  /** The change frame of a poll that found nothing: `data` and the
    * commit tags, no rows. */
  private def noChanges(spark: SparkSession,
                        data: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), data)
      .withColumn("_commit_version", lit(0L))
      .withColumn("_commit_op", lit(""))

  /** The stream source's add-set batch: each commit's add set read with
    * the explicit physical `schema`, relabeled through `s`'s mapping. */
  private[sources] def addSets(spark: SparkSession, dir: String, s: State,
      commits: Seq[Entry], schema: org.apache.spark.sql.types.StructType): DataFrame =
    commits.map(e =>
      relabel(commitScan(spark, dir, s, e, e.add, schema = Some(schema)), s.renames)
    ).reduce(_ unionByName _)

  /** `s` with the scan record of the segments `commits` added, read
    * from their own `file=` lines — a stream's per-batch record without
    * a state replay. A segment whose schema id neither `s` nor
    * `commits` define stays undescribed: its scan takes the listing
    * path. */
  private[sources] def withCommits(s: State, commits: Seq[Entry]): State =
    s.withFiles(segFilesOf(commits.flatMap(_.files),
      (s.files.valuesIterator.map(f => f.schemaId -> f.schema).toMap ++
        commits.flatMap(_.schemas)).get))

  /** What the row-level change feed reads of commit `e`: its cdc
    * sidecars when it recorded them, else its add set plus the DV
    * sidecars and the base segments their pre-images resolve against. */
  private[sources] def changeReads(e: Entry): Seq[String] =
    if (e.cdc.nonEmpty) e.cdc.map(_._1)
    else (e.add ++ e.dvs.map(_._1) ++ e.dvs.map(_._2)).distinct

  /** Row-level CHANGE DATA FEED (Delta's CDF surface, completing the
    * add-only [[readChangesSince]]): every row-level change of the
    * commits in `(fromVersion, head]`, tagged `_commit_version`,
    * `_commit_op`, and `_change_type`:
    *
    *  - `insert` — rows added by append/stream/merge/rewrite commits
    *    (content-changing rewrites surface their output op-tagged, as
    *    in readChangesSince — the append-only-consumer contract; PURE
    *    REARRANGEMENTS ([[RearrangeOps]]: optimize/compact/localize/
    *    dv_coalesce) change no row and emit NOTHING; on a CDF-ENABLED
    *    table a range reaching back over an UNRECORDED content rewrite
    *    fails typed unless `coarseRewrites=true` — mixing exact cdc
    *    rows with rewrite output in one result would feed phantom
    *    inserts);
    *  - `delete` — the PRE-IMAGES of rows tombstoned by a
    *    `delete_mor`/`merge_mor` deletion vector, resolved by joining
    *    the sidecar's (file, pos) coordinates back to the — still
    *    immutable — segment bytes;
    *  - `update_preimage` / `update_postimage` — an `update_mor`
    *    commit's tombstoned old images and appended new images.
    *
    * A MoR merge surfaces as delete+insert pairs (the standard CDC
    * decomposition when the matched keys aren't re-derived); a CoW
    * merge under [[enableChangeDataFeed]] records the richer
    * update_preimage / update_postimage / insert classes in its cdc
    * sidecars, and every cdc-recording commit's sidecars are emitted
    * VERBATIM in place of its add set. Cost is O(new commits' adds +
    * their tombstone coordinates + the dirty segments' scan) — nothing
    * re-reads the log prefix. */
  def readChangeFeed(spark: SparkSession, dir: String,
                     fromVersion: Int,
                     coarseRewrites: Boolean = false): DataFrame = {
    val data = read(spark, dir, mergeSchema = true).schema
    changeFeedSlice(spark, dir, fromVersion + 1, headVersion(dir), data,
        coarseRewrites)
      .getOrElse(noChanges(spark, data).withColumn("_change_type", lit("")))
  }

  /** Commit ops that provably change NO logical row — the table is
    * byte-rearranged (re-clustered, bin-packed, localized, sidecars
    * merged) but reads before and after are identical. The change-feed
    * surfaces emit nothing for them; the add-set streaming source
    * treats them as rewrites (fail loud or skip). */
  private[sources] val RearrangeOps: Set[String] =
    Set("optimize", "optimize_where", "compact", "compact_small",
      "localize", "dv_coalesce")

  /** The BOUNDED change-feed body shared by [[readChangeFeed]] and the
    * streaming CDF source: change rows for the commits in `[from, to]`,
    * read with the EXPLICIT `data` schema — no per-call inference job;
    * pre-evolution segments surface null for later-added columns.
    * `None` when no commit in range carries changes (the caller picks
    * its own empty-frame shape). Cost is O(range's adds + tombstone
    * coordinates + dirty-segment scan); nothing re-reads the log
    * prefix, which is what keeps tailing a 100 TB table's changes
    * proportional to the changes. */
  def changeFeedSlice(spark: SparkSession, dir: String, from: Int, to: Int,
                      data: org.apache.spark.sql.types.StructType,
                      coarseRewrites: Boolean = false
                     ): Option[DataFrame] = {
    val st = store(dir)
    // `data` carries LOGICAL labels; segment bytes carry PHYSICAL names
    // (column mapping) — scan physical, re-label per part at the end
    val hs = state(dir)
    val physData = org.apache.spark.sql.types.StructType(
      data.map(f => f.copy(name = hs.physCol(f.name))))
    val inRange = (math.max(0, from) to to).iterator
      .filter(v => st.exists(entryPath(dir, v)))
      .map(v => readEntry(dir, v))
      .toSeq
    // PURE REARRANGEMENTS change zero rows and contribute zero
    // change rows: optimize/compact re-adds would surface as phantom
    // `insert`s (a nightly OPTIMIZE re-inserting the whole table
    // into every CDF consumer) and dv_coalesce's re-recorded
    // sidecars as phantom `delete` pre-images of rows tombstoned
    // versions ago (Delta's CDF likewise emits nothing for OPTIMIZE)
    val newer = inRange
      .filter(e => e.add.nonEmpty || e.dvs.nonEmpty || e.cdc.nonEmpty)
      .filterNot(e => RearrangeOps(e.op))
    // MIXED-EXACTNESS guard: a range that mixes EXACT cdc rows with a
    // content CHANGE that recorded NO row-level record (a CoW DML
    // committed before enableChangeDataFeed, a restore — their add
    // sets are rewrite OUTPUT, kept rows included — or a REMOVE-ONLY
    // drop like an empty-frame replaceWhere, whose deleted rows would
    // otherwise vanish from the feed without a trace) would silently
    // corrupt a change consumer: phantom inserts on one side, silently
    // kept-deleted rows on the other. Checked over the UNFILTERED
    // range — a remove-only commit emits nothing, so the emission
    // filter above can never see it. Fail typed by default (the
    // reference likewise refuses CDF reads over pre-enablement
    // ranges); `coarseRewrites=true` opts into the op-tagged
    // degradation. Fires when the table's flag is ON at head OR the
    // range itself carries a cdc-recording commit — the second arm
    // catches enable→exact-DML→DISABLE→rewrite histories, where the
    // head flag is off but the mix is just as corrupting. Tables that
    // never enabled CDF keep the documented op-tagged contract
    // unchanged — no exact cdc rows exist to mix with.
    if (!coarseRewrites && (hs.cdfEnabled || inRange.exists(_.cdc.nonEmpty))) {
      inRange.find(e => e.cdc.isEmpty && e.remove.nonEmpty &&
          !RearrangeOps(e.op))
        .foreach { e =>
          throw new IllegalStateException(
            s"change feed over $dir versions [$from, $to]: commit " +
              s"${e.version} (op=${e.op}) changes content with no " +
              "recorded row-level changes (committed before " +
              "enableChangeDataFeed, or an op that records none) — " +
              "emitting its add set (if any) would feed phantom inserts " +
              "and its removed rows would vanish from the feed. Start " +
              s"the feed at fromVersion >= ${e.version}, or pass " +
              "coarseRewrites=true to accept op-tagged degradation for " +
              "such commits.")
        }
    }
    def tagged(df: DataFrame, ct: String): DataFrame =
      relabel(df, hs.renames).withColumn("_change_type", lit(ct))
    def scan(e: Entry, segs: Seq[String]): DataFrame =
      commitScan(spark, dir, hs, e, segs, schema = Some(physData))
    val parts = newer.flatMap { e =>
      // typed retention error, not a mid-job FileNotFound: the log
      // plans recorded segments without touching their directories, and
      // vacuum reclaims segments, DV and cdc sidecars past the version
      // horizon, so a feed read past retention degrades exactly like
      // time travel
      requireRetained(dir, e.version, changeReads(e))
      // a commit that RECORDED its row-level changes (CoW DML under
      // enableChangeDataFeed) is exact by construction: emit its cdc
      // sidecars with their recorded change types and NOTHING else —
      // the add set is rewrite output (kept rows / post-DML segments),
      // not changes
      if (e.cdc.nonEmpty)
        e.cdc.groupBy(_._2).toSeq.sortBy(_._1).map { case (ct, fs) =>
          tagged(scan(e, fs.map(_._1)), ct)
        }
      else {
      val added =
        if (e.add.isEmpty) None
        else Some(tagged(scan(e, e.add),
          if (e.op == "update_mor") "update_postimage" else "insert"))
      val removed =
        if (e.dvs.isEmpty) None
        else {
          // pre-images from the raw segment bytes (the current state
          // has them tombstoned; the segments themselves are immutable)
          // (a semi join matches each row once: no tombstone dedupe)
          val segs = e.dvs.map(_._1).distinct
          val pre = dvJoin(scan(e, segs),
            tombstones(spark, dir, e.dvs.map(_._2).distinct, segs),
            e.dvs.map(_._3), "left_semi").drop("__file", "__pos")
          Some(tagged(pre, if (e.op == "update_mor") "update_preimage" else "delete"))
        }
      added.toSeq ++ removed.toSeq
      }
    }
    if (parts.isEmpty) None
    else Some(parts.reduce(_ unionByName _)
      .select((data.fieldNames.toSeq ++
        Seq("_commit_version", "_commit_op", "_change_type")).map(col): _*))
  }

  /** ANALYZE (compute statistics): backfills min/max stats and Bloom
    * filters for LIVE segments that lack them, as a METADATA-ONLY
    * commit (empty add/remove — replay is a no-op; the state fold
    * unions entries in order, so the analyze entry's stats attach to
    * the old segments). The maintenance op that upgrades a table
    * written before indexing was configured — without rewriting a byte
    * of data. Returns the committed version, or None if every live
    * segment already has the requested metadata. */
  def analyze(spark: SparkSession, dir: String,
              statsCols: Seq[String], bloomCols: Seq[String] = Nil): Option[Int] = {
    val snap = state(dir)
    val needStats = snap.live.filter(seg =>
      statsCols.exists(c => !snap.stats.contains((seg, snap.physCol(c)))))
    val needBlooms = snap.live.filter(seg =>
      bloomCols.exists(c => !snap.blooms.contains((seg, snap.physCol(c)))))
    if (needStats.isEmpty && needBlooms.isEmpty) return None
    // on any failure after sidecars start landing (e.g. a statsCol
    // missing from an old segment), reclaim the written .bloom files —
    // no entry records them, so vacuum could never collect them
    val written = scala.collection.mutable.ArrayBuffer[String]()
    try {
      val newStats = needStats.foldLeft(Map.empty[(String, String), ColStats]) {
        (m, seg) => m ++ segStats(spark, dir, seg, statsCols, snap)
      }
      val newBlooms = needBlooms.foldLeft(Map.empty[(String, String), BloomStats]) {
        (m, seg) =>
          val bs = segBlooms(spark, dir, seg, bloomCols, snap)
          written ++= bs.values.map(_.file)
          m ++ bs
      }
      Some(commit(dir, "analyze", Seq.empty, Seq.empty, Some(snap.version),
        newStats, newBlooms))
    } catch {
      case scala.util.control.NonFatal(e) =>
        written.foreach(store(dir).deleteIfExists(_))
        throw e
    }
  }

  /** METADATA-ONLY COLUMN RENAME (Delta's column-mapping rename): the
    * stored (PHYSICAL) column name never changes — segment bytes, the
    * stats/bloom index, and deletion vectors are all untouched; the
    * commit rebinds the physical name's LOGICAL label, and every read
    * surfaces it ([[applyMapping]]) while every write un-labels it
    * ([[toPhysical]]). Renaming a 100 TB table's column is one tiny
    * log entry. Time travel shows each version under the labels it had
    * THEN (the mapping folds with the state); renaming back to the
    * original name clears the mapping. Conflicts like every
    * snapshot-dependent op. */
  def renameColumn(spark: SparkSession, dir: String, from: String,
                   to: String): Int = {
    require(from != to, s"rename of $from to itself")
    val snap = state(dir)
    val visible = visibleColumns(spark, dir, snap)
    require(visible.contains(from), s"no column $from " +
      s"(visible: ${visible.mkString(", ")})")
    require(!visible.contains(to),
      s"column $to already exists — rename would alias two columns")
    val p = snap.physCol(from)
    // re-labeling onto a RENAMED-AWAY physical name is fine — the
    // simultaneous relabel ([[relabel]]/[[toPhysical]]) resolves the
    // chain without transient duplicates (rename v->value then k->v
    // reads [v,value] and writes [k,v] unambiguously). A DROPPED name
    // is different: its physical bytes are hidden, so giving a live
    // column that label would make every write of it trip the
    // dropped-name shadow guard — reject up front. (A physical name
    // still carrying its OWN label is already caught by the visible
    // check above.)
    require(!snap.dropped(to),
      s"column name $to is a dropped column's physical storage name " +
        "(its bytes persist in old segments) — choose a fresh name")
    commit(dir, "rename_column", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = s"rename=${enc(p)}|${enc(to)}" +: protoBump(snap))
  }

  /** METADATA-ONLY COLUMN DROP (column mapping's second op): hides the
    * physical column from every read without touching a byte — old
    * segments keep the data (time travel to a pre-drop version still
    * shows it; [[restore]] resurrects it). The drop also clears any
    * rename of the physical name. Re-introducing a column under the
    * dropped PHYSICAL name fails loud ([[toPhysical]]) — the storage
    * name is occupied by hidden bytes; fully freeing it needs id-based
    * physical names (Delta's mapping mode), a documented non-goal. */
  def dropColumn(spark: SparkSession, dir: String, colName: String): Int = {
    val snap = state(dir)
    val visible = visibleColumns(spark, dir, snap)
    require(visible.contains(colName), s"no column $colName " +
      s"(visible: ${visible.mkString(", ")})")
    require(visible.size > 1, s"cannot drop the last column $colName")
    val p = snap.physCol(colName)
    val clearRename =
      if (snap.renames.contains(p)) Seq(s"rename=${enc(p)}|${enc(p)}")
      else Seq.empty
    commit(dir, "drop_column", Seq.empty, Seq.empty, Some(snap.version),
      extraLines = (s"dropcol=${enc(p)}" +: clearRename) ++ protoBump(snap))
  }

  /** Head-state column mapping, PHYSICAL → logical — what the
    * streaming sink needs to write a logical-labeled batch as stored
    * bytes. Physical names are stable for a table's lifetime, so
    * resolving once per stream start is exact. */
  private[sources] def columnMapping(dir: String): Map[String, String] =
    state(dir).renames

  /** The user-facing column list of a snapshot: physical footer names
    * minus drops, mapped through renames. */
  /** The visible (logical) columns of a snapshot with their types —
    * the ONE place the drop-filter + rename-relabel pipeline lives, so
    * the batch-side column checks and the sink's drift guard cannot
    * diverge. */
  private def visibleSchema(spark: SparkSession, dir: String,
                            snap: State): Seq[(String, String)] =
    tableSchema(spark, dir, snap)
      .filterNot(f => snap.dropped(f.name))
      .map(f => (snap.renames.getOrElse(f.name, f.name),
        f.dataType.catalogString))

  private def visibleColumns(spark: SparkSession, dir: String,
                             snap: State): Seq[String] =
    visibleSchema(spark, dir, snap).map(_._1)

  /** Head-state visible (logical) columns with their types — what the
    * streaming SINK resolves once per query start for its schema-drift
    * guard (names alone would wave through a same-name TYPE change,
    * which corrupts later merged-schema reads). Empty-table → Nil (the
    * first batch defines the schema). */
  private[sources] def visibleSchemaOf(spark: SparkSession,
                                       dir: String): Seq[(String, String)] = {
    val snap = snapshotOrEmpty(dir)
    if (snap.live.isEmpty) Nil else visibleSchema(spark, dir, snap)
  }

  /** RESTORE to an older version (Delta RESTORE): commits a NEW version
    * whose live set is exactly `toVersion`'s — no data copied, segments
    * re-referenced; history is preserved (the restore is itself a
    * commit, so time travel still sees every intermediate state).
    * Carries the resurrected segments' stats/bloom refs INTO the
    * restore entry: checkpoints keep live-only metadata, so without
    * re-recording them a restore past a checkpoint would silently turn
    * the restored layout unprunable. Fails loud if any target segment
    * was vacuumed away, and conflicts like every snapshot-dependent op. */
  def restore(dir: String, toVersion: Int): Int = {
    val st = store(dir)
    val snap = headVersion(dir)
    require(toVersion >= 0 && toVersion <= snap,
      s"restore target $toVersion out of range (head=$snap)")
    val target = state(dir, toVersion)
    val head = state(dir, snap)
    val missing = target.live.filterNot(seg =>
      refStore(dir, seg).isDirectory(segPath(dir, seg)))
    require(missing.isEmpty,
      s"cannot restore $dir to $toVersion: segment(s) vacuumed: $missing")
    val current = head.live
    val added = target.live.filterNot(current.contains)
    // a segment live in BOTH versions whose deletion-vector set drifted
    // (post-target MoR deletes) is REMOVED-AND-RE-ADDED in this one
    // entry: the state fold clears its dv mapping on remove and the
    // entry's dv lines re-record the target's — tombstone rollback
    // without touching a data byte
    // SET comparison: the checkpoint fold sorts dv lines, so a
    // checkpoint round-trip loses commit order — order-sensitive
    // comparison would spuriously reset (benign re-adds, wrong signal)
    val dvReset = target.live.filter(seg => current.contains(seg) &&
      head.dvs.getOrElse(seg, Seq.empty).toSet !=
        target.dvs.getOrElse(seg, Seq.empty).toSet)
    val readd = added ++ dvReset
    val readdSet = readd.toSet
    // column-mapping rollback: re-label/re-surface columns to the
    // TARGET version's view (a post-target rename is unbound via the
    // identity rebind; a post-target drop is undone with undropcol —
    // restore is the one op that resurrects a dropped column)
    val mapLines =
      (head.renames.keySet ++ target.renames.keySet).toSeq.sorted.flatMap { p =>
        val cur = head.renames.getOrElse(p, p)
        val tgt = target.renames.getOrElse(p, p)
        if (cur == tgt) None else Some(s"rename=${enc(p)}|${enc(tgt)}")
      } ++
      (head.dropped -- target.dropped).toSeq.sorted.map("undropcol=" + enc(_)) ++
      (target.dropped -- head.dropped).toSeq.sorted.map("dropcol=" + enc(_)) ++
      // constraint rollback: the target's data satisfied the target's
      // constraints by construction, so re-recording them is safe; a
      // post-target ADD is dropped with them (protocol floors, by
      // contrast, never roll back — they protect readers already
      // trusting them)
      (head.constraints.keySet ++ target.constraints.keySet).toSeq.sorted
        .flatMap { n =>
          (head.constraints.get(n), target.constraints.get(n)) match {
            case (c, t) if c == t => None
            case (_, Some(t)) => Some(s"addconstraint=${enc(n)}|${enc(t)}")
            case (Some(_), None) => Some(s"dropconstraint=${enc(n)}")
            case _ => None
          }
        } ++
      (head.defaults.keySet ++ target.defaults.keySet).toSeq.sorted
        .flatMap { n =>
          (head.defaults.get(n), target.defaults.get(n)) match {
            case (c, t) if c == t => None
            case (_, Some(t)) => Some(s"setdefault=${enc(n)}|${enc(t)}")
            case (Some(_), None) => Some(s"unsetdefault=${enc(n)}")
            case _ => None
          }
        } ++
      (head.generated.keySet ++ target.generated.keySet).toSeq.sorted
        .flatMap { n =>
          (head.generated.get(n), target.generated.get(n)) match {
            case (c, t) if c == t => None
            case (_, Some(t)) => Some(s"setgenerated=${enc(n)}|${enc(t)}")
            case (Some(_), None) => Some(s"unsetgenerated=${enc(n)}")
            case _ => None
          }
        } ++
      (if (head.cdfEnabled == target.cdfEnabled) Seq.empty
       else Seq(s"setcdf=${target.cdfEnabled}"))
    commit(dir, "restore",
      add = readd,
      remove = current.filterNot(target.live.contains) ++ dvReset,
      expectedHead = Some(snap),
      stats = target.stats.filter { case ((seg, _), _) => readdSet(seg) },
      blooms = target.blooms.filter { case ((seg, _), _) => readdSet(seg) },
      dvs = readd.flatMap(seg => target.dvs.getOrElse(seg, Seq.empty)
        .map { case (dv, rows) => (seg, dv, rows) }),
      extraLines = mapLines,
      files = target.files.filter { case (seg, _) => readdSet(seg) })
  }

  /** The ADJUSTED commit clock: per-version instants monotonized to a
    * strictly increasing sequence, `adjusted(v) = max(adjusted(v-1)+1,
    * t(v))` — Delta's published timestamp-adjustment rule. `t(v)` is
    * the IN-COMMIT timestamp the entry records (`ts=` line — immune to
    * log-dir copies/rsyncs/backup-restores, which reset mtimes but
    * cannot touch entry bytes), falling back to the entry file's mtime
    * for legacy entries written before the line existed. Monotonization
    * still applies on top: multi-writer clock skew (or a coarse clock)
    * can tie or invert even recorded instants, and time travel needs
    * exactly one property — commit order and time order agree. */
  private def adjustedTimes(dir: String, upTo: Int): Array[Long] = {
    val st = store(dir)
    val adj = new Array[Long](upTo + 1)
    var v = 0
    while (v <= upTo) {
      val m = entryRecordedTs(dir, v).getOrElse(st.mtime(entryPath(dir, v)))
      adj(v) = if (v == 0) m else math.max(adj(v - 1) + 1, m)
      v += 1
    }
    adj
  }

  /** The `ts=` line of commit `version`'s entry, if present — one
    * entry read; same O(versions) total as the mtime stats it
    * replaces on the (rare, per-query, driver-side) resolution path. */
  private def entryRecordedTs(dir: String, v: Int): Option[Long] =
    new String(store(dir).readBytes(entryPath(dir, v)), "UTF-8")
      .linesIterator.find(_.startsWith("ts="))
      .flatMap(l => l.stripPrefix("ts=").toLongOption)

  /** TIMESTAMP time travel resolution (Delta's `timestampAsOf`): the
    * LAST commit whose ADJUSTED time ([[adjustedTimes]]) is at-or-
    * before `tsMillis`. A commit's time is its log entry file's mtime
    * — the log-format convention (no clock is written into the entry;
    * the filesystem already records one) — monotonized so an
    * mtime-inverted log (rsync'd dir, coarse-mtime FS) resolves
    * deterministically rather than wrongly. One mtime stat per version
    * (O(versions) metadata, like [[history]]/[[vacuum]] — resolution
    * is a rare per-query driver step, and correctness under inversion
    * beats the O(log) binary search this replaced, which silently
    * mis-resolved when its sortedness assumption broke). Fails loud
    * when the timestamp predates the first commit (Delta's contract:
    * "before the earliest version" is an error, "after the latest" is
    * the head). */
  def versionAsOfTimestamp(dir: String, tsMillis: Long): Int = {
    val head = headVersion(dir)
    require(head >= 0, s"table $dir has no commits")
    val adj = adjustedTimes(dir, head)
    require(adj(0) <= tsMillis,
      s"timestamp $tsMillis predates the first commit of $dir " +
        s"(earliest: ${adj(0)})")
    // adjusted times are strictly increasing BY CONSTRUCTION, so the
    // last at-or-before is well-defined and unique
    var ans = 0; var v = 1
    while (v <= head && adj(v) <= tsMillis) { ans = v; v += 1 }
    ans
  }

  /** The wall-clock instant of commit `version` on the same ADJUSTED
    * clock [[versionAsOfTimestamp]] resolves against — strict
    * monotonization makes the round trip exact unconditionally:
    * `versionAsOfTimestamp(dir, commitTimestamp(dir, v)) == v` for
    * every committed v (no "if the successor committed strictly later"
    * caveat: the successor's adjusted time is strictly later by
    * construction). Equals the raw entry mtime except on a
    * tied/inverted log. */
  def commitTimestamp(dir: String, version: Int): Long = {
    require(store(dir).exists(entryPath(dir, version)),
      s"no version $version in $dir")
    adjustedTimes(dir, version)(version)
  }

  /** Snapshot read as of a wall-clock instant — resolves through
    * [[versionAsOfTimestamp]] then reads that version. */
  def readAsOfTimestamp(spark: SparkSession, dir: String, tsMillis: Long,
                        mergeSchema: Boolean = false): DataFrame =
    read(spark, dir, versionAsOfTimestamp(dir, tsMillis), mergeSchema)

  /** Every segment reference ANY entry ever added (live or superseded)
    * — vacuum's visibility set; also the test surface for "conflicted
    * staging was reclaimed, no orphans" assertions. Full log replay by
    * definition, like [[history]]. */
  private[graft] def allAddedSegments(dir: String): Seq[String] =
    entries(dir).flatMap(_.add).distinct

  /** The schema and part files (name, byte size) the log records for
    * each live segment as of `asOf` (-1 = head); segments without a
    * record are absent — the test surface for the scan record. */
  private[graft] def recordedFilesOf(dir: String, asOf: Int = -1
      ): Map[String, (org.apache.spark.sql.types.StructType, Seq[(String, Long)])] = {
    val s = state(dir, asOf)
    s.live.flatMap(seg => s.files.get(seg).map(f => seg ->
      (org.apache.spark.sql.types.DataType.fromJson(f.schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType], f.files))).toMap
  }

  /** DESCRIBE HISTORY: one row per commit — (version, op, n_added,
    * n_removed) — from log metadata alone (intrinsically a full-log
    * read: the audit surface is per-commit by definition). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    entries(dir)
      .map(e => (e.version.toLong, e.op, e.add.size.toLong, e.remove.size.toLong))
      .toDF("version", "op", "n_added", "n_removed")
  }

  /** Paths of the referenced segments/sidecars `names` that no longer
    * exist — a vacuum ran past the reader's version. Checked BEFORE
    * planning the scan so the read dies with a typed retention error
    * instead of a mid-job FileNotFoundException that reads like
    * corruption. Each reference is probed through [[refStore]]: a
    * shallow clone's borrowed refs may be addressed differently from
    * the table. */
  private[sources] def missingAdds(dir: String, names: Seq[String]): Seq[String] =
    names.filterNot(n => refStore(dir, n).isDirectory(segPath(dir, n)))
      .map(segPath(dir, _))

  /** The op recorded by commit `version` (append/overwrite/delete/compact). */
  def commitOp(dir: String, version: Int): String = {
    if (!store(dir).exists(entryPath(dir, version)))
      throw new IllegalArgumentException(s"no version $version")
    readEntry(dir, version).op
  }

  /** Snapshot-isolated read as of `asOf` (-1 = head). The segment list
    * is resolved once, here; later commits cannot change what this
    * DataFrame reads. `mergeSchema = true` unions segment schemas
    * (schema EVOLUTION: an append may carry new columns; old segments
    * stay untouched and read as null for the added columns — the
    * add-column semantics of the log formats, without a rewrite). */
  def read(spark: SparkSession, dir: String, asOf: Int = -1,
           mergeSchema: Boolean = false): DataFrame = {
    val s = state(dir, asOf)
    require(s.live.nonEmpty, s"table $dir is empty as of version $asOf")
    // time travel gets the typed retention error (head reads skip the
    // probe: a vacuum never reclaims the head's live set)
    if (asOf >= 0)
      requireRetained(dir, asOf, s.live)
    segScan(spark, dir, s, s.live, mergeSchema)
  }
}
