package graft.tables

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType, TimestampNTZType}
import org.apache.spark.storage.StorageLevel
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Per-file column statistics harvested from the parquet FOOTER at
  * commit time (metadata-only — no data re-scan): min/max as parquet's
  * canonical string form, plus null accounting. The same role Delta's
  * per-file stats play for data skipping. */
case class FileColStats(min: String, max: String,
                        nullCount: Long, hasMinMax: Boolean)

/** One data file of a table version. `path` is relative to `<root>/data`.
  * `rows` comes free from the parquet footer at commit time (-1 on
  * legacy entries written before it was recorded). `dv` lists deletion-
  * vector sidecar files (relative to `<root>/data`, under `_dv/`) whose
  * (file, row_idx) pairs mark rows of THIS file as deleted; `dvRows` is
  * how many of this file's physical rows they mark (for accounting —
  * live rows = rows - dvRows). Both default empty for pre-DV entries. */
case class FileEntry(path: String,
                     partitionValues: Map[String, String],
                     sizeBytes: Long,
                     stats: Option[Map[String, FileColStats]] = None,
                     rows: Long = -1L,
                     dv: Seq[String] = Seq.empty,
                     dvRows: Long = 0L)

/** One commit in the version log — Delta-shaped (add/remove actions +
  * commitInfo fields), modeled on the commit files observed in the
  * reference's committed table
  * (reference: landing_test/header/_delta_log/00000000000000000003.json).
  */
case class LogEntry(version: Long,
                    timestampMs: Long,
                    operation: String,
                    schemaJson: String,
                    partitionColumns: Seq[String],
                    add: Seq[FileEntry],
                    remove: Seq[String],
                    operationMetrics: Map[String, String])

/** A table state at `version`: the live file set, schema, partitioning
  * and per-appId transaction watermarks (the newest committed txnBatchId,
  * Delta's SetTransaction folded in). Written every
  * [[VersionedTable.CheckpointInterval]] commits so that a replay reads
  * O(interval) JSON files instead of O(versions) — the role Delta's
  * parquet checkpoints play — and the shape every replay returns.
  * `txns` is an `Option` for back-compat: checkpoints written before the
  * field existed deserialize as None, and a replay from one folds the
  * older commits for watermarks. */
case class Checkpoint(version: Long,
                      schemaJson: String,
                      partitionColumns: Seq[String],
                      files: Seq[FileEntry],
                      txns: Option[Map[String, Long]] = None)

/** A versioned Parquet table with ACID-ish single-writer semantics:
  * Hive-partitioned parquet files under `<root>/data/` plus a JSON commit
  * log under `<root>/_graft_log/`. Replaces everything the reference
  * delegates to delta-spark (absent in this environment — SURVEY.md §7.1):
  * MERGE, time travel (`versionAsOf`), `history`, `isDeltaTable`,
  * `mergeSchema` append.
  *
  * Scale design notes:
  *  - A table state is one replay on the driver ([[replay]]): the newest
  *    checkpoint plus the commits after it — pure metadata, no data read.
  *  - MERGE prunes to *touched files* first (inner join source×target on
  *    the merge condition, collecting only distinct file names), then
  *    rewrites just those files plus new-row files — the same bounded-work
  *    strategy Delta's MERGE uses; untouched files are carried by
  *    reference in the log.
  *  - Commits are atomic via write-temp + rename on the Hadoop
  *    FileSystem API (atomic on HDFS/local; on object stores a real
  *    deployment would put the log on a store with atomic rename or a
  *    coordination service).
  */
class VersionedTable private (val spark: SparkSession,
                              val root: String,
                              private var aliasName: Option[String],
                              private val init: Option[(StructType, Seq[String])] = None) {
  import VersionedTable._

  private val rootPath = new Path(root)
  private def fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def logDir = new Path(rootPath, LogDirName)
  private def dataDir = new Path(rootPath, "data")
  private def propsPath = new Path(logDir, "_table_properties.json")

  /** Immutable table properties written once at [[VersionedTable.create]]
    * (e.g. bloom-filter columns). Missing/unreadable ⇒ empty: properties
    * only ever enable optimizations, never correctness. */
  private lazy val tableProps: Map[String, String] =
    try {
      val f = fs
      if (f.exists(propsPath))
        Serialization.read[Map[String, String]](readFully(f, propsPath))
      else Map.empty
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Columns carrying parquet bloom filters (property
    * `bloom.filter.columns`, comma-separated), written by every file this
    * table writes and probed by [[pruneFiles]]. */
  private def bloomColumns: Seq[String] =
    tableProps.get(BloomColsProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  def as(name: String): VersionedTable = alias(name)
  def alias(name: String): VersionedTable = new VersionedTable(spark, root, Some(name), init)

  /** Label the Spark jobs `f` submits (guide §1.5 — the merge path runs
    * several internal jobs per call and unlabeled they are
    * indistinguishable in the UI/any listener-based breakdown). Saves and
    * restores the caller's description; thread-local, so concurrent
    * writers don't clobber each other. */
  private def labeled[T](desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft.$desc")
    try f finally sc.setJobDescription(prev)
  }

  // ---------------------------------------------------------------- log --

  /** The log dir in one filesystem LIST; versions come from file names,
    * so no JSON is parsed here. */
  private def listLog(): Log = {
    val f = fs
    if (!f.exists(logDir)) return Log(Seq.empty, Seq.empty)
    val paths = f.listStatus(logDir).map(_.getPath).toSeq
    def versions(suffix: String) = paths
      .filter(_.getName.matches("""\d{20}""" + java.util.regex.Pattern.quote(suffix)))
      .map(p => (p.getName.stripSuffix(suffix).toLong, p)).sortBy(_._1)
    Log(versions(".json"), versions(".checkpoint.json"))
  }

  /** `commits` parsed one file at a time as the iterator is consumed — the
    * one place a commit file is parsed. A torn commit is skipped only when
    * its version is `skippable`: the newest listed commit, which an
    * implicit (latest) read treats as an aborted publish. Torn anywhere
    * else, it is corruption and throws. */
  private def commitsOf(commits: Iterator[(Long, Path)],
                        skippable: Long = NoVersion): Iterator[LogEntry] = {
    val f = fs
    commits.flatMap { case (v, p) =>
      try Some(parseEntry(readFully(f, p)))
      catch {
        case scala.util.control.NonFatal(_) if v == skippable => None
        case scala.util.control.NonFatal(e) =>
          throw new IllegalStateException(s"commit $v at $root is unparsable (torn or corrupt)", e)
      }
    }
  }

  /** The checkpoint at `p`, or None when it does not parse (a torn write):
    * a checkpoint is an optimization, so a replay falls back past it. */
  private def readCheckpoint(p: Path): Option[Checkpoint] =
    try Some(parseCheckpoint(readFully(fs, p)))
    catch { case scala.util.control.NonFatal(_) => None }

  private[tables] def entries: Seq[LogEntry] = {
    val log = listLog()
    commitsOf(log.commits.iterator, log.newest).toSeq
  }

  def currentVersion: Long = listLog().newest

  /** The table state at `asOf` (default: the newest parsable commit) — the
    * ONE log replay that reads, writers, checkpoints, txn watermarks, CDC
    * and vacuum share, Delta's snapshot: the newest checkpoint at or below
    * the target that parses, then the commits after it folded in version
    * order (adds and removes, the last schema and partitioning, txn
    * watermarks last-write-wins) — O(CheckpointInterval) JSON reads. With
    * `from`, the fold starts from a state already in hand instead, so a
    * writer that lost a CAS reads only the commits it has not seen.
    *
    * Torn files: a torn NEWEST commit is skipped by an implicit read and
    * reported as `newestTorn` (writers refuse it: [[writable]]); an
    * explicit read of it, or a torn commit anywhere else, throws. A torn
    * checkpoint falls back to the next older one, or to version −1, as
    * long as the commits after it survive; when [[cleanLog]] has deleted
    * them the replay throws, naming the checkpoint.
    *
    * A checkpoint without `txns` (written before the field existed)
    * carries no watermarks: `withTxns` then also folds the commits at and
    * below it, and the map is complete only when that prefix reaches
    * version 0 (after a truncation, an app whose only record was below it
    * is gone). Plain reads skip that fold. */
  private def replay(asOf: Option[Long], withTxns: Boolean = false,
                     from: Option[Checkpoint] = None, log: Log = listLog()): Replayed = {
    val commits = log.commits
    require(commits.nonEmpty, s"$root is not a graft table (empty log)")
    val target = asOf.getOrElse(log.newest)
    require(commits.exists(_._1 == target),
      s"version $target not found in $root (oldest=${log.oldest}, latest=${log.newest})")
    val base = from.orElse(log.checkpoints.filter(_._1 <= target).reverseIterator
      .flatMap { case (_, p) => readCheckpoint(p) }.nextOption())
    val fromV = base.fold(-1L)(_.version)
    val todo = commits.filter { case (v, _) => v > fromV && v <= target }
    if (todo.size != target - fromV) {
      val torn = log.checkpoints.filter { case (v, _) => v > fromV && v <= target }
      throw new IllegalStateException(s"cannot replay $root to version $target: " +
        torn.lastOption.fold("")(c => s"checkpoint ${c._2.getName} is unreadable and ") +
        s"the commits after version $fromV are not all in the log (oldest is ${log.oldest})")
    }
    val files = scala.collection.mutable.LinkedHashMap[String, FileEntry]()
    base.foreach(_.files.foreach(fe => files(fe.path) = fe))
    val txns = scala.collection.mutable.Map[String, Long]()
    def foldTxn(e: LogEntry): Unit = txns ++= txnOf(e.operationMetrics)
    val legacy = base.exists(_.txns.isEmpty)
    if (legacy && withTxns) commitsOf(commits.iterator.filter(_._1 <= fromV)).foreach(foldTxn)
    base.flatMap(_.txns).foreach(txns ++= _)
    var last: Option[LogEntry] = None
    commitsOf(todo.iterator, if (asOf.isEmpty) log.newest else NoVersion).foreach { e =>
      e.remove.foreach(files.remove)
      e.add.foreach(a => files(a.path) = a)
      foldTxn(e)
      last = Some(e)
    }
    val version = last.fold(fromV)(_.version)
    if (version < 0) throw new IllegalStateException(
      s"$root has no parsable commit (newest is torn/corrupt and no " +
        "checkpoint exists) — recoverAbortedCommit() after inspection")
    val (schemaJson, partCols) = last.map(e => (e.schemaJson, e.partitionColumns))
      .getOrElse((base.get.schemaJson, base.get.partitionColumns))
    Replayed(Checkpoint(version, schemaJson, partCols, files.values.toSeq, Some(txns.toMap)),
      newestTorn = version != target, txnsComplete = !legacy || (withTxns && log.oldest == 0))
  }

  /** `r`, unless its newest commit is torn. With the atomic publish a torn
    * commit "cannot happen", so one IS evidence of corruption or a crashed
    * legacy writer: committing N+1 past a torn N would bake the hole into
    * the log. Readers skip it; every writer stops here, from the state it
    * pinned, and points at the explicit recovery path. */
  private def writable(r: Replayed): Replayed = {
    if (r.newestTorn) throw new IllegalStateException(
      s"newest commit ${r.state.version + 1} at $root is unparsable (torn or corrupt); " +
        "refusing to commit past it — inspect it, then recoverAbortedCommit() " +
        "to discard it if it is aborted-publish debris")
    r
  }

  // private[tables] (not private) so the log-stress spec can drive
  // metadata-only commits without paying a parquet write per version.
  // The transaction publish, its one caller, has refused a torn newest
  // commit from its state ([[writable]]).
  private[tables] def commit(entry: LogEntry): Unit = {
    val f = fs
    f.mkdirs(logDir)
    val target = new Path(logDir, f"${entry.version}%020d.json")
    // cheap pre-check; the real guard is the atomic publish below (two
    // writers can both pass an exists() probe in the race window)
    if (f.exists(target)) throw conflict(entry.version)
    casPublish(f, target, renderEntry(entry), entry.version)
    maybeCheckpoint(entry.version)
  }

  /** Explicit recovery from a torn/corrupt NEWEST commit file (possible
    * only via store-level corruption or a writer on a store without an
    * atomic publish dying mid-copy): deletes it so the version can be
    * re-claimed, returning true. A parsable newest commit is never
    * touched (returns false) — this is an operator action, never called
    * implicitly, because on a store with a non-atomic publish the
    * "corrupt" file could be a concurrent writer's in-flight copy. */
  def recoverAbortedCommit(): Boolean =
    listLog().commits.lastOption.exists { case (v, p) =>
      commitsOf(Iterator((v, p)), skippable = v).isEmpty && fs.delete(p, false)
    }

  private def conflict(version: Long) =
    new ConcurrentCommitException(
      s"concurrent commit detected: version $version already exists at $root — " +
        "another writer won this version; re-read the table and retry the operation")

  /** The one commit path for every table write (CREATE, CLONE, MERGE,
    * UPDATE, DELETE, OPTIMIZE, RESTORE and append): pin a version, run `body`'s steps
    * against a working copy of that snapshot, publish ONE [[LogEntry]] at
    * pinned + 1. Steps plan against `tx.files`/`tx.schema` and read the
    * working state through [[Txn.read]], so a later step sees an earlier
    * one's rows; readers of the table see all of them or none — the
    * multi-action commit Delta's log publishes atomically.
    *
    * The pin: one [[replay]] gives the version and the state at it, and
    * the commit must land at exactly that version + 1, so any commit
    * after the replay loses the CAS. An unpinned `currentVersion + 1`
    * evaluated at COMMIT time would publish a rewrite of a STALE file set
    * as the next free version — a silent lost update: two concurrent
    * disjoint-key merges that each rewrite the same base file would BOTH
    * land, duplicating every row of that file (caught by the q92 oracle).
    * A torn newest commit refuses the transaction before its body runs
    * ([[writable]]). A handle [[VersionedTable.open]]ed at a path with no
    * commit pins the empty version −1 and publishes version 0.
    *
    * A lost CAS (Delta's optimistic concurrency): an attempt whose only
    * step is an append's `WRITE` is BLIND — it read nothing but the
    * pinned schema and partitioning, and it removes nothing — so it folds
    * only the winners' commits ([[replay]]'s `from`) and then
    *  - refuses a torn newest commit;
    *  - publishes nothing when the winners landed its (txnAppId,
    *    txnBatchId): a zombie replay of the same batch won;
    *  - re-runs its body when the winners changed the schema to something
    *    other than its base or target schema, or the partitioning;
    *  - otherwise re-publishes the same entry at the next version: the
    *    same data files, no rewrite, no wait.
    * Every other attempt re-runs its body against the winners' state,
    * after a linear backoff; each re-run rewrites from the committed
    * state, so physically conflicting writers stay correct. Every CAS
    * loss, slide or re-run, counts against `spark.graft.commit.maxRetries`
    * (default 10); 0 surfaces the first one.
    *
    * The entry adds the working entries that differ from the pinned ones
    * and removes the pinned paths no longer live. One step commits under
    * its own operation and metrics; several commit as `MERGE` with
    * numeric metrics summed (`-1`, "not measured", in any step makes the
    * sum `-1`) and other values joined by `,` in step order. A body that
    * stages no step publishes nothing. If anything throws or the body
    * re-runs, every file and sidecar dir the attempt wrote is deleted;
    * after a publish, files one step wrote and a later step replaced are
    * deleted too — no version ever referenced them. */
  def transaction[T](body: Txn => T): T = transact(None)(body).get

  /** [[transaction]] for an append carrying `txn`: the pin also replays
    * the txn watermarks, and a batch that already landed runs no body and
    * publishes nothing (None), even past a torn newest commit. */
  private def transact[T](txn: Option[(String, Long)])(body: Txn => T): Option[T] = {
    // 10: txn-pinned appends turn every intervening commit into a CAS
    // loss by design (the pin is what makes replays exactly-once), so the
    // budget must absorb a burst of interleaved writers
    val maxRetries = spark.conf.get("spark.graft.commit.maxRetries", "10").trim.toInt
    var losses = 0
    while (true) {
      val r = pin(withTxns = txn.isDefined)
      if (txn.exists(landed(r.state, _))) return None
      val tx = new Txn(this, r.state.version, r.state.files, writable(r).schema, r.state.partitionColumns)
      var rerun = false
      try {
        val out = body(tx)
        var seen = r.state
        var next = tx.entry(System.currentTimeMillis())
        while (next.nonEmpty) {
          val e = next.get
          next = None
          try commit(e)
          catch {
            case lost: ConcurrentCommitException =>
              losses += 1
              if (losses > maxRetries) throw lost
              if (tx.blind) {
                seen = writable(replay(None, from = Some(seen))).state
                if (txnOf(e.operationMetrics).exists(landed(seen, _))) {
                  deleteData(tx.written)
                  return Some(out)
                }
                rerun = (seen.schemaJson != r.state.schemaJson && seen.schemaJson != e.schemaJson) ||
                  seen.partitionColumns != e.partitionColumns
                if (!rerun) next = Some(e.copy(version = seen.version + 1))
              } else rerun = true
          }
        }
        if (!rerun) {
          val live = tx.files.flatMap(fe => fe.path +: fe.dv.map(d => d.take(d.lastIndexOf('/')))).toSet
          deleteData(tx.written.filterNot(live))
          return Some(out)
        }
      } catch { case e: Throwable => deleteData(tx.written); throw e }
      deleteData(tx.written)
      // linear backoff + uniform jitter: symmetric writers that collide
      // would otherwise sleep identical durations and re-collide in
      // lockstep, burning the whole budget under contention
      Thread.sleep(13L * losses +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(25L * losses + 1))
    }
    throw new IllegalStateException("unreachable")
  }

  /** The state a writer starts from: the newest replay, or on an opened
    * path with no commit, the empty version −1 it was opened with. */
  private def pin(withTxns: Boolean): Replayed = {
    val log = listLog()
    init.filter(_ => log.commits.isEmpty).fold(replay(None, withTxns, log = log)) { case (s, p) =>
      Replayed(Checkpoint(-1L, s.json, p, Seq.empty, Some(Map.empty)),
        newestTorn = false, txnsComplete = true)
    }
  }

  /** Best-effort recursive delete of data-dir relative paths. */
  private def deleteData(paths: Iterable[String]): Unit = {
    val f = fs
    paths.foreach { p =>
      try f.delete(new Path(dataDir, p), true)
      catch { case scala.util.control.NonFatal(_) => }
    }
  }

  /** Publish a commit file via compare-and-swap: the version file is
    * created if and ONLY if it does not exist, atomically, AND appears to
    * readers all-or-nothing — of two interleaved writers exactly one wins,
    * the loser fails cleanly instead of silently clobbering the winner,
    * and no reader can ever list or replay a half-written commit. Both
    * branches stage the full payload under a dot-prefixed tmp name (which
    * the `\d{20}.json` log listing never matches) and make it visible in
    * one metadata operation. On a local filesystem that operation is a
    * hard link (link(2) fails EEXIST atomically — a bare rename would
    * overwrite); elsewhere it is rename-no-overwrite of the staged file
    * (atomic in the HDFS namenode, returns false when the target exists —
    * unlike the previous create-then-copy, a writer crash can never leave
    * a torn target). An object-store deployment (S3-style rename =
    * non-atomic copy) would put the log on a store with conditional puts
    * or a coordination service — documented contract, not handled here. */
  private def casPublish(f: FileSystem, target: Path, content: String,
                         version: Long): Unit = {
    val tmp = new Path(target.getParent, s".tmp-${UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    out.write(content.getBytes(StandardCharsets.UTF_8))
    out.close()
    val scheme = Option(target.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val localTmp = java.nio.file.Paths.get(tmp.toUri.getPath)
      val localTarget = java.nio.file.Paths.get(target.toUri.getPath)
      try java.nio.file.Files.createLink(localTarget, localTmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false)
          throw conflict(version)
      }
      f.delete(tmp, false)
    } else {
      // non-local: rename the fully-written staged payload onto the
      // target; rename-no-overwrite is the CAS and the payload is
      // complete before it becomes visible
      val renamed =
        try f.rename(tmp, target)
        catch { case _: java.io.IOException => false }
      if (!renamed) {
        f.delete(tmp, false)
        throw conflict(version)
      }
    }
  }

  /** Every CheckpointInterval commits, materialize the replayed state so
    * later replays read a bounded number of commit files. Failure here
    * never fails the commit — a checkpoint is an optimization, not state:
    * a torn commit makes the replay throw and this checkpoint is skipped,
    * and a torn checkpoint is passed over by every later replay.
    * Watermarks are published only when complete ([[replay]]): an
    * incomplete map would be taken as the whole truth by every later
    * replay and by [[cleanLog]], and a replayed batch could commit twice;
    * without it, the next checkpoint folds the older commits again. */
  private def maybeCheckpoint(version: Long): Unit =
    if (version > 0 && version % CheckpointInterval == 0) {
      try {
        val cpPath = new Path(logDir, f"$version%020d.checkpoint.json")
        val r = replay(Some(version), withTxns = true)
        val cp = if (r.txnsComplete) r.state else r.state.copy(txns = None)
        atomicWrite(fs, cpPath, renderCheckpoint(cp))
      } catch { case scala.util.control.NonFatal(_) => }
    }

  private def atomicWrite(f: FileSystem, target: Path, content: String): Unit = {
    val tmp = new Path(target.getParent, s".tmp-${UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    out.write(content.getBytes(StandardCharsets.UTF_8))
    out.close()
    if (!f.rename(tmp, target)) {
      f.delete(tmp, false)
      throw new IllegalStateException(s"atomic write failed for $target")
    }
  }

  // --------------------------------------------------------------- read --

  def toDF: DataFrame = read
  def read: DataFrame = readAt(None)
  /** Time-travel read (reference: schema_evolution_step1.py:139,166,182). */
  def readVersion(v: Long): DataFrame = readAt(Some(v))

  private def readAt(asOf: Option[Long]): DataFrame = {
    val r = replay(asOf)
    val df = readFiles(r.state.files, r.schema, r.state.partitionColumns)
    aliasName.fold(df)(df.alias)
  }

  /** Incremental change read: the rows ADDED between `fromVersion`
    * (exclusive) and `toVersion` (inclusive) — how a downstream consumer
    * (a training-data refresh, an index builder) picks up "what's new
    * since I last looked" without rescanning the table.
    *
    * Exact row-level semantics hold for commits that remove no file —
    * CREATE / WRITE / insert-only MERGE, and a [[transaction]] whose
    * rewriting steps only rewrote files it wrote itself — whose added
    * files contain precisely the new rows. OPTIMIZE commits are skipped
    * (layout-only, no logical change). A MERGE or UPDATE that removes
    * files (an SCD2 header batch, whose Phase A closes open rows, is one)
    * adds files mixing updated, inserted AND copied rows; such commits
    * throw unless `includeRewrites = true`, which returns the added files
    * with that documented coarseness. Parses only the commits in the
    * range; a range reaching below [[cleanLog]]'s truncation point throws.
    * @param fromVersion last version the consumer has seen (exclusive) */
  def readChanges(fromVersion: Long,
                  toVersion: Option[Long] = None,
                  includeRewrites: Boolean = false): DataFrame = {
    val log = listLog()
    val to = toVersion.getOrElse(log.newest)
    require(to >= fromVersion, s"toVersion $to < fromVersion $fromVersion")
    require(fromVersion + 1 >= log.oldest,
      s"cannot read changes after version $fromVersion of $root: the oldest " +
        s"readable version is ${log.oldest} (cleanLog removed the commits before it)")
    val range = commitsOf(log.commits.iterator.filter { case (v, _) => v > fromVersion && v <= to },
      if (toVersion.isEmpty) to else NoVersion).toSeq
    val changeFiles = range.flatMap { e =>
      e.operation match {
        case "OPTIMIZE" => Seq.empty // bin-packing: no logical change
        case "DELETE" =>
          // removes rows, adds none — its add actions are survivor
          // rewrites or DV re-commits of OLD rows, never new data
          if (includeRewrites) Seq.empty
          else throw new IllegalArgumentException(
            s"version ${e.version} is a DELETE: rows disappeared, which " +
              "added-rows semantics cannot express; pass includeRewrites=true " +
              "to skip it, or consume from operation metrics instead")
        // an insert-only step never removes a file, so a remove means
        // some step rewrote committed rows
        case "MERGE" | "UPDATE" if e.remove.nonEmpty =>
          if (includeRewrites) e.add
          else throw new IllegalArgumentException(
            s"version ${e.version} is a rewriting ${e.operation}: its added " +
              "files mix updated/copied/inserted rows; pass includeRewrites=true " +
              "to read them coarsely, or consume from operation metrics instead")
        case _ => e.add
      }
    }
    // the target version's schema (mergeSchema may have widened it): its
    // commit's, or a replay's when the range is empty or misses it
    val (schemaJson, partCols) = range.lastOption.filter(_.version == to)
      .map(e => (e.schemaJson, e.partitionColumns))
      .getOrElse { val at = replay(toVersion, log = log).state; (at.schemaJson, at.partitionColumns) }
    readFiles(changeFiles, DataType.fromJson(schemaJson).asInstanceOf[StructType], partCols)
  }

  /** Commit history, newest first (reference: DeltaTable.history —
    * schema_evolution_step1.py:129-136). Parses only the newest `limit`
    * commit files (one more when the newest is torn and skipped). */
  def history(limit: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    val log = listLog()
    commitsOf(log.commits.reverseIterator, log.newest).take(limit).toSeq
      .map(e => (e.version, new Timestamp(e.timestampMs), e.operation,
        e.operationMetrics, e.add.size.toLong, e.remove.size.toLong))
      .toDF("version", "timestamp", "operation", "operationMetrics",
        "numAddedFiles", "numRemovedFiles")
  }

  def schema: StructType = replay(None).schema
  def partitionColumns: Seq[String] = replay(None).state.partitionColumns
  private[tables] def liveEntries: Seq[FileEntry] = replay(None).state.files

  /** RESTORE: make the table's CURRENT state equal its state at `version`,
    * as a NEW commit — history is preserved, so a restore is itself
    * undoable by another restore (Delta's RESTORE TABLE ... VERSION AS OF).
    * Pure metadata: the commit re-adds the files live at `version` that
    * are no longer live and removes the files live now that weren't —
    * no data is read, rewritten, or copied, so restoring a 100 TB table
    * is a driver-side log operation. Files from the target version that
    * [[vacuum]] has physically deleted make the restore impossible; that
    * is detected up front (one existence probe per re-added file) and
    * fails before anything is committed. A consumer of [[readChanges]]
    * sees the restore's re-added files as new data — their rows are
    * newly live, which is exactly what an incremental reader must apply.
    * @return (filesReAdded, filesRemoved) as recorded by the commit */
  def restoreToVersion(version: Long): (Int, Int) = transaction { tx =>
    val target = replay(Some(version))
    val targetFiles = target.state.files
    // compare full entries, not just paths: a deletion-vector DELETE
    // changes an entry's dv refs while the data file path stays the same —
    // restoring past it must re-commit the old entry (replay's add
    // overwrites by path)
    val curByPath = tx.files.map(fe => fe.path -> fe).toMap
    val tgtSet = targetFiles.map(_.path).toSet
    val toAdd = targetFiles.filterNot(fe => curByPath.get(fe.path).contains(fe))
    val toRemove = tx.files.map(_.path).filterNot(tgtSet.contains)
    val f = fs
    val missing = toAdd.filterNot(fe =>
      (fe.path +: fe.dv).forall(p => f.exists(new Path(dataDir, p))))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"cannot restore $root to version $version: ${missing.size} data " +
        s"file(s) of that version were vacuumed (e.g. ${missing.head.path})")
    tx.stage("RESTORE", toAdd, toRemove,
      Map("restoredVersion" -> version.toString,
        "numRestoredFiles" -> toAdd.size.toString,
        "numRemovedFiles" -> toRemove.size.toString), target.schema)
    (toAdd.size, toRemove.size)
  }

  /** Zero-copy SHALLOW CLONE (Delta's `CLONE ... SHALLOW`): create a new
    * table at `destPath` whose first commit REFERENCES this table's
    * current data files by fully-qualified URI — no data is read or
    * copied, so cloning a 100 TB table is one driver-side metadata
    * write. The clone is fully functional: reads mix referenced and own
    * files transparently, writes (append/merge/DML/compact) land in the
    * clone's OWN data dir and only drop references, and the clone's
    * vacuum walks only its own dir — the source is never mutated by any
    * clone operation. File stats ride along, so pruning on the clone is
    * as sharp as on the source.
    *
    * Caveats (both Delta-shaped): vacuuming the SOURCE can delete files
    * a shallow clone still references (document retention accordingly);
    * and a table with LIVE deletion vectors refuses to clone — compact()
    * first to materialize the deletes. */
  def shallowCloneTo(destPath: String): VersionedTable = {
    val r = replay(None)
    val files = r.state.files
    val withDv = files.count(_.dv.nonEmpty)
    require(withDv == 0,
      s"cannot shallow-clone: $withDv file(s) carry live deletion vectors; " +
        "compact() the source first to materialize them")
    require(!VersionedTable.isTable(spark, destPath),
      s"$destPath is already a graft table")
    val referenced = files.map(fe => fe.copy(path = qualified(fe).toString))
    open(spark, destPath, r.schema, r.state.partitionColumns).firstVersion { tx =>
      tx.stage("CLONE", referenced, Seq.empty,
        Map("sourceTable" -> fs.makeQualified(new Path(root)).toString,
          "sourceVersion" -> r.state.version.toString,
          "numReferencedFiles" -> referenced.size.toString,
          "numCopiedFiles" -> "0"))
    }
  }

  /** Publish this new table's version 0, staged by `step`, as a one-step
    * [[transaction]]; a re-run after losing that publish throws the loss. */
  private def firstVersion(step: Txn => Any): VersionedTable = {
    transaction(tx => if (tx.version >= 0) throw conflict(0L) else step(tx))
    this
  }

  // -------------------------------------------------------------- write --

  /** Append `df`: a one-step [[transaction]] staging a `WRITE`. With
    * `mergeSchema=true`, new nullable columns widen the table schema
    * (reference: schema_evolution_step1.py:139-144).
    *
    * `txn = Some((appId, batchId))` makes the append IDEMPOTENT per
    * writer application (Delta's SetTransaction shape, used by the
    * streaming sink for exactly-once): the commit records the pair, and
    * an append whose batchId is ≤ the last recorded one for the same
    * appId is silently skipped.
    *
    * The append is blind, so a lost CAS costs no rewrite unless the
    * winners changed the schema or partitioning: the transaction
    * re-commits the written files at the next version, or skips them
    * when a racing zombie landed this very (appId, batchId) first. */
  def append(df: DataFrame, mergeSchema: Boolean = false,
             txn: Option[(String, Long)] = None): Unit =
    transact(txn) { tx =>
      writeStep(tx, df, "WRITE", mergeSchema,
        Map("mode" -> "Append", "mergeSchema" -> mergeSchema.toString) ++
          txn.map { case (app, b) =>
            Map("txnAppId" -> app, "txnBatchId" -> b.toString)
          }.getOrElse(Map.empty))
    }

  /** The write step of append, create and both ETL init batches: `df`
    * aligned to the working schema (widened under `mergeSchema`), written
    * and staged as `op` with `metrics` plus its file and row counts. */
  private[tables] def writeStep(tx: Txn, df: DataFrame, op: String,
                                mergeSchema: Boolean = false,
                                metrics: Map[String, String] = Map.empty): Map[String, String] = {
    val newSchema =
      if (mergeSchema) widenSchema(tx.schema, df.schema)
      else {
        val (have, want) = (df.schema.fieldNames.toSet, tx.schema.fieldNames.toSet)
        require(have.subsetOf(want), s"append schema has extra columns ${have -- want} (use mergeSchema)")
        require(want.subsetOf(have), s"append schema is missing columns ${want -- have}")
        tx.schema
      }
    val aligned = df.select(newSchema.fieldNames.toSeq.map { n =>
      if (df.schema.fieldNames.contains(n))
        df.col(s"`${n.replace("`", "``")}`").cast(newSchema(n).dataType).as(n)
      else lit(null).cast(newSchema(n).dataType).as(n)
    }: _*)
    val added = writeIn(tx, aligned)
    val rows = if (added.forall(_.rows >= 0)) added.map(_.rows).sum else -1L
    tx.stage(op, added, Seq.empty, Map("numFiles" -> added.size.toString,
      "numOutputRows" -> rows.toString) ++ metrics, newSchema)
  }

  /** Did `state` already land `txn`'s batch (or a later one) for its app? */
  private def landed(state: Checkpoint, txn: (String, Long)): Boolean =
    state.txns.flatMap(_.get(txn._1)).exists(_ >= txn._2)

  /** BatchId of the newest commit carrying [[append]]'s `txn` for
    * `appId`, or None (also on an opened path with no commit yet) — the
    * idempotence watermark a restarted writer
    * consults, read from the replayed state (last-write-wins by version;
    * under the streaming contract, batchIds monotone per appId, also the
    * highest). O(CheckpointInterval) reads, hit or miss, except behind a
    * legacy checkpoint without `txns`, whose older commits are folded
    * too (self-heals at the next checkpoint). */
  def lastTxnBatchId(appId: String): Option[Long] =
    pin(withTxns = true).state.txns.flatMap(_.get(appId))

  /** Physically write `df` for a transaction step, partitioned as `tx`'s
    * table, into the data dir via a staging dir + per-file rename; returns
    * the added FileEntries. Each moved file is recorded on `tx` at once,
    * so a throw before the step stages (or before the publish) deletes it. */
  private def writeIn(tx: Txn, df: DataFrame): Seq[FileEntry] = {
    val (f, partCols) = (fs, tx.partCols)
    val stage = new Path(rootPath, s".stage-${UUID.randomUUID()}")
    // Table files are written as TIMESTAMP_MICROS, never the INT96
    // default: INT96 is deprecated and parquet suppresses its min/max
    // footer stats, which would silently disable file-level data skipping
    // on every timestamp column. Scoped to table writes only so
    // query-result dumps keep the session's default — the scope is
    // REFERENCE-COUNTED per session (VersionedTable.enterMicrosTsScope)
    // because concurrent same-session table writes are a supported path
    // (streaming sinks, CAS-retried appends): a naive set/restore pair
    // interleaving across two writers would restore the OVERRIDE as the
    // "previous" value and leak it into the session permanently.
    VersionedTable.enterMicrosTsScope(spark)
    try {
      // partition columns first: the writer's sort, its partition-value
      // projection and its path expression then read the same ordinals in
      // every table laid out by the same partition types, so they share
      // generated classes; the files hold the data columns either way
      val cols = partCols ++ df.columns.filterNot(partCols.contains)
      var writer = df.select(cols.map(c => df.col(s"`${c.replace("`", "``")}`")): _*)
        .write.mode("overwrite")
      // per-column parquet bloom filters (table property): written into
      // the file footer region by parquet-mr itself — no extra data pass,
      // nothing stored in the commit log. Probed by pruneFiles.
      bloomColumns.filter(df.schema.fieldNames.contains).foreach { c =>
        writer = writer
          .option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c",
            tableProps.getOrElse(BloomNdvProp, "1000000"))
      }
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(stage.toString)
    } finally VersionedTable.exitMicrosTsScope(spark)
    val moved = scala.collection.mutable.ArrayBuffer[(String, Path, Long)]()
    def walk(dir: Path, rel: String): Unit =
      f.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
        else if (name.endsWith(".parquet")) {
          val relPath = if (rel.isEmpty) name else s"$rel/$name"
          val dest = new Path(dataDir, relPath)
          f.mkdirs(dest.getParent)
          if (!f.rename(st.getPath, dest))
            throw new IllegalStateException(s"failed to move $relPath into $dataDir")
          moved += ((relPath, dest, st.getLen))
          tx.written += relPath
        }
      }
    walk(stage, "")
    f.delete(stage, true)
    statsForMoved(moved.toSeq)
  }

  /** Footer stats for a commit's written files, Delta-style: metadata-
    * only footer fetches, parallelized two ways by file count.
    *  - Small commits: a driver parallel collection — O(files /
    *    driver-cores), no job-scheduling overhead.
    *  - Past [[VersionedTable.ExecutorStatsFileThreshold]] files: ONE
    *    Spark job over the paths, so a 100 TB commit writing tens of
    *    thousands of files reads footers at CLUSTER parallelism instead
    *    of serializing (even in parallel) on the driver — driver state
    *    stays one small FileEntry per file, exactly what the commit log
    *    stores anyway.
    * Output order matches the walk order either way, keeping commit-log
    * file order deterministic. */
  private[tables] def statsForMoved(moved: Seq[(String, Path, Long)],
      executorThreshold: Int = VersionedTable.ExecutorStatsFileThreshold): Seq[FileEntry] =
    if (moved.size < executorThreshold) {
      import scala.collection.parallel.CollectionConverters._
      moved.par.map { case (relPath, dest, len) =>
        val (stats, rowCount) = footerInfo(dest)
        FileEntry(relPath, partitionValuesOf(relPath), len, stats, rowCount)
      }.seq
    } else {
      val confThunk = org.apache.spark.GraftSparkBridge
        .confFactory(spark.sparkContext.hadoopConfiguration)
      val byPath = spark.sparkContext
        .parallelize(moved.map(_._2.toString),
          math.min(moved.size, spark.sparkContext.defaultParallelism * 2))
        .map { p =>
          val (stats, rowCount) =
            VersionedTable.footerInfoAt(new Path(p), confThunk())
          (p, (stats, rowCount))
        }
        .collect().toMap
      moved.map { case (relPath, dest, len) =>
        val (stats, rowCount) = byPath(dest.toString)
        FileEntry(relPath, partitionValuesOf(relPath), len, stats, rowCount)
      }
    }

  /** Column min/max/null stats AND row count from the parquet footer of
    * one written file — metadata-only, no data read. Delegates to the
    * static [[VersionedTable.footerInfoAt]] (shared with the
    * executor-side stats job). */
  private def footerInfo(file: Path): (Option[Map[String, FileColStats]], Long) =
    VersionedTable.footerInfoAt(file, spark.sparkContext.hadoopConfiguration)

  /** Epoch micros of a timestamp stat or bound. A string (ISO 'T' or
    * space form) honours an offset suffix — parquet writes UTC-adjusted
    * stats as `...+0000` — and without one is wall-clock time in
    * [[zoneOf]] the column type, never in the JVM's default zone. */
  private def tsMicros(b: Any, zone: ZoneId): Long = {
    val i = b match {
      case t: Timestamp => t.toInstant
      case i: Instant => i
      case l: LocalDateTime => l.atZone(zone).toInstant
      case other => val TsForm(local, offset) = other.toString.trim
        LocalDateTime.parse(local.replace(' ', 'T'))
          .atZone(Option(offset).map(ZoneOffset.of).getOrElse(zone)).toInstant
    }
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  /** TIMESTAMP: the session zone; TIMESTAMP_NTZ: UTC on both sides. */
  private def zoneOf(dt: DataType): ZoneId =
    if (dt == TimestampNTZType) ZoneOffset.UTC
    else ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
  private def boundDate(b: Any): java.time.LocalDate = b match {
    case d: java.sql.Date => d.toLocalDate
    case d: java.time.LocalDate => d
    case other => java.time.LocalDate.parse(other.toString.trim.take(10))
  }

  /** Type-aware comparison of two values — parquet footer stat strings
    * or caller-supplied bounds, in any mix — under the column's DECLARED
    * table type. None ⇒ not comparable (unparseable form, unsupported
    * type) — the caller must conservatively keep the file. Fixes the
    * lexical-compare hazard where e.g. a timestamp stat
    * "2023-01-27T10:00:00.000000" compared against the bound string
    * "2023-01-27 10:00:00" ('T' > ' ') silently skipped files that
    * contained matching rows. */
  private def cmpTyped(a: Any, b: Any, dt: DataType): Option[Int] =
    try {
      import org.apache.spark.sql.types._
      dt match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType =>
          Some(BigDecimal(a.toString.trim).compare(BigDecimal(b.toString.trim)))
        case StringType => Some(a.toString.compareTo(b.toString))
        case DateType => Some(boundDate(a).compareTo(boundDate(b)))
        case TimestampType | TimestampNTZType =>
          val z = zoneOf(dt)
          Some(java.lang.Long.compare(tsMicros(a, z), tsMicros(b, z)))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Can `fe` contain rows with `colName` ∈ [lo, hi]? A `null` edge is an
    * open bound; two `null` edges constrain nothing. Conservative:
    * missing/unparseable stats keep the file; all-null files are skipped
    * (a bound never matches NULL). */
  private def fileOverlaps(fe: FileEntry, colName: String, lo: Any, hi: Any,
                           dt: Option[DataType]): Boolean =
    (lo == null && hi == null) || (fe.stats.flatMap(_.get(colName)) match {
      case Some(s) if !s.hasMinMax => false // all NULL
      case Some(s) =>
        // column not in schema — never skip; overlap: min <= hi AND
        // lo <= max, keeping the file on any None
        dt.forall(t => (hi == null || cmpTyped(s.min, hi, t).forall(_ <= 0)) &&
          (lo == null || cmpTyped(s.max, lo, t).forall(_ >= 0)))
      case None => true
    })

  /** The data-skipping rule every file-selecting operation shares (every
    * filtered read through [[LogFileIndex]], DELETE, UPDATE and MERGE, as
    * Delta applies one stats rule to queries and DML): a file survives
    * only if its footer stats overlap EVERY `(column, lo, hi)` bound and,
    * for an equality bound (`lo == hi`) on a declared bloom column, its
    * parquet bloom filter might contain the value. Stats can't prune a
    * point lookup on a uniformly-spread key — every file's [min,max]
    * covers it — which is exactly where the bloom bites. The bloom probe is a footer-region
    * metadata read per stats candidate, driver-side here; a deployment
    * with millions of candidates would run the same probe as an
    * executor-parallel job over the file list (Hudi's bloom-index tag
    * step). Skipped files provably hold no row inside the bounds.
    * @return (candidates after stats and bloom, count after stats alone)
    *         — the two counts attribute pruning to stats vs bloom */
  private[tables] def pruneFiles(files: Seq[FileEntry], schema: StructType,
                                 bounds: Seq[(String, Any, Any)]): (Seq[FileEntry], Int) = {
    val typed = bounds.map { case (c, lo, hi) =>
      (c, lo, hi, schema.fields.find(_.name == c).map(_.dataType))
    }
    val statsCand = files.filter(fe =>
      typed.forall { case (c, lo, hi, dt) => fileOverlaps(fe, c, lo, hi, dt) })
    val blooms = typed.collect {
      case (c, v, hi, Some(t)) if v != null && v == hi && bloomColumns.contains(c) => (c, v, t)
    }
    (statsCand.filter(fe => blooms.forall { case (c, v, t) =>
      bloomMightContain(fe, c, v, t).getOrElse(true)
    }), statsCand.size)
  }

  /** Probe one file's parquet bloom filter(s) for `value`. Some(false) ⇒
    * provably absent (every row group has a bloom and none matches);
    * Some(true) ⇒ possibly present; None ⇒ undecidable (no bloom on some
    * row group, unsupported type, IO failure) — caller must keep the
    * file. The hash must match the column's parquet PHYSICAL type, so the
    * value is converted under the declared table type (timestamps are
    * written TIMESTAMP_MICROS by [[writeIn]] ⇒ int64 micros). */
  private def bloomMightContain(fe: FileEntry, colName: String, value: Any,
                                dt: DataType): Option[Boolean] =
    try {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types._
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(dataDir, fe.path), spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        var any = false
        for (block <- reader.getFooter.getBlocks.asScala) {
          val chunk = block.getColumns.asScala
            .find(c => c.getPath.size == 1 && c.getPath.toDotString == colName)
            .getOrElse(return None)
          val bf = reader.getBloomFilterDataReader(block).readBloomFilter(chunk)
          if (bf == null) return None
          val hash = dt match {
            case ByteType | ShortType | IntegerType =>
              bf.hash(value.toString.trim.toDouble.toInt)
            case LongType => bf.hash(value.toString.trim.toDouble.toLong)
            case FloatType => bf.hash(value.toString.trim.toFloat)
            case DoubleType => bf.hash(value.toString.trim.toDouble)
            case StringType =>
              bf.hash(org.apache.parquet.io.api.Binary.fromString(value.toString))
            case DateType => bf.hash(boundDate(value).toEpochDay.toInt)
            case TimestampType | TimestampNTZType => bf.hash(tsMicros(value, zoneOf(dt)))
            case _ => return None
          }
          if (bf.findHash(hash)) any = true
        }
        Some(any)
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  // -------------------------------------------------------- maintenance --

  /** Bin-pack small files (OPTIMIZE): partitions accumulating many
    * sub-`targetBytes` files — the natural debris of per-batch MERGEs —
    * are rewritten into ~targetBytes files and committed as one
    * remove+add version. Data is byte-identical; only layout changes.
    * Essential at scale: a daily-merged 100 TB table otherwise degrades
    * into millions of tiny scans.
    *
    * With `clusterBy`, rewritten data is range-partitioned and sorted on
    * those columns: each output file then covers a TIGHT min/max range on
    * the LEADING column, which is what makes footer-stats skipping
    * (every filtered read, DML and merge-target pruning) bite on
    * non-partition columns. A linear sort leaves trailing columns'
    * per-file ranges wide.
    *
    * With `zOrderBy` (mutually exclusive), files are laid out along a
    * Z-order space-filling curve over ALL the given columns (Delta's
    * OPTIMIZE ZORDER): each file covers a hypercube-ish tile, so stats
    * pruning bites on EVERY z column, not just the first. Equal-width
    * bucketing (one bounded min/max agg, then bit interleaving — all
    * codegen'd expressions); heavy value skew degrades tiles toward the
    * linear layout but never affects correctness.
    * @return number of files compacted away (0 = nothing to do) */
  def compact(targetBytes: Long = 128L * 1024 * 1024,
              clusterBy: Seq[String] = Seq.empty,
              zOrderBy: Seq[String] = Seq.empty): Int = transaction { tx =>
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are mutually exclusive")
    val (tableSchema, partCols) = (tx.schema, tx.partCols)
    // only partitions with 2+ small files benefit — unless clustering was
    // requested, which re-sorts every small file even alone in its partition
    val reSort = clusterBy.nonEmpty || zOrderBy.nonEmpty
    val byPartition = tx.files.groupBy(_.partitionValues)
    // bin-packing selects only small files (rewriting a full-size file to
    // produce another full-size file is wasted IO); a clustering rewrite
    // selects EVERY file — the point is the global layout, and a large
    // unsorted file left in place would keep its wide per-file ranges
    // (Delta's OPTIMIZE ZORDER rewrites all selected partitions too)
    val toCompact = byPartition.values
      .map(fs => if (reSort) fs else fs.filter(_.sizeBytes < targetBytes))
      .filter(fs => fs.size >= 2 || (reSort && fs.nonEmpty))
      .flatten.toSeq
    if (toCompact.nonEmpty) {
      val totalBytes = toCompact.map(_.sizeBytes).sum
      val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      val df = readFiles(toCompact, tableSchema, partCols)
      val packed =
        if (zOrderBy.nonEmpty) {
          val ZKey = "__graft_zkey"
          val keyed = df.withColumn(ZKey, zOrderKey(df, zOrderBy, tableSchema))
          keyed.repartitionByRange(nOut, (partCols.map(col) :+ col(ZKey)): _*)
            .sortWithinPartitions((partCols.map(col) :+ col(ZKey)): _*)
            .drop(ZKey) // projection after the sort — order survives, schema doesn't change
        } else if (clusterBy.nonEmpty)
          df.repartitionByRange(nOut, (partCols ++ clusterBy).map(col): _*)
            .sortWithinPartitions((partCols ++ clusterBy).map(col): _*)
        else if (partCols.nonEmpty) df.repartition(nOut, partCols.map(col): _*)
        else df.repartition(nOut)
      val added = writeIn(tx, packed)
      tx.stage("OPTIMIZE", added, toCompact.map(_.path),
        Map("numFilesRemoved" -> toCompact.size.toString,
          "numFilesAdded" -> added.size.toString,
          "bytesCompacted" -> totalBytes.toString,
          "clusterBy" -> clusterBy.mkString(","),
          "zOrderBy" -> zOrderBy.mkString(",")))
    }
    toCompact.size
  }

  /** Z-value column for [[compact]]'s `zOrderBy` layout: each column is
    * mapped to a `bits`-wide equal-width bucket between its global min and
    * max (ONE bounded agg — 2·n driver-side scalars, never row data), and
    * the bucket bits are interleaved into one long. Range-partitioning on
    * the interleaved key then yields hypercube-ish file tiles, tight on
    * every z dimension at once. NULLs and all-NULL/constant columns fold
    * to bucket 0. Numeric, date and timestamp columns only — a string
    * prefix has no fixed-width order-preserving integer form. */
  private def zOrderKey(df: DataFrame, zCols: Seq[String],
                        schema: StructType): Column = {
    import org.apache.spark.sql.types._
    val numeric: Seq[(String, Column)] = zCols.map { c =>
      val dt = schema.fields.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"zOrderBy column $c is not in the table schema")).dataType
      val d = dt match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType => col(c).cast(DoubleType)
        case DateType => unix_date(col(c)).cast(DoubleType)
        case TimestampType | TimestampNTZType => unix_micros(col(c)).cast(DoubleType)
        case other => throw new IllegalArgumentException(
          s"zOrderBy supports numeric/date/timestamp columns; $c is $other")
      }
      c -> d
    }
    val aggs = numeric.flatMap { case (_, d) => Seq(min(d), max(d)) }
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val bits = math.min(20, 62 / zCols.size)
    val buckets = 1L << bits
    val bucketCols = numeric.zipWithIndex.map { case ((_, d), i) =>
      if (bounds.isNullAt(2 * i) || bounds.getDouble(2 * i) == bounds.getDouble(2 * i + 1))
        lit(0L) // all-NULL or constant column carries no information
      else {
        val (lo, hi) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
        // width_bucket: [lo,hi) → 1..buckets, hi itself → buckets+1; shift
        // to 0-based and clamp the max-value row into the top bucket
        least(lit(buckets - 1), greatest(lit(0L),
          coalesce(width_bucket(d, lit(lo), lit(hi), lit(buckets)), lit(1L)) - 1))
      }
    }
    val terms = for {
      b <- 0 until bits
      (bc, i) <- bucketCols.zipWithIndex
    } yield shiftleft(shiftright(bc, b).bitwiseAND(lit(1L)), b * zCols.size + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Delete data files no longer referenced by any of the last
    * `retainVersions` snapshots (VACUUM): merge/compaction leave removed
    * files on disk for time travel; vacuum reclaims them. Time travel to
    * versions older than the retained window stops working afterwards —
    * the same contract as Delta's VACUUM retention.
    * @return number of files deleted */
  def vacuum(retainVersions: Int = 2): Int = {
    require(retainVersions >= 1, "must retain at least the current version")
    val log = listLog()
    if (log.commits.isEmpty) return 0
    // the retained versions' files, in one fold: the oldest one's state,
    // plus every file a later commit adds. dv sidecars live under
    // data/_dv/ — referenced ones are as live as the data files
    // themselves; unreferenced ones get reclaimed here
    val oldest = log.commits.takeRight(retainVersions).head._1
    val live: Set[String] = (replay(Some(oldest), log = log).state.files ++
      commitsOf(log.commits.iterator.filter(_._1 > oldest)).flatMap(_.add))
      .flatMap(fe => fe.path +: fe.dv).toSet
    val f = fs
    if (!f.exists(dataDir)) return 0
    var deleted = 0
    def walk(dir: Path, rel: String): Unit =
      f.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        val relPath = if (rel.isEmpty) name else s"$rel/$name"
        if (st.isDirectory) {
          walk(st.getPath, relPath)
          if (f.listStatus(st.getPath).isEmpty) f.delete(st.getPath, false)
        } else if (name.endsWith(".parquet") && !live.contains(relPath)) {
          if (f.delete(st.getPath, false)) deleted += 1
        }
      }
    walk(dataDir, "")
    deleted
  }

  /** Truncate the commit log: delete commit JSONs and checkpoints older
    * than the newest checkpoint that still covers `retainVersions` of
    * history — Delta's metadata-cleanup analog (`delta.logRetention`),
    * so a long-lived table (streaming sink, frequent small merges) keeps
    * a BOUNDED log dir instead of growing one JSON per commit forever.
    * The anchor checkpoint and everything after it are untouched, so
    * reads, time travel at/above the truncation point, txn watermarks
    * and CDC over the surviving range all keep working; time travel
    * BELOW it stops (as in Delta after metadata cleanup). Returns the
    * number of files deleted; 0 when no checkpoint old enough exists. */
  def cleanLog(retainVersions: Int = 2 * CheckpointInterval.toInt): Int = {
    require(retainVersions >= 1, "must retain at least the current version")
    val f = fs
    val Log(commits, cps) = listLog()
    if (commits.isEmpty) return 0
    val floor = commits.last._1 - retainVersions + 1
    // The anchor must PROVE it can replace the commits being deleted:
    // parse it now (deleting history below an unreadable checkpoint
    // bricks the table) and require the folded txns map (a legacy
    // pre-txns checkpoint would permanently destroy every watermark
    // whose only record is a commit below it — wait one more checkpoint,
    // which self-heals the map, then truncate).
    val base = cps.filter(_._1 <= floor).lastOption
      .filter { case (_, p) => readCheckpoint(p).exists(_.txns.isDefined) }
      .map(_._1) match {
      case None => return 0 // no safe anchor below the floor — drop nothing
      case Some(v) => v
    }
    var deleted = 0
    commits.filter(_._1 < base).foreach { case (_, p) =>
      if (f.delete(p, false)) deleted += 1
    }
    cps.filter(_._1 < base).foreach { case (_, p) =>
      if (f.delete(p, false)) deleted += 1
    }
    deleted
  }

  /** The top-level `AND` conjuncts of a SQL condition, parsed (not split
    * as a string); a parse failure throws. */
  private def conjunctsOf(condition: String): Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    split(spark.sessionState.sqlParser.parseExpression(condition))
  }

  /** Conservative per-column bounds implied by a predicate's top-level
    * conjuncts, for stats-based file skipping: `c = 5` ⇒ [5,5],
    * `c > 5 AND c <= 9` ⇒ [5,9] (inequality edges kept inclusive — stats
    * pruning may only over-approximate), `c IN (…literals)` ⇒ [min,max]
    * under `c`'s type in `schema` (a literal's own type is the parser's
    * guess in a DML condition). Takes parsed DML conditions
    * ([[conjunctsOf]]) and the resolved data filters Catalyst pushes into
    * a scan ([[LogFileIndex]]) alike. Any shape it doesn't recognize (OR
    * at the top, casts, functions, `InSet`, non-literal operands, an IN
    * whose values don't compare under the column's type) contributes
    * nothing — pruning is an optimization, never a guess. */
  private[tables] def boundsOf(conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                               schema: StructType): Seq[(String, Any, Any)] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression => CExpr,
      GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal => CLit}
    def colOf(e: CExpr): Option[String] = e match {
      case UnresolvedAttribute(Seq(c)) => Some(c)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def valOf(e: CExpr): Option[Any] = e match {
      case CLit(v, dt) if v != null =>
        Some(CatalystTypeConverters.convertToScala(v, dt))
      case _ => None
    }
    try {
      conjuncts
        .flatMap {
          case EqualTo(a, b) =>
            colOf(a).zip(valOf(b)).map { case (c, v) => (c, v, v) } ++
              colOf(b).zip(valOf(a)).map { case (c, v) => (c, v, v) }
          case GreaterThan(a, b) =>
            colOf(a).zip(valOf(b)).map { case (c, v) => (c, v, null) } ++
              colOf(b).zip(valOf(a)).map { case (c, v) => (c, null, v) }
          case GreaterThanOrEqual(a, b) =>
            colOf(a).zip(valOf(b)).map { case (c, v) => (c, v, null) } ++
              colOf(b).zip(valOf(a)).map { case (c, v) => (c, null, v) }
          case LessThan(a, b) =>
            colOf(a).zip(valOf(b)).map { case (c, v) => (c, null, v) } ++
              colOf(b).zip(valOf(a)).map { case (c, v) => (c, v, null) }
          case LessThanOrEqual(a, b) =>
            colOf(a).zip(valOf(b)).map { case (c, v) => (c, null, v) } ++
              colOf(b).zip(valOf(a)).map { case (c, v) => (c, v, null) }
          case In(a, list) if list.nonEmpty =>
            val vs = list.flatMap(valOf)
            for {
              c <- colOf(a) if vs.size == list.size
              dt <- schema.fields.find(_.name == c).map(_.dataType)
              if vs.forall(cmpTyped(_, vs.head, dt).isDefined) // every value parses
              sorted = vs.sortWith(cmpTyped(_, _, dt).exists(_ < 0))
            } yield (c, sorted.head, sorted.last)
          case _ => Seq.empty
        }
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }
  }

  // ------------------------------------------------------------- delete --

  /** DELETE rows matching `condition` (bare column names — the predicate
    * is evaluated on the table's own schema, no alias).
    *
    * Two physical strategies, same logical result:
    *  - `deletionVectors = false` (default): files containing matched rows
    *    are rewritten without them — Delta's classic DELETE. Cost scales
    *    with the SIZE of the touched files, even when the match is 1 row.
    *  - `deletionVectors = true`: matched (file, row-index) pairs are
    *    written to a tiny parquet sidecar under `data/_dv/` and the
    *    touched entries re-committed pointing at it — no data file is
    *    read-rewritten, so cost scales with the NUMBER of deleted rows.
    *    On a 100 TB table, deleting a user's rows for a takedown request
    *    becomes a sidecar write instead of a multi-TB rewrite. The scan
    *    drops the marked rows of each file as it reads it (see
    *    [[readFiles]]); the next merge/compact touching a file
    *    rewrites it clean and drops its vector, and [[vacuum]] reclaims
    *    unreferenced sidecars. DVs are for SMALL deletions by contract —
    *    a delete matching most of the table should rewrite instead.
    *
    * Either way the probe is the one [[rewriteMatching]] shares with
    * UPDATE. A delete matching nothing commits nothing.
    * @return number of rows deleted */
  def delete(condition: String, deletionVectors: Boolean = false): Long =
    rewriteMatching("DELETE", condition, "numDeletedRows",
      Map("deletionVectors" -> deletionVectors.toString), deletionVectors) { _ =>
      // NULL-condition rows are kept — exactly the rows the probe's
      // filter(condition) did not match
      _.filter(!coalesce(expr(condition), lit(false)))
    }

  // ------------------------------------------------------------- update --

  /** UPDATE rows matching `condition`: `set` maps column name → SQL
    * expression (bare column names on both — evaluated on the table's own
    * schema). Only the files holding matched rows are rewritten (matched
    * rows transformed, neighbors copied), everything else is carried by
    * reference. Rows whose condition evaluates NULL are not matched —
    * same as the probe's filter. A rewrite of a DV'd file applies the
    * vector first and drops it. An update matching nothing commits
    * nothing.
    * @return number of rows updated */
  def update(condition: String, set: Map[String, String]): Long =
    rewriteMatching("UPDATE", condition, "numUpdatedRows") { tableSchema =>
      val unknown = set.keySet.filterNot(tableSchema.fieldNames.contains)
      require(unknown.isEmpty, s"update sets unknown column(s): ${unknown.mkString(", ")}")
      val cond = coalesce(expr(condition), lit(false))
      val out = tableSchema.fields.toSeq.map { f =>
        set.get(f.name)
          .map(e => when(cond, expr(e).cast(f.dataType)).otherwise(col(f.name)))
          .getOrElse(col(f.name)).as(f.name)
      }
      _.select(out: _*)
    }

  /** The body DELETE and UPDATE share, run as a one-step [[transaction]]:
    * probe → touched files → rewrite → stage. The probe is ONE DV-applied
    * job over the predicate's
    * [[pruneFiles]] candidates — recognized conjunct bounds (`=`, `<`,
    * `<=`, `>`, `>=`, `IN`, see [[boundsOf]]) skip files whose
    * footer stats (and bloom filters, for equality on a declared bloom
    * column) prove no match, so a point delete on a clustered table reads
    * candidates, not the table. It yields exact per-file match counts;
    * files without matches are never read again. The touched files are
    * rewritten through the projection `project` builds from the table
    * schema — or, with `deletionVectors`, marked by a sidecar instead.
    * A probe matching nothing commits nothing.
    * @return number of matched rows */
  private def rewriteMatching(op: String, condition: String, rowsKey: String,
                              extraMetrics: Map[String, String] = Map.empty,
                              deletionVectors: Boolean = false)
                             (project: StructType => DataFrame => DataFrame): Long =
    transaction { tx =>
      val (files, tableSchema) = (tx.files, tx.schema)
      val rewrite = project(tableSchema)
      val (cand, _) = pruneFiles(files, tableSchema, boundsOf(conjunctsOf(condition), tableSchema))
      // cand is this condition's pruning: the index must not re-probe blooms
      val matched = readFiles(cand, tableSchema, tx.partCols, keepMeta = true, skipping = false)
        .filter(expr(condition))
      // the sidecar write re-reads the matched rows
      if (deletionVectors) matched.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val touched = if (cand.isEmpty) Seq.empty else touchedFiles(files,
          matched.groupBy(col(FileCol)).agg(count(lit(1))).collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq)
        val rows = touched.map(_._2).sum
        val entries = touched.map(_._1)
        val metrics = extraMetrics ++ Map(
          rowsKey -> rows.toString,
          "numTouchedFiles" -> entries.size.toString,
          "numFilesUntouched" -> (files.size - entries.size).toString,
          "numFilesSkippedByStats" -> (files.size - cand.size).toString)
        if (touched.isEmpty) () // matched nothing: stage nothing
        else if (deletionVectors) {
          // remap the scan paths to log paths through a broadcast of the
          // touched entries — the join can never miss, touchedFiles
          // matched every probe path exactly
          val lookup = spark.createDataFrame(
            touched.map { case (fe, _) => (scanPath(fe), fe.path) }).toDF(FileCol, "file")
          val dvName = s"_dv/${UUID.randomUUID()}"
          val dvDir = new Path(dataDir, dvName)
          tx.written += dvName
          matched.select(col(FileCol), col(RowIdxCol))
            .join(broadcast(lookup), FileCol)
            .select(col("file"), col(RowIdxCol).as("row_idx"))
            .write.parquet(dvDir.toString)
          val sidecars = fs.listStatus(dvDir).map(_.getPath.getName)
            .filter(_.endsWith(".parquet")).sorted
            .map(n => s"$dvName/$n").toSeq
          val updated = touched.map { case (fe, n) =>
            fe.copy(dv = fe.dv ++ sidecars, dvRows = fe.dvRows + n)
          }
          // add-with-same-path REPLACES the entry on replay — the data
          // file stays live, only its DV reference set changes
          tx.stage(op, updated, Seq.empty, metrics)
        } else {
          val added = writeIn(tx, rewrite(readFiles(entries, tableSchema, tx.partCols)))
          tx.stage(op, added, entries.map(_.path),
            metrics ++ Map(
              "numTargetFilesAdded" -> added.size.toString,
              "numTargetFilesRemoved" -> entries.size.toString))
        }
        rows
      } finally if (deletionVectors) matched.unpersist(false)
    }

  /** The probe → touched-files step of DELETE, UPDATE and MERGE: maps
    * each collected (scan path, count) row to the live entry whose
    * [[scanPath]] it is. A path that names no live entry throws — read
    * as untouched, its matched rows would silently survive.
    * @return (entry, count) per touched file, in snapshot order */
  private def touchedFiles(files: Seq[FileEntry],
                           perFile: Seq[(String, Long)]): Seq[(FileEntry, Long)] = {
    val byScan = files.map(fe => scanPath(fe) -> fe).toMap
    val counts = perFile.map { case (p, n) =>
      byScan.getOrElse(p, throw new IllegalStateException(s"unknown file in scan: $p")).path -> n
    }.toMap
    files.flatMap(fe => counts.get(fe.path).map(n => (fe, n)))
  }

  // -------------------------------------------------------------- merge --

  /** Delta-style MERGE builder (reference API usage:
    * src/header_etl.py:205-215,253-280; src/items_etl.py:114-143). */
  def merge(source: DataFrame, condition: String): MergeBuilder =
    new MergeBuilder(this, aliasName.getOrElse("existing"), source, condition, None)

  /** [[merge]] and `read` of a [[Txn]] opened on this handle (same alias). */
  private[tables] def mergeIn(tx: Txn, source: DataFrame, condition: String): MergeBuilder =
    new MergeBuilder(this, aliasName.getOrElse("existing"), source, condition, Some(tx))
  private[tables] def readIn(tx: Txn): DataFrame = {
    val df = readFiles(tx.files, tx.schema, tx.partCols)
    aliasName.fold(df)(df.alias)
  }

  /** One MERGE step: staged into `txn`, or run as a one-step
    * [[transaction]] of its own.
    * @return the step's operation metrics */
  private[tables] def executeMerge(txn: Option[Txn], m: MergeBuilder): Map[String, String] = {
    // The source is consumed 2-3 times (the stats pass, the file-prune
    // probe, then the rewrite or anti join) — persist it so the lineage
    // runs once. An SCD2 merge source can be a join/aggregate over the
    // TARGET TABLE itself (HeaderEtlJob Phase A's first-change frame):
    // unpersisted, every evaluation replays a table scan plus a shuffle
    // join. GUARDED (guide §5: caching competes with execution memory):
    // only a plan with a join/aggregate/window/generate above its scans —
    // in the analyzed plan, or introduced by the optimizer (a distinct
    // becomes an Aggregate) — gets a second materialization. The test
    // reads the analyzed plan, which keeps the lineage beneath a cache:
    // a projection over the caller's ALREADY-CACHED batch whose lineage
    // holds a window (the header job's Phase-B staging, both items steps)
    // is persisted too, a second copy of the batch. The key bounds come
    // from that copy's statistics ([[keyBounds]]).
    // Non-deterministic sources are persisted regardless of shape:
    // re-evaluating one across the probe/rewrite passes would let the
    // probe and the rewrite see DIFFERENT rows. try/finally: any failure
    // must still release the cached blocks. A stand-alone merge's retry
    // loop sits INSIDE the persist scope: a CAS-losing merge re-runs
    // reusing the cached source.
    val srcExpensive = {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan, Window => LWindow}
      def heavy(p: LogicalPlan): Boolean = p match {
        case _: Join | _: Aggregate | _: LWindow | _: Generate => true
        case _ => false
      }
      m.source.queryExecution.analyzed.exists(p => heavy(p) || !p.deterministic) ||
        m.source.queryExecution.optimizedPlan.exists(heavy)
    }
    val doPersist = srcExpensive && m.source.storageLevel == StorageLevel.NONE
    val src = if (doPersist) m.source.persist(StorageLevel.MEMORY_AND_DISK) else m.source
    def step(tx: Txn) = runMerge(tx, m, src, planMerge(tx, m, src))
    try txn.fold(transaction(step))(step)
    finally if (doPersist) src.unpersist(false)
  }

  /** Simple conjunctive equi-predicates `targetAlias.col = <srcExpr>`
    * (either side) extracted from a merge condition, for stats-based
    * target pruning and the merge-cardinality fast path. Implemented as a
    * walk over the PARSED Catalyst expression tree (not string surgery):
    * the condition is split on `And` nodes, and each `EqualTo` conjunct
    * qualifies when exactly one side is a plain `targetAlias.col`
    * attribute and the other side references no target attribute at all —
    * so parenthesization, function-wrapped source expressions, and
    * whitespace never change the answer. Conservative on every other
    * shape (Or, inequalities, null-safe `<=>`, unparseable input):
    * pruning is an optimization and must never guess.
    * @return (pairs, pure) — `pure` is true iff EVERY conjunct parsed as
    *         such an equi-predicate, i.e. the pairs fully characterize
    *         the join condition */
  private[tables] def equiPairs(condition: String, targetAlias: String): (Seq[(String, String)], Boolean) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression => CExpr}
    def targetCol(e: CExpr): Option[String] = e match {
      case UnresolvedAttribute(Seq(q, c)) if q.equalsIgnoreCase(targetAlias) => Some(c)
      case _ => None
    }
    def referencesTarget(e: CExpr): Boolean = e.exists {
      case UnresolvedAttribute(parts) =>
        parts.length >= 2 && parts.head.equalsIgnoreCase(targetAlias)
      case _ => false
    }
    try {
      val parsed = conjunctsOf(condition).map {
        case EqualTo(l, r) =>
          (targetCol(l), targetCol(r)) match {
            case (Some(c), None) if !referencesTarget(r) => Some(c -> r.sql)
            case (None, Some(c)) if !referencesTarget(l) => Some(c -> l.sql)
            case _ => None
          }
        case _ => None
      }
      (parsed.flatten, parsed.forall(_.isDefined) && parsed.nonEmpty)
    } catch { case scala.util.control.NonFatal(_) => (Seq.empty, false) }
  }

  /** The one read path: `entries` as ONE relation over a
    * [[LogFileIndex]], their deletion vectors applied inside the scan
    * ([[DeletionVectorParquetFormat]]). The frame has the table's
    * columns, partition columns last and every field nullable (a parquet
    * source's read schema). `keepMeta=true` also exposes
    * [[VersionedTable.FileCol]] (`_metadata.file_path`, i.e. [[scanPath]])
    * and [[VersionedTable.RowIdxCol]] (`_metadata.row_index`) as columns
    * for the DML and merge probes. `skipping=false` lists `entries`
    * without pruning them again, for a caller that already ran
    * [[pruneFiles]] on the filter it applies. */
  private def readFiles(entries: Seq[FileEntry], schema: StructType, partCols: Seq[String],
                        keepMeta: Boolean = false, skipping: Boolean = true): DataFrame = {
    val scan = spark.baseRelationToDataFrame(fileRelation(Some(entries), schema, partCols, skipping))
    if (!keepMeta) scan
    else scan.withColumns(Map(FileCol -> col("_metadata.file_path"), RowIdxCol -> col("_metadata.row_index")))
  }

  /** The table at `asOf` as the `graft` data source's relation; without
    * `asOf` unpinned, so a `USING graft` table sees every later commit. */
  private[graft] def relation(asOf: Option[Long]): HadoopFsRelation = {
    val r = replay(asOf)
    fileRelation(asOf.map(_ => r.state.files), r.schema, r.state.partitionColumns, skipping = true)
  }

  private def fileRelation(pinned: Option[Seq[FileEntry]], schema: StructType,
                           partCols: Seq[String], skipping: Boolean): HadoopFsRelation = {
    val nullable = org.apache.spark.sql.GraftColumnBridge.asNullable(schema)
    val partSchema = StructType(partCols.map(nullable(_)))
    val index = new LogFileIndex(this, pinned, schema, partSchema, skipping)
    HadoopFsRelation(index, partSchema,
      StructType(nullable.filterNot(f => partCols.contains(f.name))),
      None, new DeletionVectorParquetFormat(index), Map.empty)(spark)
  }

  /** The sorted row indexes the deletion vectors of `files` mark, by log
    * path, read on the driver without a Spark job (DVs are tiny by
    * contract). A sidecar row is (`file`: log path, `row_idx`). */
  private[tables] def deletedRows(files: Seq[FileEntry]): Map[String, Array[Long]] =
    files.flatMap(_.dv).distinct.flatMap { p =>
      val r = ParquetReader.builder(new GroupReadSupport, new Path(dataDir, p))
        .withConf(spark.sparkContext.hadoopConfiguration).build()
      try Iterator.continually(r.read()).takeWhile(_ != null)
        .map(g => (g.getString("file", 0), g.getLong("row_idx", 0))).toVector
      finally r.close()
    }.groupMap(_._1)(_._2).map { case (f, rows) => f -> rows.toArray.sorted }

  /** Plan one MERGE step: the only place a MERGE decides anything — the
    * evolved schema, the candidate files, what proves the source keys
    * unique, whether the step rewrites and the broadcast test.
    * Runs at most one job (the source stats pass, map-only, no
    * aggregate), writes no file and stages nothing. */
  private[tables] def planMerge(tx: Txn, m: MergeBuilder, src: DataFrame): MergePlan = {
    val files = tx.files
    // Merge-time schema evolution (the reference's autoMerge case,
    // notes.md:102-105; Delta's spark.databricks.delta.schema.autoMerge):
    // columns ASSIGNED by an update/insert clause but absent from the
    // target become new nullable columns. Their type is resolved against
    // the SOURCE frame (the documented contract — a new column's value
    // comes from the batch that introduces it). The evolved schema rides
    // this commit; untouched files are carried by reference and read the
    // new column as NULL — evolving a 100 TB table rewrites nothing extra.
    val evolvedCols: Seq[StructField] =
      if (!m.evolve) Seq.empty
      else {
        val assigned = (m.update.fold(Map.empty[String, String])(_.set) ++
          m.insert.fold(Map.empty[String, String])(_.set)).toSeq
        assigned
          .filterNot { case (n, _) => tx.schema.fieldNames.exists(_.equalsIgnoreCase(n)) }
          .map { case (n, e) =>
            val dt = try src.select(expr(e)).schema.head.dataType
            catch {
              case scala.util.control.NonFatal(ex) => throw new IllegalArgumentException(
                s"schema evolution: the assignment for new column '$n' ($e) " +
                  "must resolve against the source frame", ex)
            }
            StructField(n, dt, nullable = true)
          }
      }
    val schema =
      if (evolvedCols.isEmpty) tx.schema
      else StructType(tx.schema.fields ++ evolvedCols)

    // --- stats pruning: ONE pass over the source --------------------------
    // For each conjunctive equi-key the pass finds its min/max — files
    // that [[pruneFiles]] rules out for those key ranges (stats, and the
    // bloom filter when a key's range is one value) cannot contain
    // matched rows and are skipped by both the insert-only anti-join and
    // the touched-file probe (the same role Delta's file stats play in
    // MERGE). See [[keyBounds]]: the pass is the action that fills a
    // persisted source's cache. Conservative on every failure path:
    // unknown shapes prune nothing.
    val (pairs, pureEqui) = equiPairs(m.condition, m.targetAlias)
    val candidates: Seq[FileEntry] =
      // ≤2 files: the pass costs more than scanning them
      if (pairs.isEmpty || files.size <= 2) files
      else try {
        val bounds = labeled("merge: source stats/cardinality agg") { keyBounds(src, pairs.map(_._2)) }
        pruneFiles(files, schema, pairs.indices.map(i => (pairs(i)._1, bounds(i)._1, bounds(i)._2)))._1
      } catch { case scala.util.control.NonFatal(_) => files }

    // Key uniqueness FROM THE PLAN: when the condition is a PURE
    // equi-conjunction and no two source rows that can match share a
    // key, no target row can be matched by two source rows, so the
    // probe's per-target-row cardinality grouping is provably unnecessary.
    // A source row with a NULL key can never equi-match. Exact rules over
    // the analyzed source, followed through aliases and key-preserving
    // projections (identity column mappings only):
    //  - an Aggregate grouped exactly by (a subset of) the keys — the
    //    canonical SCD2 close source, groupBy(key).agg(min);
    //  - a Filter keeps its child's uniqueness;
    //  - a Filter keeping one row per window partition over (a subset of)
    //    the keys: `count(1) = 1` over the whole unordered partition, or
    //    `row_number() = 1` — the items batch's dedup.
    // Every other shape (joins, unions, generators) is unproven and takes
    // the probe's cardinality check.
    def keysUniqueByPlan: Boolean =
      pureEqui && pairs.nonEmpty && {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeSet, EqualTo,
          Expression => CExpr, RowNumber, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding,
          WindowExpression}
        import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
        import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project,
          SubqueryAlias, Window => LWindow}
        try {
          // the expression defining `a` below `p` and the plan it reads,
          // followed through plain renames and operators that only drop
          // rows or add columns
          def origin(p: LogicalPlan, a: Attribute): Option[(CExpr, LogicalPlan)] = p match {
            case SubqueryAlias(_, child) => origin(child, a)
            case Filter(_, child) => origin(child, a)
            case Project(list, child) => list.find(_.exprId == a.exprId).flatMap {
              case b: Attribute => origin(child, b)
              case Alias(b: Attribute, _) => origin(child, b)
              case Alias(e, _) => Some((e, child))
              case _ => None
            }
            case w: LWindow => w.windowExpressions.collectFirst {
              case al: Alias if al.exprId == a.exprId => (al.child, w.child)
            }.orElse(origin(w.child, a))
            case _ => None
          }
          def isOne(e: CExpr): Boolean = e.foldable && (e.eval() match {
            case n: java.lang.Long => n == 1L
            case n: java.lang.Integer => n == 1
            case _ => false
          })
          // `w = 1` keeps exactly one row per partition of w
          def onePerPartition(w: WindowExpression, keys: AttributeSet): Boolean = {
            val spec = w.windowSpec
            spec.partitionSpec.forall {
              case a: Attribute => keys.contains(a)
              case _ => false
            } && (w.windowFunction match {
              case _: RowNumber => true
              case AggregateExpression(Count(cs), _, false, None, _) =>
                spec.orderSpec.isEmpty && cs.forall(c => c.foldable && c.eval() != null) &&
                  (spec.frameSpecification match {
                    case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) => true
                    case _ => false
                  })
              case _ => false
            })
          }
          def dig(p: LogicalPlan, keys: AttributeSet): Boolean = p match {
            case SubqueryAlias(_, child) => dig(child, keys)
            case Project(projList, child) =>
              val mapped = projList.collect {
                case a: Attribute if keys.contains(a) => a
                case al @ Alias(c: Attribute, _) if keys.contains(al.toAttribute) => c
              }
              mapped.size == keys.size && dig(child, AttributeSet(mapped))
            case Filter(cond, child) =>
              // only a top-level conjunct binds every kept row
              def conjuncts(e: CExpr): Seq[CExpr] = e match {
                case And(l, r) => conjuncts(l) ++ conjuncts(r)
                case _ => Seq(e)
              }
              val onePerKey = conjuncts(cond).collect {
                case EqualTo(a: Attribute, v) if isOne(v) => a
                case EqualTo(v, a: Attribute) if isOne(v) => a
              }.exists(a => origin(child, a).exists {
                case (w: WindowExpression, _) => onePerPartition(w, keys)
                case _ => false
              })
              onePerKey || dig(child, keys)
            case agg: Aggregate =>
              val groupAttrs = agg.groupingExpressions.flatMap {
                case a: Attribute => Some(a)
                case _ => None
              }
              // every grouping expression must be a plain attribute AND a
              // join key: then key tuples are exactly the grouping tuples
              agg.groupingExpressions.nonEmpty &&
                groupAttrs.size == agg.groupingExpressions.size &&
                groupAttrs.forall(keys.contains)
            case _ => false
          }
          val analyzed = src.queryExecution.analyzed
          // source-side key column names: parse each pair's source sql
          // (possibly alias-qualified / backquoted) back to its last part
          val keyNames = pairs.flatMap { case (_, sexpr) =>
            spark.sessionState.sqlParser.parseExpression(sexpr) match {
              case UnresolvedAttribute(parts) => Some(parts.last)
              case _ => None // non-attribute source expr: no inference
            }
          }
          val keyAttrs = keyNames.flatMap(n =>
            analyzed.output.find(_.name.equalsIgnoreCase(n)))
          keyNames.size == pairs.size && keyAttrs.size == pairs.size &&
            dig(analyzed, AttributeSet(keyAttrs))
        } catch { case scala.util.control.NonFatal(_) => false }
      }
    // A step with a matched clause probes the candidates and rewrites the
    // files its clauses change through a left-outer join; an insert-only
    // step rewrites nothing.
    val rewrites = m.update.isDefined || m.delete.isDefined || m.insert.isEmpty

    // --- broadcast the source side of the probe and rewrite joins when its
    // MATERIALIZED (cached) size is provably small: the other side is the
    // table — at 100 TB the only sane plan ships the source to the data,
    // never the reverse (guide §3.1). With it, a small source (e.g. the
    // header job's Phase-A first-change keys) rewrites the touched files in
    // one map-only scan instead of shuffling + sorting every touched row
    // through a sort-merge join. The size comes from the cache's own
    // stats (exact once the stats pass above materialized it), never from
    // a pre-execution estimate; an unpersisted or unmaterialized source
    // conservatively stays un-hinted and Catalyst/AQE decides.
    // `src.storageLevel != NONE` covers both a source executeMerge
    // persisted and one the caller cached. Read strictly after the stats
    // pass above filled the cache, so the InMemoryRelation stats read
    // here are the exact materialized bytes (on the no-stats ≤2-file
    // path the cache may be cold and this reads the estimate — a ≤2-file
    // table is fixture scale, where either join strategy is fine). The
    // anti-join never reads it.
    val sourceSmall = rewrites && src.storageLevel != StorageLevel.NONE && (try {
      src.queryExecution.optimizedPlan.stats.sizeInBytes <= MergeBroadcastSourceBytes
    } catch { case scala.util.control.NonFatal(_) => false })

    MergePlan(schema, evolvedCols.size, candidates, files.size - candidates.size,
      if (keysUniqueByPlan) "plan" else "unchecked",
      rewrites, src.storageLevel != StorageLevel.NONE, sourceSmall)
  }

  /** Min and max of each source key expression (NULL for a key with no
    * non-NULL value), as the values an aggregate returns. When every key
    * is a column of the cache the source is or projects, of a type whose
    * cached batch statistics are exact bounds, they come from those
    * statistics: one RDD job over the batches, which fills a cold cache
    * and runs no generated code of its own. Otherwise they are observed
    * during a write of the source to the `noop` sink — still map-only,
    * min/max riding accumulators. */
  private def keyBounds(src: DataFrame, keys: Seq[String]): Seq[(Any, Any)] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.catalyst.util.TypeUtils
    import org.apache.spark.sql.columnar.SimpleMetricsCachedBatch
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.types._
    def exact(dt: DataType): Boolean = dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | _: DecimalType => true
      case _ => dt == StringType
    }
    // a fresh plan over the source sees a cache registered after its own
    val cache = (src.select(keys.map(expr): _*).queryExecution.optimizedPlan match {
      case rel: InMemoryRelation => Some((rel, rel.output))
      case Project(cols, rel: InMemoryRelation) => Some((rel, cols))
      case _ => None
    }).map { case (rel, cols) =>
      (rel, cols.map {
        case a: Attribute => rel.output.indexWhere(_.exprId == a.exprId)
        case Alias(a: Attribute, _) => rel.output.indexWhere(_.exprId == a.exprId)
        case _ => -1
      })
    }.filter { case (rel, ords) => ords.forall(o => o >= 0 && exact(rel.output(o).dataType)) }

    val fromCache = cache.flatMap { case (rel, ords) =>
      val types = ords.map(rel.output(_).dataType)
      // a batch's stats hold (lower, upper, nulls, count, bytes) per column
      val perBatch = rel.cacheBuilder.cachedColumnBuffers.map {
        case b: SimpleMetricsCachedBatch =>
          Some(ords.zip(types).map { case (o, dt) => (b.stats.get(5 * o, dt), b.stats.get(5 * o + 1, dt)) })
        case _ => None
      }.collect()
      if (perBatch.exists(_.isEmpty)) None
      else Some(types.indices.map { i =>
        val ord = TypeUtils.getInterpretedOrdering(types(i))
        def bound(side: ((Any, Any)) => Any, pick: Seq[Any] => Any) =
          perBatch.flatMap(b => Option(side(b.get(i)))).toSeq match {
            case Seq() => null
            case vs => CatalystTypeConverters.convertToScala(pick(vs), types(i))
          }
        (bound(_._1, _.min(ord)), bound(_._2, _.max(ord)))
      })
    }
    fromCache.getOrElse {
      val obs = org.apache.spark.sql.Observation()
      val aggs = keys.indices.flatMap(i =>
        Seq(min(expr(keys(i))).as(s"__graft_lo$i"), max(expr(keys(i))).as(s"__graft_hi$i")))
      src.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
      val row = obs.get
      keys.indices.map(i => (row(s"__graft_lo$i"), row(s"__graft_hi$i")))
    }
  }

  /** Execute a [[MergePlan]]: write the step's files and stage them into
    * `tx` as one MERGE step carrying the plan's metrics and the measured
    * counts. Decides nothing. A step with a matched clause probes the
    * candidate files ([[touchedFiles]]) and rewrites the touched ones
    * through a left-outer join; a step with an insert clause then writes
    * the source rows no candidate row matches through a left-anti join.
    * Both read the pinned candidates, never the rewrite's output: the
    * not-matched clause sees the target as it was before the merge.
    * @return the step's operation metrics */
  private def runMerge(tx: Txn, m: MergeBuilder, src: DataFrame, plan: MergePlan): Map[String, String] = {
    val (files, alias, cond) = (tx.files, m.targetAlias, expr(m.condition))
    val dataCols = plan.schema.fields.toSeq
    // a footer that could not be read counts -1
    def rowsOf(fes: Seq[FileEntry]): Long = if (fes.forall(_.rows >= 0)) fes.map(_.rows).sum else -1L

    val none = (Seq.empty[FileEntry], Seq.empty[FileEntry], 0L, 0L)
    val (rewriteFiles, touched, updated, deleted) =
      if (!plan.rewrites) none
      else {
        val sPresent = col(SPresent) === lit(true)
        val (upd, del) = (m.update.fold(lit(false))(_.guard), m.delete.fold(lit(false))(_.guard))
        // Delta clause semantics: matched clauses are tried in the order
        // they were added, first satisfied condition wins, and a NULL
        // condition means NOT satisfied. The earlier clause's guard must
        // therefore be coalesced to false before negation — `!NULL` is
        // NULL, and a NULL guard would block the later clause.
        val updCond = if (m.deleteFirst && m.delete.isDefined) upd && !coalesce(del, lit(false)) else upd
        val delCond = if (!m.deleteFirst && m.update.isDefined) del && !coalesce(upd, lit(false)) else del
        val updatedRow = when(sPresent && updCond, 1L).otherwise(0L)
        val source = (if (plan.sourceSmall) broadcast(src) else src).withColumn(SPresent, lit(true))

        // --- 1. prune + cardinality, ONE job: which existing files
        // contain rows the merge must rewrite, and does any target row match >1
        // source rows? The probe joins the candidate files with the source
        // on the merge condition, and counts the matched rows an update
        // clause takes (numTargetRowsUpdated). When the plan did NOT prove
        // the source keys unique, grouping by (file, _metadata.row_index)
        // folds Delta's merge-cardinality check into the SAME job that
        // collects touched file names, before either write. Otherwise the
        // probe is map-only, the set of file names observed during a `noop`
        // write (the per-row grouping would push every matched row through
        // a wide hash aggregate for nothing), and it keeps only the matched
        // rows a clause changes: the insert clause's anti-join decides
        // matches on its own. What reaches the driver is bounded by file
        // count, never by row count.
        val (touched, updatedRows): (Seq[FileEntry], Long) =
          if (plan.candidates.isEmpty) (Seq.empty, 0L)
          else {
            // probe scans only the stats-candidate files — skipped files
            // cannot contain matched rows and are untouched by
            // construction. keepMeta supplies file/row-index identity
            val t = readFiles(plan.candidates, plan.schema, tx.partCols, keepMeta = true).alias(alias)
            val matched = t.join(source, cond, "inner")
            val (perFile, u) =
              if (plan.keysUnique == "unchecked") {
                val maxMatches = labeled("merge: touched-file probe + cardinality") {
                  matched
                    .groupBy(col(FileCol), col(RowIdxCol))
                    .agg(count(lit(1)).as("__graft_m"), sum(updatedRow).as("__graft_u"))
                    .groupBy(col(FileCol))
                    .agg(max("__graft_m").as("__graft_maxm"), sum("__graft_u"))
                    .collect()
                }
                if (maxMatches.exists(_.getLong(1) > 1))
                  throw new IllegalStateException(
                    "MERGE: multiple source rows matched the same target row")
                (maxMatches.map(r => (r.getString(0), r.getLong(1))).toSeq, maxMatches.map(_.getLong(2)).sum)
              } else {
                // map-only: the names ride an observed set, no shuffle
                val obs = org.apache.spark.sql.Observation()
                labeled("merge: touched-file probe") {
                  matched.filter(coalesce(updCond || delCond, lit(false)))
                    .select(col(FileCol), updatedRow.as("__graft_u"))
                    .observe(obs, collect_set(col(FileCol)).as("files"), sum("__graft_u").as("u"))
                    .write.format("noop").mode("overwrite").save()
                }
                (obs.get("files").asInstanceOf[scala.collection.Seq[String]].map(f => (f, 1L)).toSeq,
                  Option(obs.get("u")).fold(0L)(_.asInstanceOf[Number].longValue))
              }
            (touchedFiles(files, perFile).map(_._1), u)
          }

        // --- 2. rewrite the touched files: every output row is a target
        // row. Deleted rows are simply NOT in the rewrite (their file is
        // dropped from the log, the survivors copied) — same mechanics as
        // Delta. An unmatched row's delete term is NULL, hence the coalesce.
        if (touched.isEmpty) none
        else {
          val kept = readFiles(touched, plan.schema, tx.partCols).alias(alias)
            .join(source, cond, "left_outer")
            .filter(!coalesce(sPresent && delCond, lit(false)))
            .select(dataCols.map { f =>
              val tCol = col(s"$alias.${f.name}")
              val assigned = m.update.flatMap(_.set.get(f.name)).map(expr).getOrElse(tCol)
              when(sPresent && updCond, assigned.cast(f.dataType)).otherwise(tCol).as(f.name)
            }: _*)
          val added = labeled("merge: rewrite + write") { writeIn(tx, kept) }
          // the touched files' LIVE row counts: footer total minus rows
          // already dead under a deletion vector; the rewrite wrote the
          // survivors
          val touchedRows =
            if (touched.forall(_.rows >= 0)) touched.map(fe => fe.rows - fe.dvRows).sum
            else -1L
          val addedRows = rowsOf(added)
          val deleted =
            if (m.delete.isEmpty) 0L
            else if (touchedRows >= 0 && addedRows >= 0) touchedRows - addedRows
            else -1L
          // a rewrite measured to change nothing (every matched row failed
          // its clause conditions: e.g. a replayed batch) wrote exact copies
          // of the touched files; swapping them in would only churn the
          // file set, so stage none of its files — the transaction deletes
          // the written files no version references
          if (updatedRows == 0 && deleted == 0 && plan.evolved == 0) none
          else (added, touched, updatedRows, deleted)
        }
      }

    // --- 3. insert: the source rows that match no candidate row. Insert-only
    // (e.g. the header job's Phase B), this is the whole merge: no probe, no
    // rewrite of files whose rows would only be copied (at 10M rows this
    // halves the merge phase; Delta special-cases insert-only merges the
    // same way). Rows in skipped files cannot equal any source key, so they
    // cannot absorb inserts.
    val (insertFiles, inserted) = m.insert.fold((Seq.empty[FileEntry], 0L)) { ins =>
      // with every file pruned the empty target would be broadcast and
      // each source partition write its own files; the sort-merge join
      // shuffles the inserts by key instead, and AQE packs them
      val target = readFiles(plan.candidates, plan.schema, tx.partCols).alias(alias)
      val unmatched = src.join(if (plan.candidates.isEmpty) target.hint("merge") else target,
        cond, "left_anti")
      val toInsert = ins.cond.fold(unmatched)(c => unmatched.filter(expr(c)))
      // a file whose footer counts no row (the writer's one file for an
      // empty result) is not staged; the transaction deletes it
      val added = labeled("merge: insert-only anti-join + write") {
        writeIn(tx, toInsert.select(dataCols.map { f =>
          ins.set.get(f.name).map(expr).getOrElse(lit(null)).cast(f.dataType).as(f.name)
        }: _*))
      }.filter(_.rows != 0)
      // inserted rows come free from the written files' footer counts —
      // callers never need a post-merge table scan for accounting
      (added, rowsOf(added))
    }

    val added = rewriteFiles ++ insertFiles
    tx.stage("MERGE", added, touched.map(_.path), plan.metrics ++ Map(
      "numTargetFilesUntouched" -> (files.size - touched.size).toString,
      "numTargetRowsUpdated" -> updated.toString,
      "numTargetRowsInserted" -> inserted.toString,
      "numTargetRowsDeleted" -> deleted.toString,
      "numTargetFilesAdded" -> added.size.toString,
      "numTargetFilesRemoved" -> touched.size.toString) ++
      (if (plan.rewrites) Map.empty else Map("insertOnly" -> "true")),
      plan.schema)
  }

  // ------------------------------------------------------------- helpers --

  private lazy val qualifiedDataDir = fs.makeQualified(dataDir)

  /** The fully-qualified path of `fe`: relative log paths resolve under
    * the data dir, a shallow clone's referenced URIs stand as they are. */
  private[tables] def qualified(fe: FileEntry): Path = new Path(qualifiedDataDir, fe.path)

  /** The URI string a scan of `fe` hands Spark, exactly what its rows
    * report as `_metadata.file_path`: the one map from scan rows to log
    * entries (percent-encoded, unlike the log's form). */
  private def scanPath(fe: FileEntry): String = qualified(fe).toUri.toString
}

object VersionedTable {
  private val LogDirName = "_graft_log"
  /** Partition values of a file from its path's `k=v` dirs, unescaped as
    * Spark's writer escaped them (a URL decode would read `+` as a
    * space); the last of a repeated key wins, so a shallow clone's
    * absolute path yields its own partition dirs. */
  private[tables] def partitionValuesOf(path: String): Map[String, String] =
    path.split('/').dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(seg.substring(0, i) ->
        ExternalCatalogUtils.unescapePathName(seg.substring(i + 1)))
    }.toMap
  /** Commits between snapshot checkpoints (Delta uses 10 as well). */
  private[tables] val CheckpointInterval = 10L
  /** No commit has this version: [[commitsOf]]'s skippable for a read
    * that tolerates no torn commit. */
  private val NoVersion = Long.MinValue

  /** One LIST of a log dir: commit and checkpoint files as (version,
    * path), each sorted by version. */
  private final case class Log(commits: Seq[(Long, Path)], checkpoints: Seq[(Long, Path)]) {
    def newest: Long = commits.lastOption.fold(-1L)(_._1)
    def oldest: Long = commits.headOption.fold(-1L)(_._1)
  }

  /** A replayed table state ([[VersionedTable#replay]]). `state.txns` holds
    * every watermark the replay saw; `txnsComplete` says whether that is
    * all of them (false after a legacy checkpoint whose older commits were
    * not folded or are gone). `newestTorn`: the newest listed commit did
    * not parse and `state` is the version before it. */
  private final case class Replayed(state: Checkpoint, newestTorn: Boolean,
                                    txnsComplete: Boolean) {
    def schema: StructType = DataType.fromJson(state.schemaJson).asInstanceOf[StructType]
  }
  /** A merge source whose cached size is at most this gets the broadcast
    * hint on its probe and left-outer rewrite joins. */
  private val MergeBroadcastSourceBytes = 128L * 1024 * 1024

  /** Reference-counted per-session scope forcing
    * `spark.sql.parquet.outputTimestampType = TIMESTAMP_MICROS` around
    * table writes (see writeIn). First enter per session saves the
    * user's value; the LAST exit restores it — interleaved concurrent
    * writers can no longer restore the override as the "previous" value
    * and leak it into the session. */
  private val TsConfKey = "spark.sql.parquet.outputTimestampType"
  private val tsScopes =
    scala.collection.mutable.Map[SparkSession, (Int, Option[String])]()
  private[tables] def enterMicrosTsScope(spark: SparkSession): Unit =
    tsScopes.synchronized {
      tsScopes.get(spark) match {
        case Some((depth, saved)) => tsScopes(spark) = (depth + 1, saved)
        case None =>
          tsScopes(spark) = (1, spark.conf.getOption(TsConfKey))
          spark.conf.set(TsConfKey, "TIMESTAMP_MICROS")
      }
    }
  private[tables] def exitMicrosTsScope(spark: SparkSession): Unit =
    tsScopes.synchronized {
      tsScopes(spark) match {
        case (1, saved) =>
          tsScopes.remove(spark)
          saved match {
            case Some(v) => spark.conf.set(TsConfKey, v)
            case None => spark.conf.unset(TsConfKey)
          }
        case (depth, saved) => tsScopes(spark) = (depth - 1, saved)
      }
    }
  /** File count above which commit-time footer stats are computed by a
    * Spark job instead of a driver parallel collection (see
    * [[VersionedTable#statsForMoved]]). */
  private[tables] val ExecutorStatsFileThreshold = 256
  /** Table property: comma-separated columns to write parquet bloom
    * filters on (see [[VersionedTable.create]]); an equality filter on
    * one probes them (see pruneFiles). */
  val BloomColsProp = "bloom.filter.columns"
  /** Table property: expected distinct values per file for bloom sizing. */
  val BloomNdvProp = "bloom.filter.ndv"
  private val FileCol = "__graft_file"
  private val RowIdxCol = "__graft_row_idx"
  /** Per-file scan metadata: the file's deleted row indexes, sorted. */
  private[tables] val DeletedRows = "graft_deleted_rows"
  /** A timestamp string: the local date-time, then an optional offset. */
  private val TsForm = """(\d{4}-\d\d-\d\d[T ][^+Z-]*)(Z|[+-]\d\d:?\d\d)?""".r
  private val SPresent = "__graft_s_present"
  private implicit val fmts: Formats = DefaultFormats

  /** Column min/max/null stats AND row count from the parquet footer of
    * one file — metadata-only, no data read. STATIC (no session state)
    * so the commit path can evaluate it on executors for large commits.
    * Only top-level primitive leaves are recorded; failures degrade to
    * "no stats" (skipping is an optimization, never required for
    * correctness). */
  private[tables] def footerInfoAt(file: Path,
      conf: org.apache.hadoop.conf.Configuration): (Option[Map[String, FileColStats]], Long) =
    try {
      import scala.jdk.CollectionConverters._
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        var rowCount = 0L
        // per column: min/max merged across row groups in parquet's own
        // column order (a string column's "10" sorts before "9"), nulls
        val acc = scala.collection.mutable.Map[String,
          (org.apache.parquet.column.statistics.Statistics[_], Long)]()
        // columns with any row group whose rows are NOT fully accounted
        // for (min/max present, or provably all-NULL) must carry NO stats
        // entry at all — e.g. INT96 timestamps, where parquet suppresses
        // min/max but still reports numNulls=0: a naive reading would
        // classify the file as all-NULL and wrongly skip it
        val untracked = scala.collection.mutable.Set[String]()
        reader.getFooter.getBlocks.asScala.foreach(b => rowCount += b.getRowCount)
        for (block <- reader.getFooter.getBlocks.asScala;
             c <- block.getColumns.asScala if c.getPath.size == 1) {
          val name = c.getPath.toDotString
          val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
          val covered = st != null && !st.isEmpty &&
            (st.hasNonNullValue ||
              (st.isNumNullsSet && st.getNumNulls == block.getRowCount))
          if (!covered) untracked += name
          else {
            // getNumNulls is -1 when the null count wasn't recorded —
            // clamp so a garbage negative never reaches the commit log
            val nulls = math.max(0L, st.getNumNulls)
            acc(name) = acc.get(name) match {
              case None => (st.copy(), nulls)
              case Some((m, n)) => m.mergeStatistics(st); (m, n + nulls)
            }
          }
        }
        val ok = (acc.toMap -- untracked).map { case (name, (m, nulls)) =>
          val has = m.hasNonNullValue
          name -> FileColStats(if (has) m.minAsString else "",
            if (has) m.maxAsString else "", nulls, has)
        }
        (if (ok.isEmpty) None else Some(ok), rowCount)
      } finally reader.close()
    } catch { case _: Throwable => (None, -1L) }

  /** Reference: DeltaTable.isDeltaTable (src/header_etl.py:157). */
  def isTable(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path, LogDirName)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // commit files only — a properties file written just before a crashed
    // CREATE must not make an empty dir read as a live table
    f.exists(p) && f.listStatus(p).exists(_.getPath.getName.matches("""\d{20}\.json"""))
  }

  /** Reference: DeltaTable.forPath (src/header_etl.py:166). */
  def forPath(spark: SparkSession, path: String): VersionedTable = {
    require(isTable(spark, path), s"$path is not a graft table")
    new VersionedTable(spark, path, None)
  }

  /** The table at `path` for a writer, whether or not it exists: with no
    * commit there, a transaction pins the empty version −1 with `schema`
    * and `partitionBy` ([[Txn.version]]) and publishes version 0. Readers
    * refuse the path until then. */
  def open(spark: SparkSession, path: String, schema: StructType,
           partitionBy: Seq[String] = Seq.empty): VersionedTable =
    new VersionedTable(spark, path, None, Some((schema, partitionBy)))

  /** Initial partitioned write (reference: src/header_etl.py:159-162): a
    * one-step transaction staging `df` as `CREATE TABLE AS SELECT`; losing
    * the publish to a concurrent create throws the lost CAS.
    * `properties` are written once beside the log and are immutable:
    * [[BloomColsProp]] ("bloom.filter.columns", comma-separated) makes
    * every write add parquet bloom filters on those columns, sized by
    * [[BloomNdvProp]] ("bloom.filter.ndv", default 1M distinct values). */
  def create(spark: SparkSession, df: DataFrame, path: String,
             partitionBy: Seq[String] = Seq.empty,
             properties: Map[String, String] = Map.empty): VersionedTable = {
    require(!isTable(spark, path), s"$path is already a graft table")
    val t = open(spark, path, df.schema, partitionBy)
    if (properties.nonEmpty) {
      t.fs.mkdirs(t.logDir)
      t.atomicWrite(t.fs, t.propsPath, Serialization.write(properties))
    }
    t.firstVersion(_.create(df))
  }

  private[tables] def widenSchema(cur: StructType, incoming: StructType): StructType = {
    val byName = cur.fieldNames.toSet
    val extras = incoming.fields.filterNot(f => byName.contains(f.name))
      .map(f => StructField(f.name, f.dataType, nullable = true))
    incoming.fields.foreach { f =>
      if (byName.contains(f.name))
        require(cur(f.name).dataType == f.dataType,
          s"mergeSchema type conflict on ${f.name}: ${cur(f.name).dataType} vs ${f.dataType}")
    }
    StructType(cur.fields ++ extras)
  }

  /** The (txnAppId, txnBatchId) an append's commit records, if any. */
  private def txnOf(metrics: Map[String, String]): Option[(String, Long)] =
    for (app <- metrics.get("txnAppId"); b <- metrics.get("txnBatchId")) yield (app, b.toLong)

  private def parseEntry(json: String): LogEntry =
    Serialization.read[LogEntry](json)
  private def renderEntry(e: LogEntry): String =
    Serialization.write(e)
  private def parseCheckpoint(json: String): Checkpoint =
    Serialization.read[Checkpoint](json)
  private def renderCheckpoint(c: Checkpoint): String =
    Serialization.write(c)

  /** Diagnostic counter over the ONE funnel every log/checkpoint JSON
    * read passes through — lets specs assert the O(CheckpointInterval)
    * bound on replay cost empirically (count reads
    * around an operation) instead of trusting the comment. Zero-cost in
    * production paths (one atomic add per metadata file read). */
  private[tables] val logJsonReads = new java.util.concurrent.atomic.AtomicLong(0)

  private def readFully(f: FileSystem, p: Path): String = {
    logJsonReads.incrementAndGet()
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }
}

/** A commit lost the version compare-and-swap to a concurrent writer:
  * the table state is untouched by the loser; re-read and retry.
  * Subclasses IllegalStateException so pre-CAS callers keep working. */
class ConcurrentCommitException(msg: String) extends IllegalStateException(msg)

/** One attempt of a [[VersionedTable.transaction]]: the pinned version,
  * the working file set (the pinned snapshot plus the steps' staged adds
  * and removes), the working schema, every path the attempt wrote and
  * each step's (operation, metrics). Callers see only [[version]],
  * [[create]], [[merge]] and [[read]]; the table's writers stage into it. */
final class Txn private[tables] (table: VersionedTable,
                                 pinned: Long,
                                 pinnedFiles: Seq[FileEntry],
                                 private[tables] var schema: StructType,
                                 private[tables] val partCols: Seq[String]) {
  private[tables] var files: Seq[FileEntry] = pinnedFiles
  private[tables] val written = scala.collection.mutable.ArrayBuffer[String]()
  private val steps = scala.collection.mutable.ArrayBuffer[(String, Map[String, String])]()

  /** The attempt only appends: its one step is a `WRITE`, which removes
    * nothing and read only the pinned schema and partitioning. */
  private[tables] def blind: Boolean = steps.map(_._1) == Seq("WRITE")

  /** The pinned version: −1 when this transaction publishes the table's
    * first version ([[VersionedTable.open]]). */
  def version: Long = pinned

  /** On version −1, stage `df` (the working schema's columns) as the
    * table's first write, `CREATE TABLE AS SELECT`.
    * @return the step's metrics, `numOutputRows` among them */
  def create(df: DataFrame): Map[String, String] =
    table.writeStep(this, df, "CREATE TABLE AS SELECT")

  /** A MERGE into the working state, staged into this transaction. */
  def merge(source: DataFrame, condition: String): MergeBuilder =
    table.mergeIn(this, source, condition)

  /** The working state: the pinned snapshot with every staged step applied. */
  def read: DataFrame = table.readIn(this)

  /** Apply one step's file actions to the working state; returns its
    * metrics. An added entry replaces a live one with the same path (a
    * deletion-vector update). */
  private[tables] def stage(op: String, added: Seq[FileEntry], removedPaths: Seq[String],
                            metrics: Map[String, String],
                            schema: StructType = this.schema): Map[String, String] = {
    val gone = removedPaths.toSet ++ added.map(_.path)
    files = files.filterNot(fe => gone(fe.path)) ++ added
    this.schema = schema
    steps += op -> metrics
    metrics
  }

  /** The one log entry this attempt publishes at pinned + 1, or None when
    * no step staged anything. */
  private[tables] def entry(timestampMs: Long): Option[LogEntry] =
    if (steps.isEmpty) None
    else {
      val (op, metrics) =
        if (steps.size == 1) steps.head
        else ("MERGE", steps.flatMap(_._2.keys).distinct.map { k =>
          val vs = steps.flatMap(_._2.get(k)).toSeq
          val ns = vs.flatMap(_.toLongOption)
          // -1 means "not measured" (an unreadable footer): a sum over it
          // would be a plausible but wrong count
          k -> (if (ns.size < vs.size) vs.mkString(",")
                else if (ns.contains(-1L)) "-1" else ns.sum.toString)
        }.toMap)
      val byPath = pinnedFiles.map(fe => fe.path -> fe).toMap
      val live = files.map(_.path).toSet
      Some(LogEntry(pinned + 1, timestampMs, op, schema.json, partCols,
        files.filterNot(fe => byPath.get(fe.path).contains(fe)),
        pinnedFiles.map(_.path).filterNot(live), metrics))
    }
}

/** Fluent MERGE builder mirroring the subset of the Delta API the
  * reference exercises: at most one whenMatchedUpdate, one
  * whenMatchedDelete and one whenNotMatchedInsert clause, conditions and
  * assignments as SQL expression strings over the target/source aliases.
  * Built by [[VersionedTable.merge]] (commits on its own) or
  * [[Txn.merge]] (stages into the transaction). */
class MergeBuilder private[tables] (table: VersionedTable,
                                    private[tables] val targetAlias: String,
                                    private[tables] val source: DataFrame,
                                    private[tables] val condition: String,
                                    txn: Option[Txn]) {
  private[tables] var update: Option[Clause] = None
  private[tables] var delete: Option[Clause] = None
  private[tables] var insert: Option[Clause] = None
  private[tables] var deleteFirst: Boolean = false
  private[tables] var evolve: Boolean = false

  def whenMatchedUpdate(set: Map[String, String]): MergeBuilder =
    whenMatchedUpdate(null, set)
  def whenMatchedUpdate(condition: String, set: Map[String, String]): MergeBuilder = {
    require(update.isEmpty, "only one whenMatchedUpdate clause is supported")
    update = Some(Clause(Option(condition), set)); this
  }
  /** Delta-style matched-DELETE clause: matched target rows satisfying
    * `condition` are removed from the table (their file is rewritten
    * without them). With an update clause also present, the two are tried
    * in the order they were added — first satisfied condition wins, as in
    * Delta. The SCD2 soft-delete/tombstone path (reference notes.md:88-98)
    * instead CLOSES the open row via whenMatchedUpdate; this clause is the
    * "technical deletion" the reference asks about at notes.md:97. */
  def whenMatchedDelete(): MergeBuilder = whenMatchedDelete(null)
  def whenMatchedDelete(condition: String): MergeBuilder = {
    require(delete.isEmpty, "only one whenMatchedDelete clause is supported")
    delete = Some(Clause(Option(condition), Map.empty))
    deleteFirst = update.isEmpty
    this
  }
  def whenNotMatchedInsert(values: Map[String, String]): MergeBuilder =
    whenNotMatchedInsert(null, values)
  def whenNotMatchedInsert(condition: String, values: Map[String, String]): MergeBuilder = {
    require(insert.isEmpty, "only one whenNotMatchedInsert clause is supported")
    insert = Some(Clause(Option(condition), values)); this
  }
  /** Merge-time schema evolution (the reference's autoMerge case,
    * notes.md:102-105): update/insert assignments may name columns the
    * target does not have yet — each becomes a new NULLABLE column whose
    * type is resolved against the source frame, added to the table schema
    * by this merge's commit. Untouched files are never rewritten; readers
    * see NULL for the new column in pre-evolution files. Without this
    * call, assignments to unknown columns are ignored (the target schema
    * is the contract). */
  def withSchemaEvolution(): MergeBuilder = { evolve = true; this }

  /** Run the merge.
    * @return its operation metrics — the map a one-step commit records */
  def execute(): Map[String, String] = table.executeMerge(txn, this)
}

/** One MERGE clause: its optional SQL condition and its assignments
  * (column → SQL expression; none for a delete). */
private[tables] final case class Clause(cond: Option[String], set: Map[String, String]) {
  /** The condition as a column; a clause without one always applies. */
  def guard: Column = cond.fold(lit(true))(expr)
}

/** What one MERGE step decided before writing anything
  * ([[VersionedTable#planMerge]]); the executor only carries it out.
  * @param evolved    columns the step's schema evolution added
  * @param candidates target files that may hold matched rows
  * @param keysUnique "plan" when the source plan proves its keys unique
  *                   (a groupBy on the keys, a one-row-per-key window
  *                   filter), else "unchecked" (the probe's per-row
  *                   cardinality check runs)
  * @param rewrites   the step has a matched clause (or none at all): it
  *                   probes the candidates and rewrites the touched files
  *                   through a left-outer join. Else it is insert-only,
  *                   and only the left-anti join writes
  * @param sourceSmall the cached source is small enough to broadcast into
  *                   the probe and rewrite joins */
private[tables] final case class MergePlan(schema: StructType,
                                           evolved: Int,
                                           candidates: Seq[FileEntry],
                                           skippedByStats: Int,
                                           keysUnique: String,
                                           rewrites: Boolean,
                                           sourceCached: Boolean,
                                           sourceSmall: Boolean) {
  /** The decision part of the step's operationMetrics (and so of
    * history()): whether the source was cached, whether the probe and
    * rewrite joins carried the broadcast hint, the join type (`left_outer`
    * when the step rewrites, `left_anti` when it only inserts), the
    * uniqueness proof, the stats-skipped files and evolved columns. */
  def metrics: Map[String, String] = Map(
    "sourceCached" -> sourceCached.toString,
    "sourceBroadcast" -> sourceSmall.toString,
    "rewriteJoinType" -> (if (rewrites) "left_outer" else "left_anti"),
    "sourceKeysUnique" -> keysUnique,
    "numTargetFilesSkippedByStats" -> skippedByStats.toString,
    "numColumnsEvolved" -> evolved.toString)
}
