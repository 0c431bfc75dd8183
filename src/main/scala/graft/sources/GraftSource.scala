package graft.sources

import graft.tables.VersionedTable
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => StreamingOffsetV1, Sink => StreamingSink, Source => StreamingSource}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft")` — the interop surface over
  * [[VersionedTable]] for SQL and non-Scala users:
  *
  * {{{
  *   spark.read.format("graft").load(path)                       // current
  *   spark.read.format("graft").option("versionAsOf", 3).load(p) // time travel
  *   CREATE TABLE t USING graft OPTIONS (path '...');            -- SQL
  *   spark.readStream.format("graft").load(path)                 // CDC stream
  * }}}
  *
  * The relation (DSv1) is the table's own file relation, the one
  * `VersionedTable.read` plans, so Spark scans it as parquet. Without
  * `versionAsOf` it lists the newest version on every scan.
  *
  * The STREAMING read is the Delta-source shape (DeltaSource is itself a
  * DSv1 `Source`): the micro-batch offset IS the commit version, so a
  * batch is exactly `readChanges(lastSeenVersion, latestVersion)` — the
  * added files of the new commits, never a table rescan. Restarting from
  * a checkpoint resumes at the logged version. Options:
  * `startingVersion` (exclusive; default −1 = the whole history, Delta's
  * `startingVersion 0`) and `includeRewrites` (read rewriting
  * MERGE/UPDATE commits coarsely instead of failing — same contract and
  * same wording as [[VersionedTable.readChanges]]). Scale: an offset is
  * one long, a batch reads only the files the new commits added, and
  * the no-change probe is a log listing — a 100 TB table streams at the
  * cost of its CHANGES. */
class GraftSource extends RelationProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {
  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source requires a 'path' option"))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation =
    VersionedTable.forPath(sqlContext.sparkSession, pathOf(parameters))
      .relation(parameters.get("versionAsOf").map(_.toLong))

  /** The stream's schema is the TABLE's schema — a user-supplied one is
    * rejected rather than silently ignored (Delta does the same). */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "the graft streaming source reads the table's own schema; drop .schema(...)")
    (shortName(),
      VersionedTable.forPath(sqlContext.sparkSession, pathOf(parameters)).schema)
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): StreamingSource =
    new GraftStreamSource(sqlContext.sparkSession, pathOf(parameters),
      startingVersion = parameters.get("startingVersion").map(_.toLong).getOrElse(-1L),
      includeRewrites = parameters.get("includeRewrites").exists(_.toBoolean))

  /** `writeStream.format("graft")` — exactly-once append sink (the Delta
    * sink shape). Idempotence app id: an explicit `txnAppId` option, else
    * the query's checkpoint location (stable across restarts of the same
    * logical query — two queries never share a checkpoint). There is
    * deliberately NO fallback beyond that: batchIds are only meaningful
    * per query, so a shared default (e.g. the table path) would let an
    * unrelated second query's low batchIds be silently skipped by the
    * first query's high watermark — data loss, not idempotence. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): StreamingSink = {
    require(outputMode == OutputMode.Append(),
      s"the graft sink appends new rows only; got OutputMode $outputMode " +
        "(aggregate into a table with foreachBatch + merge instead)")
    // The checkpoint fallback is CANONICALIZED (qualified against its
    // filesystem, URI-normalized) before becoming the txn appId: a
    // restart that spells the same checkpoint differently (relative vs
    // absolute, file:// URI, trailing slash) must resolve to the SAME
    // appId, or a crash-replayed batch would slip past the watermark and
    // append twice. An explicit txnAppId option is taken verbatim and is
    // the robust choice when the checkpoint may move.
    val canonicalCheckpoint = parameters.get("checkpointLocation").map { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(sqlContext.sparkSession.sessionState.newHadoopConf())
        .makeQualified(p).toUri.normalize().toString
    }
    val appId = parameters.get("txnAppId")
      .orElse(canonicalCheckpoint)
      .getOrElse(throw new IllegalArgumentException(
        "the graft sink needs a per-query idempotence identity: pass " +
          ".option(\"checkpointLocation\", ...) on the writer (a session-" +
          "conf default checkpoint does not reach the sink) or an " +
          "explicit .option(\"txnAppId\", ...)"))
    // pre-canonicalization commits carry the RAW checkpoint spelling —
    // hand it to the sink as a legacy identity so an upgrade boundary
    // can't replay an already-landed batch (only when the checkpoint
    // fallback is in play; an explicit txnAppId was always verbatim)
    val legacy =
      if (parameters.contains("txnAppId")) Nil
      else parameters.get("checkpointLocation").filterNot(appId.==).toSeq
    new GraftSink(sqlContext.sparkSession, pathOf(parameters),
      partitionColumns, appId, legacy)
  }
}

/** Streaming append sink over a [[VersionedTable]]: each micro-batch is
  * one table commit carrying `(txnAppId, batchId)`, so a batch replayed
  * after a crash-before-checkpoint is skipped by
  * [[VersionedTable.append]]'s transaction watermark — exactly-once into
  * the table, like Delta's streaming sink. A missing table is created by
  * the first batch's append (schema from the batch, partitioning from the
  * writer's `partitionBy`), so batch 0 flows through the guarded append
  * and lands as version 0.
  * Scale: a batch writes only its own rows; the idempotence probe is a
  * commit-log scan, no data read. */
class GraftSink(spark: SparkSession, path: String,
                partitionColumns: Seq[String], appId: String,
                legacyAppIds: Seq[String] = Nil)
    extends StreamingSink {

  /** Highest batchId THIS sink instance has landed — replays within one
    * run short-circuit here; the authoritative cross-restart watermark
    * stays the table's own `lastTxnBatchId` (consulted by `append`). */
  @volatile private var landed: Long = -1L

  override def addBatch(batchId: Long, data: DataFrame): Unit =
    if (batchId > landed) {
      val batch = org.apache.spark.sql.GraftColumnBridge.asBatchFrame(data)
      // a missing table is created by this batch's append: a concurrent
      // first batch (another writer app) takes the blind append's CAS slide
      val table = VersionedTable.open(spark, path, batch.schema, partitionColumns)
      // Upgrade-boundary guard, probed only for this instance's FIRST
      // batch (the only one a crash-replay can resurrect): commits
      // written before the appId was canonicalized carry the RAW
      // checkpoint spelling, so a watermark under a legacy spelling that
      // already covers this batch means it landed pre-upgrade —
      // appending it again under the new id would duplicate rows.
      if (landed < 0 &&
          legacyAppIds.exists(l => table.lastTxnBatchId(l).exists(_ >= batchId)))
        landed = batchId
      else {
        table.append(batch, txn = Some((appId, batchId)))
        landed = batchId
      }
    }
}

/** Micro-batch offset for [[GraftStreamSource]]: the highest table
  * version this batch covers (inclusive). Serialized as the bare number,
  * so a checkpoint-restored `SerializedOffset` round-trips via `json`. */
case class GraftCdcOffset(version: Long) extends StreamingOffsetV1 {
  override def json: String = version.toString
}

/** Structured-Streaming source over a [[VersionedTable]]'s commit log —
  * see [[GraftSource]] for semantics. Cite: the reference consumes SCD2
  * tables in whole-table batches; this is the incremental variant its
  * notes sketch (reference notes.md:88-105 "bounded streaming"). */
class GraftStreamSource(spark: SparkSession, path: String,
                        startingVersion: Long,
                        includeRewrites: Boolean) extends StreamingSource
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit}

  private val table = VersionedTable.forPath(spark, path)

  override val schema: StructType = table.schema

  /** Version pinned by Trigger.AvailableNow at query start: the run
    * drains up to here and stops, even if writers keep committing —
    * the same contract DeltaSource implements. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.currentVersion)

  /** No offset until the table has commits PAST `startingVersion` — a
    * startingVersion at or beyond the head simply waits for new commits
    * instead of scheduling a batch whose range would be inverted. */
  private def offerable(v: Long): Boolean = v >= 0 && v > startingVersion

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val v = availableNowCap.fold(table.currentVersion)(
      cap => math.min(cap, table.currentVersion))
    if (!offerable(v)) null else GraftCdcOffset(v)
  }

  override def reportLatestOffset(): OffsetV2 = {
    val v = table.currentVersion
    if (!offerable(v)) null else GraftCdcOffset(v)
  }

  /** Latest committed version, or None before the first commit — a log
    * listing, never a data read. */
  override def getOffset: Option[StreamingOffsetV1] = {
    val v = availableNowCap.fold(table.currentVersion)(
      cap => math.min(cap, table.currentVersion))
    if (!offerable(v)) None else Some(GraftCdcOffset(v))
  }

  /** `(start, end]` in commit versions; `start=None` is the stream's
    * very first batch, which begins after `startingVersion`. The frame
    * is re-tagged streaming to satisfy the DSv1 getBatch contract. */
  override def getBatch(start: Option[StreamingOffsetV1],
                        end: StreamingOffsetV1): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.asStreamingBatch(
      table.readChanges(start.map(version).getOrElse(startingVersion),
        Some(version(end)), includeRewrites))

  /** Both [[GraftCdcOffset]] and a checkpoint-log `SerializedOffset`
    * carry the version as their `json` payload. */
  private def version(o: StreamingOffsetV1): Long = o.json.trim.toLong

  override def stop(): Unit = ()
}
