package graft.jobs

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import graft.core.Schemas
import graft.ops.{DqMetrics, Validation}
import graft.tables.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.storage.StorageLevel

/** Run metrics of one header batch — same fields as the reference's
  * run_metrics dict (reference: src/header_etl.py:319-336) plus the DQ
  * counters flattened with a `dq_` prefix. */
case class HeaderRunMetrics(batch_id: String,
                            duration_s: Double,
                            duration_s_extract: Double,
                            duration_s_validation: Double,
                            duration_s_transform: Double,
                            duration_s_merge: Double,
                            staged_count: Long,
                            inserted_count: Long,
                            closed_count: Long,
                            spark_app_id: String,
                            dq_batch_date: String,
                            dq_total: Long,
                            dq_kept: Long,
                            dq_discarded: Long,
                            dq_duplicates_older: Long,
                            dq_null_key: Long,
                            dq_batch_date_mismatch: Long)

/** OP-B: timestamp-grained SCD2 with intra-batch versioning — the
  * reference's flagship pipeline (reference: src/header_etl.py:53-340).
  *
  * One batch = one pipe-separated CSV drop. Pipeline:
  *  1. extract + audit columns (`closed_by_batch`, `source_file`,
  *     `ingest_ts`, `batch_id`) — batch_id is computed on the driver, not
  *     via the reference's `limit(1).collect()` round-trip.
  *  2. validation (null-key / batch-date / keep-latest-duplicate) via
  *     [[Validation.validate]].
  *  3. transform: 5-format timestamp fallback parse, intra-batch version
  *     rows via `lead()` over (contratto_cod, event_time asc), y/m/d
  *     partition columns, `creazione_dta` normalization + parse.
  *  4. two-phase SCD2 merge into a [[VersionedTable]]:
  *     Phase A closes the open row once per key at the first event that
  *     null-safely differs on {status_quote, codice_agente,
  *     codice_ordine_sap}; Phase B idempotently inserts all version rows
  *     keyed on (contratto_cod, valid_from_ts).
  *
  * Scale notes: the transformed batch is persisted once and feeds the init
  * write, the Phase-A change join, and the Phase-B staging — one CSV
  * scan + one window shuffle total. The change-detection join's existing
  * side is pre-projected to 5 columns (reference does the same to shrink
  * the join); the merge itself rewrites only files containing matched keys.
  */
object HeaderEtlJob {

  private val MaxTsExpr = s"to_timestamp('${Schemas.MaxTs}')"

  /** Phase-B staging projection — the 21 columns the reference stages
    * (reference: src/header_etl.py:221-243). `creazione_dta_raw/parsed`
    * are deliberately absent: merged-in rows carry NULL for them, exactly
    * as Delta's whenNotMatchedInsert leaves unmapped columns NULL. */
  private[jobs] val StagedColumns: Seq[String] = Seq(
    "contratto_cod", "codice_ordine_sap", "tipo_contratto", "codice_opec",
    "data_firma", "net_amount", "causale_annullamento", "data_annullamento",
    "codice_agente", "status_quote", "creazione_dta", "ingest_ts",
    "valid_from_ts", "valid_to_ts", "valid_from_year", "valid_from_month",
    "valid_from_day", "is_current", "batch_id", "source_file",
    "closed_by_batch")

  /** @param lateSplit opt-in late-arriving-event interval splitting
    *   (reference names it as future work at notes.md:100-105): an event
    *   OLDER than the key's open version lands strictly inside an
    *   already-closed interval — the enclosing interval is truncated at
    *   the late timestamp and the late version is inserted valid until
    *   the next existing boundary, keeping every key's history contiguous
    *   and non-overlapping. Off by default: the reference pipeline (and
    *   the parity oracles q24/q25) insert late rows with batch-computed
    *   interval ends. */
  def run(spark: SparkSession,
          readPath: String,
          writePath: String,
          discardedPath: String,
          metricsPath: String,
          lateSplit: Boolean = false): HeaderRunMetrics = {
    val t0 = System.nanoTime()
    val filename = readPath.split("/").last
    // driver-side batch id (reference computes the same value through the
    // cluster: src/header_etl.py:70-73)
    val batchId = DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
      .withZone(ZoneOffset.UTC).format(Instant.now()) + "_" + filename

    // ---- EXTRACT (reference: src/header_etl.py:64-73) ------------------
    val tExtract0 = System.nanoTime()
    val dfExtracted = spark.read
      .option("header", "true").option("sep", "|")
      .schema(Schemas.Header)
      .csv(readPath)
      .withColumn("closed_by_batch", lit(null).cast(StringType))
      .withColumn("source_file", lit(filename))
      .withColumn("ingest_ts", current_timestamp())
      .withColumn("batch_id", lit(batchId))
    val durExtract = secondsSince(tExtract0)

    // ---- VALIDATION (reference: src/header_etl.py:78-80) ---------------
    val tValid0 = System.nanoTime()
    val (validated, dq, releaseValidation) = Validation.validate(
      dfExtracted, Schemas.HeaderDedupKeys, filename,
      Schemas.HeaderDateRegex, discardedPath)
    val durValidation = secondsSince(tValid0)

    // ---- TRANSFORM (reference: src/header_etl.py:87-136) ---------------
    val tTransform0 = System.nanoTime()
    val dfTransformed = transform(validated).persist(StorageLevel.MEMORY_AND_DISK)
    val durTransform = secondsSince(tTransform0)

    // ---- MERGE (reference: src/header_etl.py:157-294) ------------------
    val tMerge0 = System.nanoTime()
    // staged_count WITHOUT a counting job: transform() is row-preserving
    // (a window + projections — no filter, no explode), so the staged row
    // count equals the validation pass's observed `kept` counter. The
    // previous `dfTransformed.count()` re-ran the full scan + window per
    // batch just to learn a number the batch already knew (guide §1.2:
    // don't compute things twice); the transform cache now fills inside
    // the merge's first job over the source instead of in a dedicated
    // pass. RunMetricsSpec pins staged_count == dq_kept.
    val stagedCount = dq.kept
    val (table, mInserted, mClosed) =
      twoPhaseMerge(spark, writePath, dfTransformed, batchId, lateSplit)

    // post-merge accounting from the MERGE OPERATION METRICS (the same
    // numbers the reference derives by re-scanning the whole table twice
    // at src/header_etl.py:284-294 — a per-batch full scan that would be
    // the accounting bottleneck at 100 TB). Falls back to the one-scan
    // aggregate only if a metric wasn't measured (-1).
    val (insertedCount, closedCount) =
      if (mInserted >= 0 && mClosed >= 0) (mInserted, mClosed)
      else {
        val counts = table.read.agg(
          sum(when(col("batch_id") === batchId, 1).otherwise(0)).as("inserted"),
          sum(when(col("closed_by_batch") === batchId, 1).otherwise(0)).as("closed")
        ).collect()(0)
        (Option(counts.getAs[Long]("inserted")).getOrElse(0L),
          Option(counts.getAs[Long]("closed")).getOrElse(0L))
      }
    val durMerge = secondsSince(tMerge0)

    dfTransformed.unpersist(false)
    releaseValidation()

    val metrics = HeaderRunMetrics(
      batch_id = batchId,
      duration_s = secondsSince(t0),
      duration_s_extract = durExtract,
      duration_s_validation = durValidation,
      duration_s_transform = durTransform,
      duration_s_merge = durMerge,
      staged_count = stagedCount,
      inserted_count = insertedCount,
      closed_count = closedCount,
      spark_app_id = spark.sparkContext.applicationId,
      dq_batch_date = dq.batchDate,
      dq_total = dq.total,
      dq_kept = dq.kept,
      dq_discarded = dq.discarded,
      dq_duplicates_older = dq.duplicatesOlder,
      dq_null_key = dq.nullKey,
      dq_batch_date_mismatch = dq.batchDateMismatch)
    writeMetrics(spark, metrics, s"$metricsPath/$batchId")
    metrics
  }

  /** Transform a validated batch into SCD2 version rows: 5-format
    * ordered-fallback timestamp parse (reference: src/header_etl.py:89-102),
    * intra-batch versioning via `lead()` (:106-119), y/m/d partition
    * columns and `creazione_dta` normalization (:122-136). Shared by the
    * batch job and [[graft.streaming.StreamingScd2Ingest]]. */
  private[graft] def transform(validated: DataFrame): DataFrame = {
    val dfParsed = validated.withColumn("event_time_ts", coalesce(
      to_timestamp(col("event_time"), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"),
      to_timestamp(col("event_time"), "yyyy-MM-dd'T'HH:mm:ssXXX"),
      to_timestamp(col("event_time"), "yyyy-MM-dd HH:mm:ss"),
      to_timestamp(col("event_time"), "yyyy-MM-dd"),
      to_timestamp(col("event_time"))))

    val w = Window.partitionBy("contratto_cod").orderBy(col("event_time_ts").asc)
    dfParsed
      .withColumn("valid_from_ts", col("event_time_ts"))
      .withColumn("next_event_time", lead("event_time_ts", 1).over(w))
      .withColumn("valid_to_ts",
        when(col("next_event_time").isNull, expr(MaxTsExpr))
          .otherwise(col("next_event_time")))
      .withColumn("is_current", col("next_event_time").isNull)
      .drop("next_event_time", "event_time", "event_time_ts")
      .withColumn("valid_from_year", year(col("valid_from_ts")))
      .withColumn("valid_from_month", month(col("valid_from_ts")))
      .withColumn("valid_from_day", dayofmonth(col("valid_from_ts")))
      .withColumn("creazione_dta_raw", trim(col("creazione_dta")))
      .withColumn("creazione_dta_raw",
        when(col("creazione_dta_raw") === "", lit(null))
          .otherwise(col("creazione_dta_raw")))
      .withColumn("creazione_dta_parsed",
        expr("coalesce(to_date(creazione_dta_raw, 'M/d/yyyy'), to_date(creazione_dta_raw, 'yyyy-MM-dd'))"))
  }

  /** The two-phase SCD2 merge (init if absent, Phase A close-on-change
    * once per key, Phase B idempotent insert — reference:
    * src/header_etl.py:157-280). Shared by the batch job and
    * [[graft.streaming.StreamingScd2Ingest]].
    * @return (table, rows inserted this batch, rows closed this batch) —
    *         both from merge operation metrics, -1 if unmeasured */
  private[graft] def twoPhaseMerge(spark: SparkSession, writePath: String,
                                   dfTransformed: DataFrame,
                                   batchId: String,
                                   lateSplit: Boolean = false): (VersionedTable, Long, Long) = {
    val inited = !VersionedTable.isTable(spark, writePath)
    if (inited) {
      // init write — the current batch is then ALSO merged against itself,
      // harmless by Phase-B idempotence (reference: src/header_etl.py:157-166)
      VersionedTable.create(spark, dfTransformed, writePath, Schemas.PartitionColumns)
    }
    val table = VersionedTable.forPath(spark, writePath)
    // rows written by the init carry this batch_id → they count as inserted
    val initRows = if (inited) table.lastMetric("numOutputRows") else 0L

    // -- Phase L (opt-in): late-arriving-event interval splitting --------
    // Runs against the PRE-merge snapshot (table.read resolves its file
    // list eagerly, so later merges can't shift it). On an init batch
    // there is no pre-existing history to split. Phase B then inserts the
    // ADJUSTED staged rows.
    val stagedForInsert =
      if (lateSplit && !inited) lateSplitAdjust(table, dfTransformed, batchId)
      else dfTransformed

    // -- Phase A: close open rows only on real change, once per key ------
    // (reference: src/header_etl.py:168-215)
    val existingCurrent = table.read
      .filter(col("valid_to_ts").isNull || col("valid_to_ts") === expr(MaxTsExpr))
      // narrow projection shrinks the join (reference: src/header_etl.py:174-180)
      .select("contratto_cod", "status_quote", "codice_agente",
        "codice_ordine_sap", "valid_from_ts")

    val joined = dfTransformed.alias("st").join(
      existingCurrent.alias("ex"),
      col("st.contratto_cod") === col("ex.contratto_cod"), "inner")

    // null-safe difference on the tracked attributes (reference: :189-194)
    val diffExpr =
      "NOT (st.status_quote <=> ex.status_quote) OR " +
        "NOT (st.codice_agente <=> ex.codice_agente) OR " +
        "NOT (st.codice_ordine_sap <=> ex.codice_ordine_sap)"
    // Under lateSplit, an event OLDER than the open version belongs to
    // Phase L — left in here it would poison min(first_change_ts) below
    // the open row's valid_from and block the close of the open row at a
    // genuinely newer change. Without lateSplit the reference's exact
    // behavior is kept (the merge condition neutralizes the stale min).
    val changeCandidates =
      if (lateSplit) joined.filter(col("st.valid_from_ts") > col("ex.valid_from_ts"))
      else joined
    val changedEvents = changeCandidates.filter(expr(diffExpr))
      .select(col("st.contratto_cod").as("contratto_cod"),
        col("st.valid_from_ts").as("valid_from_ts"))

    // first event causing a difference, per key (reference: :200)
    val firstChange = changedEvents.groupBy("contratto_cod")
      .agg(min("valid_from_ts").as("first_change_ts"))

    table.alias("existing")
      .merge(firstChange.alias("min_staged"),
        "existing.contratto_cod = min_staged.contratto_cod")
      .whenMatchedUpdate(
        condition = s"(existing.valid_to_ts = $MaxTsExpr OR existing.valid_to_ts IS NULL) " +
          "AND min_staged.first_change_ts > existing.valid_from_ts",
        set = Map(
          "valid_to_ts" -> "min_staged.first_change_ts",
          "is_current" -> "false",
          "closed_by_batch" -> s"'$batchId'"))
      .execute()
    val closed = table.lastMetric("numTargetRowsUpdated")

    // -- Phase B: idempotent insert of all version rows ------------------
    // (reference: src/header_etl.py:219-280)
    val staged = stagedForInsert.selectExpr(StagedColumns: _*)
    table.alias("existing")
      .merge(staged.alias("staged"),
        "existing.contratto_cod = staged.contratto_cod AND existing.valid_from_ts = staged.valid_from_ts")
      .whenNotMatchedInsert(values =
        StagedColumns.map(c => c -> s"staged.$c").toMap)
      .execute()
    val insertedB = table.lastMetric("numTargetRowsInserted")

    val inserted =
      if (initRows < 0 || insertedB < 0) -1L else initRows + insertedB
    (table, inserted, closed)
  }

  /** Phase L: late-arriving-event interval splitting (the reference's
    * named future work, notes.md:100-105 — "identificare esistenti con
    * valid_from <= new.valid_from <= valid_to e aggiornare valid_to").
    *
    * Two effects, both idempotent:
    *  1. every already-CLOSED interval that strictly encloses one or more
    *     staged timestamps is truncated at the EARLIEST of them (merge
    *     update, guarded by `valid_to_ts > split_ts` so a replay no-ops);
    *  2. every staged row with an existing boundary after it gets its
    *     `valid_to_ts` capped at the tightest such boundary and
    *     `is_current` forced false — so a late version closes exactly at
    *     the next existing `valid_from` and the chain stays contiguous.
    *
    * Events newer than the open version have no boundary after them and
    * pass through untouched (that regime belongs to Phase A/B). Scale:
    * both probes are one key-equi join of the batch against a 3-column
    * projection of the key's history rows followed by a hash agg — no
    * range join, no window over the table. */
  /** The two Phase-L probe frames, factored out so their plan shape is
    * auditable: both are key-equi joins of the batch against the 3-column
    * interval skeleton with theta RESIDUALS, followed by a hash agg —
    * never a range join or nested loop (PlanAuditSpec guards this). */
  private[graft] def lateSplitProbes(exN: DataFrame,
                                     dfTransformed: DataFrame): (DataFrame, DataFrame) = {
    // truncate enclosing closed intervals at their earliest late event
    val splits = dfTransformed.select(col("contratto_cod"),
        col("valid_from_ts").as("st_from"))
      .join(exN, Seq("contratto_cod"))
      .filter(col("ex_from") < col("st_from") && col("st_from") < col("ex_to") &&
        col("ex_to") =!= expr(MaxTsExpr))
      .groupBy(col("contratto_cod"), col("ex_from"))
      .agg(min("st_from").as("split_ts"))
    // tightest existing boundary strictly after each staged row
    val bound = dfTransformed.select(col("contratto_cod"), col("valid_from_ts"))
      .join(exN.select(col("contratto_cod"), col("ex_from")), Seq("contratto_cod"))
      .filter(col("ex_from") > col("valid_from_ts"))
      .groupBy("contratto_cod", "valid_from_ts")
      .agg(min("ex_from").as("next_ex_from"))
    (splits, bound)
  }

  private[jobs] def lateSplitAdjust(table: VersionedTable,
                                    dfTransformed: DataFrame,
                                    batchId: String): DataFrame = {
    // pre-merge snapshot, narrowed to the interval skeleton
    val exN = table.read.select(col("contratto_cod"),
      col("valid_from_ts").as("ex_from"),
      coalesce(col("valid_to_ts"), expr(MaxTsExpr)).as("ex_to"))
    val (splits, bound) = lateSplitProbes(exN, dfTransformed)
    table.alias("existing")
      .merge(splits.alias("sp"),
        "existing.contratto_cod = sp.contratto_cod AND existing.valid_from_ts = sp.ex_from")
      .whenMatchedUpdate(
        condition = "existing.valid_to_ts > sp.split_ts",
        set = Map(
          "valid_to_ts" -> "sp.split_ts",
          "closed_by_batch" -> s"'$batchId'"))
      .execute()

    // cap each staged row at the tightest existing boundary after it
    dfTransformed.join(bound, Seq("contratto_cod", "valid_from_ts"), "left")
      .withColumn("valid_to_ts",
        when(col("next_ex_from").isNotNull,
          least(col("valid_to_ts"), col("next_ex_from")))
          .otherwise(col("valid_to_ts")))
      .withColumn("is_current", col("is_current") && col("next_ex_from").isNull)
      .drop("next_ex_from")
  }

  /** Run-metrics CSV sink, one dir per batch, append semantics with
    * header (reference: src/header_etl.py:338-340). Written DRIVER-SIDE:
    * the previous `Seq(m).toDF().coalesce(1).write.csv` paid a full Spark
    * job (plan + schedule + task + commit protocol) for ONE row inside
    * every batch — pure fixed overhead (guide §5: the driver should do no
    * data work, and symmetrically one row is driver work, not a cluster
    * job). Same on-disk layout: a per-batch dir holding one headered
    * part file; none of the values need CSV quoting (no separators or
    * newlines in batch ids / app ids / numbers). */
  private def writeMetrics(spark: SparkSession, m: HeaderRunMetrics, path: String): Unit = {
    val dir = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(
      dir.resolve(s"part-00000-${java.util.UUID.randomUUID()}.csv"),
      m.productElementNames.mkString(",") + "\n" +
        m.productIterator.mkString(",") + "\n")
  }

  private def secondsSince(nanos: Long): Double =
    (System.nanoTime() - nanos) / 1e9
}
