package graft.jobs

import graft.core.Schemas
import graft.tables.VersionedTable
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Per-run metrics of one items batch — the OP-A counterpart of
  * [[HeaderRunMetrics]], so the bench can publish an items volume curve
  * with the same phase breakdown the header job reports. Phase
  * boundaries mirror the reference's logged steps
  * (reference: src/items_etl.py:49-143): extract (plan), dedup (the
  * counting pass), transform (plan), merge (init write or SCD2 merge).
  * The counting pass is the batch's first action: it scans the CSV, runs
  * the dedup window and fills the batch's cache, so `duration_s_dedup`
  * carries the batch's read and `duration_s_merge` reads the cache —
  * compare phase medians only with records that attribute the fill the
  * same way (the total `duration_s` does not depend on it).
  * inserted/closed come from the table's COMMIT METRICS, never a table
  * rescan (the same no-rescan accounting rule as the header job). */
case class ItemsRunMetrics(batch_id: String,
                           duration_s: Double,
                           duration_s_extract: Double,
                           duration_s_dedup: Double,
                           duration_s_transform: Double,
                           duration_s_merge: Double,
                           staged_count: Long,
                           duplicated_count: Long,
                           inserted_count: Long,
                           closed_count: Long,
                           spark_app_id: String)

/** OP-A: date-grained SCD2 for contract items
  * (reference: src/items_etl.py:46-143).
  *
  * Pipeline: pipe-CSV scan with `valid_from` extracted from the file name
  * via `regexp_extract(input_file_name(), ...)`; whole-partition
  * count-window dedup that — deliberately, matching the reference — drops
  * ALL copies of any key occurring more than once (not keep-one; see
  * SURVEY.md §2.6 W3); date transform with the 9999-12-31 open sentinel;
  * then, as one table version, either the table's initial partitioned
  * write or the SCD2 merge's two steps: an update-only merge closes each
  * changed open row (`valid_to = new valid_from`), then an insert-only
  * merge inserts every batch row whose key has no open row left.
  *
  * The change predicate uses non-null-safe `<>` on {contracted_price,
  * total_discount, data_fine_prestazione} — a known reference defect
  * (reference: notes.md:3-20) preserved for parity.
  */
object ItemsEtlJob {
  import JobSupport.secondsSince

  /** All table columns, for the whenNotMatchedInsert values map
    * (reference: src/items_etl.py:121-141). */
  private[jobs] val InsertColumns: Seq[String] = Seq(
    "contratto_cod", "numero_annuncio", "list_total", "contracted_price",
    "total_discount", "data_attivazione", "data_fine_prestazione",
    "product_code", "quantity", "causale_annullamento", "data_annullamento",
    "status_item", "creazione_dta", "valid_from", "valid_from_year",
    "valid_from_month", "valid_from_day", "valid_to")

  /** One transformed batch into the items table in ONE
    * [[VersionedTable.transaction]]: the table's first write (reference:
    * src/items_etl.py:79-81), else the SCD2 merge (:86-143) as two steps,
    * close then insert (SURVEY.md J6: "model it as two actions"). The
    * insert step reads the close step's staged state, so a batch row is
    * inserted exactly when its key has no open row after the close: a new
    * key, or a changed one. A commit that lands first makes the body re-run
    * on the new state, so a concurrent run lands the batch once.
    * @return (rows inserted, rows closed), from the steps' metrics */
  private[jobs] def scd2Merge(table: VersionedTable, dfTransformed: DataFrame): (Long, Long) =
    table.alias("existing").transaction { tx =>
      if (tx.version < 0) (tx.create(dfTransformed)("numOutputRows").toLong, 0L)
      else {
        val b = dfTransformed.alias("b")
        val sameKey = "existing.contratto_cod = b.contratto_cod AND existing.numero_annuncio = b.numero_annuncio"
        // close the open row whose tracked values differ — `<>`
        // non-null-safe, as in the reference (src/items_etl.py:114-119)
        val closed = tx.merge(b, sameKey)
          .whenMatchedUpdate(
            condition = "existing.valid_to = date('9999-12-31') AND (" +
              "b.contracted_price <> existing.contracted_price OR " +
              "b.total_discount <> existing.total_discount OR " +
              "b.data_fine_prestazione <> existing.data_fine_prestazione)",
            set = Map("valid_to" -> "b.valid_from"))
          .execute()("numTargetRowsUpdated").toLong
        // insert each batch row whose key has no open row left; b.valid_to
        // is the open sentinel, so every key is a source column
        val inserted = tx.merge(b, s"$sameKey AND existing.valid_to = b.valid_to")
          .whenNotMatchedInsert(values = InsertColumns.map(c => c -> s"b.$c").toMap)
          .execute()("numTargetRowsInserted").toLong
        (inserted, closed)
      }
    }

  /** @return number of duplicated rows dropped by the dedup step (the
    *         reference logs this count — src/items_etl.py:57-61). */
  def run(spark: SparkSession, readPath: String, writePath: String): Long =
    runWithMetrics(spark, readPath, writePath).duplicated_count

  /** [[run]] with the full phase-timing/count breakdown; when
    * `metricsPath` is given, appends the row as a one-line header CSV
    * under `metricsPath/<batch_id>` (the header job's metrics-sink
    * shape — reference logs these values, src/items_etl.py:57-61). */
  def runWithMetrics(spark: SparkSession, readPath: String, writePath: String,
                     metricsPath: Option[String] = None): ItemsRunMetrics = {
    val t0 = System.nanoTime()
    val filename = readPath.split("/").last
    val batchId = JobSupport.batchId(filename)

    // ---- EXTRACT (reference: src/items_etl.py:49-52) -------------------
    val tExtract0 = System.nanoTime()
    val dfExtracted = spark.read
      .option("header", "true").option("sep", "|")
      .schema(Schemas.Items)
      .csv(readPath)
      .withColumn("valid_from",
        regexp_extract(input_file_name(), Schemas.ItemsDateRegex, 1))
    val durExtract = secondsSince(tExtract0)

    // ---- DEDUP: drop ALL copies of keys occurring >1 time --------------
    // (reference quirk, preserved: src/items_etl.py:57-64 keeps flag==1
    // and logs flag==2 — keys with 3+ copies are dropped but not counted)
    // The flagged frame is the batch's ONE expensive lineage (CSV scan +
    // the whole-partition count window) and has two consumers: the
    // counting pass here and everything downstream of the transform.
    // Persisting it makes that pass the action that fills the
    // cache, so the scan+window run ONCE per batch instead of twice
    // (guide §1.2: don't repeat passes). Downstream re-derives transform
    // columns from this cache — narrow, no shuffle.
    val tDedup0 = System.nanoTime()
    val wDup = Window.partitionBy(Schemas.ItemsDedupKeys.map(col): _*)
    val flagged = dfExtracted.withColumn("flag", count(lit(1)).over(wDup))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the try/finally that releases the cache starts HERE, immediately
    // after the persist: the counting pass below is the action that
    // materializes it and can throw on bad input — thrown OUTSIDE the
    // guard it would leak the pinned cache into a long-lived session
    // (ADVICE r13)
    try {
    // ONE pass counts both the dropped duplicates (flag == 2) and the
    // staged rows (flag == 1: the dedup keeps them, the transform is
    // row-preserving): the counts ride accumulators of a write to the
    // `noop` sink, so no global aggregate follows the window
    val counted = Observation()
    flagged.observe(counted,
      count(when(col("flag") === 2, true)).as("duplicated"),
      count(when(col("flag") === 1, true)).as("staged"))
      .write.format("noop").mode("overwrite").save()
    val counts = counted.get
    val (duplicatedCount, stagedCount) =
      (counts("duplicated").asInstanceOf[Long], counts("staged").asInstanceOf[Long])
    val deduped = flagged.filter(col("flag") === 1)
    val durDedup = secondsSince(tDedup0)

    // ---- TRANSFORM (reference: src/items_etl.py:68-73) -----------------
    val tTransform0 = System.nanoTime()
    val dfTransformed = deduped
      .withColumn("valid_from", to_date(col("valid_from"), "yyyyMMdd").cast(DateType))
      .withColumn("valid_to", to_date(lit(Schemas.MaxDate), "yyyyMMdd").cast(DateType))
      .withColumn("valid_from_year", year(col("valid_from")))
      .withColumn("valid_from_month", month(col("valid_from")))
      .withColumn("valid_from_day", dayofmonth(col("valid_from")))
      .drop("flag")
    val durTransform = secondsSince(tTransform0)

    // ---- INIT OR MERGE, one version (reference: src/items_etl.py:79-143)
    // No persist here: dfTransformed is a narrow projection over the
    // already-cached flagged frame (the dedup phase materialized it).
    // Each merge step persists its own source anyway (executeMerge: the
    // analyzed plan holds the dedup window), so a copy made here would
    // be a third one.
    val tMerge0 = System.nanoTime()
    val (insertedCount, closedCount) = scd2Merge(
      VersionedTable.open(spark, writePath, dfTransformed.schema, Schemas.PartitionColumns),
      dfTransformed)
    val durMerge = secondsSince(tMerge0)

    val metrics = ItemsRunMetrics(
      batch_id = batchId,
      duration_s = secondsSince(t0),
      duration_s_extract = durExtract,
      duration_s_dedup = durDedup,
      duration_s_transform = durTransform,
      duration_s_merge = durMerge,
      staged_count = stagedCount,
      duplicated_count = duplicatedCount,
      inserted_count = insertedCount,
      closed_count = closedCount,
      spark_app_id = spark.sparkContext.applicationId)
    metricsPath.foreach(p => JobSupport.writeMetrics(metrics, s"$p/$batchId"))
    metrics
    } finally flagged.unpersist(false)
  }
}
