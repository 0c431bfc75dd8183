package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}

import graft.expressions.BatchValue

/** Data-quality counters of one validated batch.
  * Reference: src/utils/validations_utils.py:124-132. */
case class DqMetrics(batchDate: String,
                     total: Long,
                     kept: Long,
                     discarded: Long,
                     duplicatesOlder: Long,
                     nullKey: Long,
                     batchDateMismatch: Long)

/** Batch validation operator: classify rows NULL_KEY → BATCH_DATE_MISMATCH →
  * DUPLICATE_OLDER (priority order of the when-chain), keep the most recent
  * row per dedup-key group, persist discards, and compute all DQ counters.
  *
  * The whole phase is ONE pass over the batch: the tagged frame is written
  * once, split by the discard flag (a partitioned parquet write — no
  * shuffle), with every DQ counter collected by an [[Observation]] during
  * that same write. The discarded split is then promoted to the discard
  * sink by a filesystem rename and the kept split is returned as a plain
  * parquet scan. Compared to caching the full tagged frame and running
  * write + aggregate + downstream over the cache, this removes the
  * second aggregation job entirely, keeps ZERO executor memory pinned
  * through the downstream merge (the earlier MEMORY_AND_DISK cache of the
  * full-width batch competed with the transform cache and the merge join
  * for storage at 10M+ rows), and hands downstream a lineage-truncated,
  * column-prunable scan instead of a recomputable plan.
  *
  * Reference: src/utils/validations_utils.py:14-150.
  */
object Validation {

  private val HelperCols = Seq("rn", "discard_reason", "event_date_parsed", "event_time_ts")

  /** @param extracted  batch rows with `event_time` and `source_file` columns
    * @param dedupKeys  duplicate-group key (reference: contratto_cod, event_time)
    * @param sourceFile the batch's file name (driver-side — replaces the
    *                   reference's limit(1).collect() round-trip at
    *                   validations_utils.py:54-57, which doesn't scale)
    * @param dateRegex  extracts yyyyMMdd from the file name
    * @param discardedPath discarded-rows sink root (one dir per batch date)
    * @return (kept rows ready for transform, DQ counters, release hook that
    *         deletes the staging split — call after the kept rows have been
    *         fully consumed)
    */
  def validate(extracted: DataFrame,
               dedupKeys: Seq[String],
               sourceFile: String,
               dateRegex: String,
               discardedPath: String): (DataFrame, DqMetrics, () => Unit) = {
    require(dedupKeys.nonEmpty, "dedupKeys must be a non-empty column list")
    val spark = extracted.sparkSession

    // 1) parse event_time into timestamp/date with ordered fallbacks
    //    (reference: validations_utils.py:36-49)
    val df0 = extracted
      .withColumn("event_time_ts", coalesce(
        to_timestamp(col("event_time"), "yyyy-MM-dd HH:mm:ss"),
        to_timestamp(col("event_time"), "yyyy-MM-dd")))
      .withColumn("event_date_parsed", coalesce(
        to_date(col("event_time_ts")),
        to_date(col("event_time"), "yyyy-MM-dd"),
        to_date(col("event_time"))))

    // 2) batch date from the file name (driver-side)
    val m = dateRegex.r.findFirstMatchIn(sourceFile).getOrElse(
      throw new IllegalArgumentException(
        s"cannot extract batch date from file name $sourceFile with regex $dateRegex"))
    val batchDateStr = m.group(1)
    val batchDateIso =
      s"${batchDateStr.substring(0, 4)}-${batchDateStr.substring(4, 6)}-${batchDateStr.substring(6, 8)}"
    // held by reference, not inlined: the validation's generated code is
    // the same for every batch (a file-name date that is no calendar day
    // compares as NULL, as `to_date` would parse it)
    val batchDateLit = scala.util.Try(java.time.LocalDate.parse(batchDateIso))
      .fold(_ => lit(null).cast(DateType), BatchValue.date)

    // 3) discard conditions (reference: validations_utils.py:68-69)
    val nullCondition = dedupKeys.map(col(_).isNull).reduce(_ || _)
    val mismatchCondition =
      col("event_date_parsed").isNull || (col("event_date_parsed") =!= batchDateLit)

    // 4) keep the most recent row per duplicate group; a row is kept iff
    //    the priority when-chain assigned it no discard reason
    val wDedup = Window.partitionBy(dedupKeys.map(col): _*)
      .orderBy(col("event_time_ts").desc_nulls_last)
    val reason = when(nullCondition, lit("NULL_KEY"))
      .when(mismatchCondition, lit("BATCH_DATE_MISMATCH"))
      .when(col("rn") > 1, lit("DUPLICATE_OLDER"))
      .otherwise(lit(null))

    // 5+6) ONE job: write the tagged batch split by the discard flag, with
    //    every DQ counter observed during the same pass
    //    (reference: validations_utils.py:102-120 — Delta write + a count()
    //    per counter there). The counters observe the window's output, so
    //    the reason, the split flag and the writer's sort are one generated
    //    stage above them instead of two around them.
    val obs = Observation()
    val stagingPath = s"$discardedPath/.validation_staging_$batchDateStr"
    // a running count over the ordered rows is the row number; counting
    // runs the same generated aggregate as the items job's dedup window
    val tagged = df0
      .withColumn("rn", count(lit(1)).over(wDedup.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .observe(obs,
        count(lit(1)).as("total"),
        sum(when(reason.isNull, 1).otherwise(0)).as("kept"),
        sum(when(reason.isNotNull, 1).otherwise(0)).as("discarded"),
        sum(when(reason === "DUPLICATE_OLDER", 1).otherwise(0)).as("duplicates_older"),
        sum(when(reason === "NULL_KEY", 1).otherwise(0)).as("null_key"),
        sum(when(reason === "BATCH_DATE_MISMATCH", 1).otherwise(0)).as("batch_date_mismatch"))
      .withColumn("discard_reason", reason)
      .withColumn("rn", col("rn").cast("int"))
    tagged
      .withColumn("__discarded", col("discard_reason").isNotNull)
      .write.mode("overwrite").partitionBy("__discarded").parquet(stagingPath)

    val o = obs.get
    def cnt(k: String): Long = // sums are NULL on an empty batch
      Option(o(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    val metrics = DqMetrics(
      batchDate = batchDateStr,
      total = cnt("total"),
      kept = cnt("kept"),
      discarded = cnt("discarded"),
      duplicatesOlder = cnt("duplicates_older"),
      nullKey = cnt("null_key"),
      batchDateMismatch = cnt("batch_date_mismatch"))

    // promote the discarded split to the per-batch sink dir (pure
    // filesystem rename — reference: validations_utils.py:102-103, an
    // overwritten-per-batch table there)
    val fs = new Path(stagingPath).getFileSystem(spark.sessionState.newHadoopConf())
    val discTarget = new Path(s"$discardedPath/discarded_$batchDateStr")
    fs.delete(discTarget, true)
    val discSrc = new Path(s"$stagingPath/__discarded=true")
    if (fs.exists(discSrc)) fs.rename(discSrc, discTarget)
    else {
      // no discards this batch: still write a schema-bearing empty parquet
      // dataset — a bare directory would break spark.read.parquet for
      // downstream consumers of the discard sink
      val schema = StructType(tagged.schema.filterNot(_.name == "__discarded"))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        .write.mode("overwrite").parquet(discTarget.toString)
    }

    val keptDir = new Path(s"$stagingPath/__discarded=false")
    val keptClean =
      if (fs.exists(keptDir))
        spark.read.parquet(keptDir.toString).drop(HelperCols: _*)
      else { // fully-discarded or empty batch: keep the downstream schema
        val schema = StructType(
          tagged.schema.filterNot(f => HelperCols.contains(f.name)))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      }
    (keptClean, metrics, () => { fs.delete(new Path(stagingPath), true); () })
  }
}
