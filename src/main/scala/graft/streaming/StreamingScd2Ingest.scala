package graft.streaming

import graft.core.Schemas
import graft.jobs.HeaderEtlJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StringType

/** Streaming SCD2 ingest — the continuous counterpart of the reference's
  * daily header batches (an extension beyond the batch-only reference;
  * its late-data discussion at notes.md:100-105 is unimplemented there).
  *
  * `readStream` file source watches a drop directory for new pipe-CSV
  * files; each micro-batch is deduped (keep-latest per key+event_time,
  * the validation operator's W2 window), transformed with the SAME
  * [[HeaderEtlJob.transform]] lead-chain versioning, and merged with the
  * SAME [[HeaderEtlJob.twoPhaseMerge]] two-phase SCD2 merge, so each
  * non-empty micro-batch commits as ONE table version: a reader never
  * sees it half-applied. Phase-B's (contratto_cod, valid_from_ts) key
  * makes redelivered files idempotent — exactly-once table state on top
  * of at-least-once file delivery.
  *
  * Scale: each micro-batch does one window shuffle + the bounded
  * file-rewrite merge; the streaming checkpoint tracks processed files,
  * so a restart resumes without reprocessing.
  */
object StreamingScd2Ingest {

  /** Start the ingest query.
    * @param inputDir      watched directory of pipe-CSV header drops
    * @param tablePath     VersionedTable target
    * @param checkpointDir streaming checkpoint location
    * @param availableNow  true = drain what is present, then stop
    *                      (micro-batch Trigger.AvailableNow); false =
    *                      run continuously per ProcessingTime trigger */
  def start(spark: SparkSession,
            inputDir: String,
            tablePath: String,
            checkpointDir: String,
            availableNow: Boolean = true): StreamingQuery = {
    val stream = spark.readStream
      .option("header", "true").option("sep", "|")
      .schema(Schemas.Header)
      .csv(inputDir)
      // audit columns, per-row source file from the file-source metadata
      .withColumn("source_file",
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("closed_by_batch", lit(null).cast(StringType))
      .withColumn("ingest_ts", current_timestamp())

    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        mergeMicroBatch(batch.sparkSession, batch, tablePath, epochId)
      }
      .outputMode("update")
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime("10 seconds"))).start()
  }

  /** One micro-batch: dedup (keep latest per (contratto_cod, event_time),
    * W2) → lead-chain transform → two-phase merge, batch-id'd by epoch,
    * committed as one table version (an empty batch commits nothing). */
  private[streaming] def mergeMicroBatch(spark: SparkSession, batch: DataFrame,
                                         tablePath: String, epochId: Long): Unit = {
    if (batch.isEmpty) return
    val batchId = s"stream_$epochId"
    val w = Window.partitionBy(Schemas.HeaderDedupKeys.map(col): _*)
      .orderBy(col("ingest_ts").desc_nulls_last)
    val deduped = batch
      .withColumn("batch_id", lit(batchId))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && Schemas.HeaderDedupKeys.map(col(_).isNotNull).reduce(_ && _))
      .drop("rn")
    val transformed = HeaderEtlJob.transform(deduped)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try HeaderEtlJob.twoPhaseMerge(spark, tablePath, transformed, batchId)
    finally transformed.unpersist(false)
  }
}
