package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's `private[sql]` Column ↔ Expression conversions, so
  * graft's native Catalyst expressions (graft.expressions.*) can be used
  * as plain `Column`s on ANY session — including the driver's, which
  * builds its own SparkSession without extension hooks. The expressions
  * travel inside the plan; no function registration is required. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field nullable, nested ones included — the read
    * schema a file source reports (`StructType.asNullable` is
    * `private[spark]`). */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * Dataset. `Dataset.unpersist` only releases entries in the cache
    * manager; a local checkpoint lives as a persisted RDD inside the
    * plan's `LogicalRDD`, which this walks to. After release the frame
    * CANNOT be recomputed (checkpointing truncated its lineage), so only
    * call once results are materialized. */
  def unpersistCheckpoint(df: Dataset[_], blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking)
      case _ => ()
    }

  /** Re-tag a batch DataFrame's relations as streaming. The DSv1
    * `Source.getBatch` contract requires the returned plan to carry
    * `isStreaming = true` (MicroBatchExecution asserts it); Spark's
    * FileStreamSource builds `LogicalRelation(..., isStreaming = true)`,
    * as this does after the fact for a graft change-frame, which is one
    * file relation, empty batches included. */
  def asStreamingBatch(df: DataFrame): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed.transform {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr.copy(isStreaming = true)
      })

  /** The inverse direction, for SINKS: re-materialize a micro-batch's
    * streaming-planned frame as a writable batch frame. A sink's
    * `addBatch` receives a frame carrying the incremental execution's
    * plan, which batch writers refuse ("must be executed with
    * writeStream.start()"); wrapping the already-planned physical RDD in
    * a fresh batch frame is how built-in and Delta sinks hand the data
    * to their writers. The RDD is the executed plan's output — no
    * recomputation of upstream state. */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    s.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }

  /** Unload every cached state-store provider (`StateStore.unloadAll`
    * is `private[sql]`, hence the bridge). A terminated streaming query
    * leaves its executor-side providers — and their in-memory version
    * maps — in the load cache until the maintenance thread notices the
    * deactivation, up to a minute later; a caller that has fully
    * consumed a drained query's output releases that state immediately,
    * the same way it unpersists caches. The next streaming query
    * re-loads providers on demand (and restarts maintenance), so this
    * is always safe between queries. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
