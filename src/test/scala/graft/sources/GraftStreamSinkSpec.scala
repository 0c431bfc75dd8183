package graft.sources

import java.nio.file.Files

import graft.SharedSpark
import graft.tables.VersionedTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** `writeStream.format("graft")` — the exactly-once append sink. */
class GraftStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  test("file stream lands in a graft table; a second drain appends only new input") {
    val dir = freshDir("sink")
    val (in, table, ckpt) = (dir + "/in", dir + "/t", dir + "/ckpt")
    spark.range(0, 100).selectExpr("id", "concat('v', id) AS v")
      .write.parquet(in)
    def drain(): Unit = {
      val q = spark.readStream.schema("id LONG, v STRING").parquet(in)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt).option("path", table)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val t = VersionedTable.forPath(spark, table)
    assert(t.read.count() == 100)
    spark.range(100, 130).selectExpr("id", "concat('v', id) AS v")
      .write.mode("append").parquet(in)
    drain()
    assert(t.read.count() == 130)
    assert(t.read.exceptAll(
      spark.range(0, 130).selectExpr("id", "concat('v', id) AS v")).isEmpty)
  }

  test("upgrade boundary: a batch landed under the LEGACY raw-checkpoint appId is not replayed under the canonical one") {
    val dir = freshDir("sink-legacy")
    val batch = spark.range(0, 40).selectExpr("id", "id * 3 AS d").toDF()
    // pre-upgrade history: batch 0 committed with the RAW checkpoint
    // spelling as its appId (what the sink used before canonicalization)
    new GraftSink(spark, dir + "/t", Nil, appId = "/tmp/ck-legacy")
      .addBatch(0L, batch)
    val t = VersionedTable.forPath(spark, dir + "/t")
    val v = t.currentVersion
    // post-upgrade crash-replay: the restarted sink derives the
    // CANONICAL appId but carries the raw spelling as a legacy identity;
    // the replayed batch 0 must be recognized as landed, not re-appended
    val upgraded = new GraftSink(spark, dir + "/t", Nil,
      appId = "file:/tmp/ck-legacy", legacyAppIds = Seq("/tmp/ck-legacy"))
    upgraded.addBatch(0L, batch)
    assert(t.read.count() == 40, "legacy-landed batch must not duplicate")
    assert(t.currentVersion == v, "legacy-landed batch must not even commit")
    // the NEXT batch lands normally under the canonical id
    upgraded.addBatch(1L, batch)
    assert(t.read.count() == 80)
    assert(t.lastTxnBatchId("file:/tmp/ck-legacy").contains(1L))
  }

  test("a replayed batchId is skipped: exactly-once via the txn watermark") {
    val dir = freshDir("sink-replay")
    val sink = new GraftSink(spark, dir + "/t", Nil, appId = "appA")
    val batch = spark.range(0, 50).selectExpr("id", "id * 2 AS d").toDF()
    sink.addBatch(0L, batch)
    val t = VersionedTable.forPath(spark, dir + "/t")
    val v = t.currentVersion
    assert(v == 0L, "the first batch is the table's first version")
    // crash-replay across a RESTART: a fresh sink instance has no
    // in-memory cache, so this must be stopped by the TABLE's txn
    // watermark inside append
    new GraftSink(spark, dir + "/t", Nil, appId = "appA").addBatch(0L, batch)
    assert(t.read.count() == 50, "cross-restart replay must not duplicate rows")
    assert(t.currentVersion == v, "cross-restart replay must not even commit")
    // same-instance replay short-circuits on the landed cache
    sink.addBatch(0L, batch)
    assert(t.read.count() == 50 && t.currentVersion == v)
    sink.addBatch(1L, batch) // the NEXT batch lands normally
    assert(t.read.count() == 100)
    assert(t.lastTxnBatchId("appA").contains(1L))
    assert(t.lastTxnBatchId("appB").isEmpty)
    // a different writer app has its own watermark
    new GraftSink(spark, dir + "/t", Nil, appId = "appB").addBatch(0L, batch)
    assert(t.read.count() == 150)
  }

  test("partitionBy flows to the created table; graft-to-graft streaming replication") {
    val dir = freshDir("sink-part")
    val src = VersionedTable.create(spark,
      spark.range(0, 90).selectExpr("id", "cast(id % 3 AS int) AS p"),
      dir + "/src")
    val q = spark.readStream.format("graft").load(dir + "/src")
      .writeStream.format("graft").partitionBy("p")
      .option("checkpointLocation", dir + "/ckpt").option("path", dir + "/dst")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dst = VersionedTable.forPath(spark, dir + "/dst")
    assert(dst.partitionColumns == Seq("p"))
    assert(dst.read.exceptAll(src.read).isEmpty && src.read.exceptAll(dst.read).isEmpty)
    // partition values survived the roundtrip
    assert(dst.read.filter($"p" === 1).count() == 30)
  }

  test("two concurrent sink writers: every batch lands exactly once through the commit CAS") {
    val dir = freshDir("sink-conc")
    VersionedTable.create(spark,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL("id LONG, app STRING")),
      dir + "/t")
    val apps = Seq("appX", "appY")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = apps.map { app =>
      Future {
        val sink = new GraftSink(spark, dir + "/t", Nil, appId = app)
        (0 until 4).foreach { b =>
          sink.addBatch(b.toLong,
            spark.range(b * 10, b * 10 + 10).selectExpr("id", s"'$app' AS app"))
        }
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val t = VersionedTable.forPath(spark, dir + "/t")
    assert(t.read.count() == 80, "2 apps x 4 batches x 10 rows, no loss, no dup")
    apps.foreach { app =>
      assert(t.read.filter(col("app") === app).count() == 40)
      assert(t.lastTxnBatchId(app).contains(3L))
    }
    // watermarks are per-app: replaying either app's batch 3 is a no-op
    new GraftSink(spark, dir + "/t", Nil, "appX")
      .addBatch(3L, spark.range(30, 40).selectExpr("id", "'appX' AS app"))
    assert(t.read.count() == 80)
  }

  test("zombie replay: concurrent same-app same-batch appends land exactly once") {
    // the double-commit scenario the pinned commit version closes: a
    // zombie driver and its replacement replay ONE batch concurrently —
    // without the pin both could observe no watermark and land in two
    // different version slots
    val dir = freshDir("sink-zombie")
    val t = VersionedTable.create(spark,
      spark.range(0, 1).selectExpr("id"), dir + "/t")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (0 until 3).foreach { round =>
      val batch = spark.range(100 * round, 100 * round + 25).selectExpr("id")
      val replays = (0 until 2).map { _ =>
        Future {
          VersionedTable.forPath(spark, dir + "/t")
            .append(batch, txn = Some(("appZ", round.toLong)))
        }
      }
      Await.result(Future.sequence(replays), 120.seconds)
    }
    assert(t.read.count() == 1 + 3 * 25,
      "each replayed batch must land exactly once across concurrent writers")
    assert(t.lastTxnBatchId("appZ").contains(2L))
  }

  test("non-append output modes are rejected with guidance") {
    val dir = freshDir("sink-mode")
    val e = intercept[Exception] {
      spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .groupBy("value").count()
        .writeStream.format("graft").outputMode("complete")
        .option("checkpointLocation", dir + "/ckpt").option("path", dir + "/t")
        .start()
    }
    assert(e.getMessage.contains("foreachBatch"), e.getMessage)
  }

  test("two sinks' first batches on a path with no table both land, the first as version 0") {
    val dir = freshDir("sink-first")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id LONG, app STRING")
    def rows(app: String, from: Long) = (from until from + 10).map(i => org.apache.spark.sql.Row(i, app))
    // the slow sink's batch blocks in its write, after its append pinned
    // the path with no table
    val held = spark.createDataFrame(spark.sparkContext.parallelize(rows("appS", 0), 1)
      .mapPartitions { it =>
        GraftStreamSinkSpec.firstEntered.countDown()
        GraftStreamSinkSpec.firstResume.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }, schema)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val slow = new Thread(() => {
      try new GraftSink(spark, dir + "/t", Nil, appId = "appS").addBatch(0L, held)
      catch { case e: Throwable => failure.set(e) }
    })
    slow.start()
    assert(GraftStreamSinkSpec.firstEntered.await(60, java.util.concurrent.TimeUnit.SECONDS))
    new GraftSink(spark, dir + "/t", Nil, appId = "appF")
      .addBatch(0L, spark.createDataFrame(spark.sparkContext.parallelize(rows("appF", 10)), schema))
    GraftStreamSinkSpec.firstResume.countDown()
    slow.join(120000)
    assert(failure.get == null, s"the slow first batch must land: ${failure.get}")
    val t = VersionedTable.forPath(spark, dir + "/t")
    assert(t.currentVersion == 1L, "one version per batch, the first being version 0")
    assert(t.read.count() == 20 && t.read.filter(col("app") === "appS").count() == 10)
    assert(t.lastTxnBatchId("appS").contains(0L) && t.lastTxnBatchId("appF").contains(0L))
  }
}

/** Latches for the first-batch race: a top-level object, so the
  * executor-side closure and the driver share them. */
object GraftStreamSinkSpec {
  val firstEntered = new java.util.concurrent.CountDownLatch(1)
  val firstResume = new java.util.concurrent.CountDownLatch(1)
}
