package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SharedSpark
import graft.jobs.TestCsv
import graft.tables.VersionedTable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val headerCols = Seq("contratto_cod", "codice_ordine_sap",
    "tipo_contratto", "codice_opec", "data_firma", "net_amount",
    "causale_annullamento", "data_annullamento", "codice_agente",
    "status_quote", "creazione_dta", "event_time")

  private def headerRow(cod: String, status: String, ts: String): Seq[String] =
    Seq(cod, "3000000001", "365", "OPEC0001", "2023-01-01", "1500.00",
      "", "", "10001", status, "2023-01-01", ts)

  test("streaming SCD2 ingest: files drained into a versioned table, idempotent") {
    val root = Files.createTempDirectory("graft-stream-scd2").toString
    val in = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(in))

    TestCsv.write(s"$in/header_b1.csv", headerCols, Seq(
      headerRow("S1", "Pending", "2023-01-23 10:00:00"),
      headerRow("S2", "Accepted", "2023-01-23 11:00:00")))
    // one table version per non-empty micro-batch (the first: version 0)
    def batches(q: org.apache.spark.sql.streaming.StreamingQuery) =
      q.recentProgress.count(_.numInputRows > 0)
    val q1 = StreamingScd2Ingest.start(spark, in, s"$root/table", s"$root/ckpt")
    q1.awaitTermination()
    val t = VersionedTable.forPath(spark, s"$root/table")
    assert(batches(q1) == 1 && t.currentVersion == 0L)
    assert(t.read.count() == 2)
    assert(t.read.filter(col("is_current")).count() == 2)

    // second drop: a real change for S1 + an intra-batch pair for S3
    TestCsv.write(s"$in/header_b2.csv", headerCols, Seq(
      headerRow("S1", "Accepted", "2023-01-24 09:00:00"),
      headerRow("S3", "Pending", "2023-01-24 10:00:00"),
      headerRow("S3", "Accepted", "2023-01-24 11:00:00")))
    val q2 = StreamingScd2Ingest.start(spark, in, s"$root/table", s"$root/ckpt")
    q2.awaitTermination()
    assert(batches(q2) >= 1 && t.currentVersion == batches(q2))

    val df = t.read
    assert(df.count() == 5, "2 + 1 new S1 version + 2 S3 versions")
    // S1: old version closed at the change event, new one open
    val s1 = df.filter(col("contratto_cod") === "S1").orderBy("valid_from_ts").collect()
    assert(s1.length == 2 && !s1(0).getAs[Boolean]("is_current") &&
      s1(0).getAs[Timestamp]("valid_to_ts") == Timestamp.valueOf("2023-01-24 09:00:00"))
    // S3: contiguous intra-batch chain
    val s3 = df.filter(col("contratto_cod") === "S3").orderBy("valid_from_ts").collect()
    assert(s3.length == 2 &&
      s3(0).getAs[Timestamp]("valid_to_ts") == s3(1).getAs[Timestamp]("valid_from_ts"))
    // exactly one current row per key
    assert(df.filter(col("is_current")).groupBy("contratto_cod").count()
      .filter(col("count") =!= 1).count() == 0)

    // re-delivering the same files (fresh checkpoint) must be a no-op
    val v2 = t.currentVersion
    val q3 = StreamingScd2Ingest.start(spark, in, s"$root/table", s"$root/ckpt2")
    q3.awaitTermination()
    assert(batches(q3) >= 1 && t.currentVersion == v2 + batches(q3))
    assert(t.read.count() == 5, "re-processing identical files adds nothing")
  }

  test("watermarked windowed aggregation over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")

    val q = StreamingEventStats.windowedCounts(events, "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()

    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:40:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 10:50:00"), "view", 5.0))
    q.processAllAvailable()
    // watermark far past the 10:00 window finalizes it; a too-late click
    // for 10:00 must be dropped
    mem.addData((Timestamp.valueOf("2024-01-01 13:00:00"), "view", 1.0))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-01 10:59:00"), "click", 99.0)) // late
    q.processAllAvailable()
    val out = spark.table("win_counts").collect()
      .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("total_value")))
    q.stop()
    assert(out.contains((Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L, 3.0)),
      s"10:00 click window wrong: ${out.mkString(", ")}")
    assert(out.contains((Timestamp.valueOf("2024-01-01 10:00:00"), "view", 1L, 5.0)))
    assert(!out.exists { case (w, t, n, v) =>
      w == Timestamp.valueOf("2024-01-01 10:00:00") && t == "click" && n == 3L },
      "late row must not reopen a finalized window")
  }

  test("dedupWithinWatermark drops horizon duplicates, evicts state, re-emits after") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val events = mem.toDF().toDF("ts", "key")
    val q = StreamingEventStats.dedupWithinWatermark(events, Seq("key"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()

    // batch 1: A twice in-batch + B → A,B emitted once each
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "A"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), "A"),
      (Timestamp.valueOf("2024-01-01 10:02:00"), "B"))
    q.processAllAvailable()
    // batch 2: A again within the watermark horizon → dropped; C advances
    // the watermark to 10:20, past A/B's (first-seen + 10 min) expiry
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:03:00"), "A"),
      (Timestamp.valueOf("2024-01-01 10:30:00"), "C"))
    q.processAllAvailable()
    // batch 3: one more batch so the post-batch-2 eviction has committed
    mem.addData((Timestamp.valueOf("2024-01-01 10:32:00"), "D"))
    q.processAllAvailable()
    // batch 4: A re-appears AFTER eviction → emitted again
    mem.addData((Timestamp.valueOf("2024-01-01 10:33:00"), "A"))
    q.processAllAvailable()

    val stateRows = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .lastOption.map(_.numRowsTotal)
    q.stop()
    val emitted = spark.table("wm_dedup").collect().map(_.getString(1))
    val byKey = emitted.groupBy(identity).view.mapValues(_.length).toMap
    assert(byKey("A") == 2,
      s"A must emit on first arrival and again after eviction, got $byKey")
    assert(byKey("B") == 1 && byKey("C") == 1 && byKey("D") == 1,
      s"every other key emits exactly once, got $byKey")
    // bounded state: 4 distinct keys + a re-emission were seen, but A/B's
    // evicted entries are gone — only C, D and the re-emitted A remain
    assert(stateRows.exists(_ <= 3),
      s"state must stay bounded by the watermark horizon, got $stateRows")
  }

  test("mapGroupsWithState running per-user stats across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingEventStats.UserEvent]
    val q = StreamingEventStats.runningUserStats(mem.toDS())
      .writeStream.format("memory").queryName("user_stats")
      .outputMode(StreamingEventStats.RunningStatsOutputMode).start()

    mem.addData(
      StreamingEventStats.UserEvent(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 2.0),
      StreamingEventStats.UserEvent(1L, Timestamp.valueOf("2024-01-01 11:00:00"), 3.0),
      StreamingEventStats.UserEvent(2L, Timestamp.valueOf("2024-01-01 10:30:00"), 7.0))
    q.processAllAvailable()
    mem.addData(
      StreamingEventStats.UserEvent(1L, Timestamp.valueOf("2024-01-01 12:00:00"), 5.0))
    q.processAllAvailable()
    q.stop()
    // memory sink in update mode appends each update; take the latest per key
    val latest = spark.table("user_stats").as[StreamingEventStats.UserState]
      .collect().groupBy(_.userId).map { case (k, v) => k -> v.maxBy(_.nEvents) }
    assert(latest(1L).nEvents == 3 && latest(1L).totalValue == 10.0 &&
      latest(1L).lastTs == Timestamp.valueOf("2024-01-01 12:00:00"))
    assert(latest(2L).nEvents == 1 && latest(2L).totalValue == 7.0)
  }
}
