package graft.jobs

import java.nio.file.Files
import java.sql.Timestamp

import graft.SharedSpark
import graft.tables.VersionedTable
import org.apache.spark.sql.execution.CacheProbe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The five SCD2 scenarios of the reference's authoritative suite
  * (reference: test/run_all_test.py:40-158), plus the 5-format timestamp
  * fallback and the global interval invariants. Tests share one table and
  * run in declaration order, mirroring the reference script. */
class HeaderEtlJobSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val header = Seq("contratto_cod", "codice_ordine_sap",
    "tipo_contratto", "codice_opec", "data_firma", "net_amount",
    "causale_annullamento", "data_annullamento", "codice_agente",
    "status_quote", "creazione_dta", "event_time")

  private lazy val root = Files.createTempDirectory("graft-header-etl").toString
  private lazy val crmDir = s"$root/crm/header"
  private lazy val tablePath = s"$root/landing/header"
  private lazy val discardedPath = s"$root/discarded/header"
  private lazy val metricsPath = s"$root/metrics/header"

  private def runBatch(file: String, rows: Seq[Seq[String]]): HeaderRunMetrics = {
    val path = s"$crmDir/$file"
    TestCsv.write(path, header, rows)
    HeaderEtlJob.run(spark, path, tablePath, discardedPath, metricsPath)
  }

  private def tableFor(key: String) =
    VersionedTable.forPath(spark, tablePath).read
      .filter(col("contratto_cod") === key)
      .orderBy(col("valid_from_ts").asc)

  private val MaxTs = Timestamp.valueOf("9999-12-31 00:00:00")

  test("T1: initial load creates one open version") {
    val m = runBatch("header_20230101.csv", Seq(
      Seq("C1", "ORD1", "365", "P1", "2022-01-01", "100.00", "", "", "AG1",
        "Accepted", "11/25/2022", "2023-01-01 10:00:00")))
    val rows = tableFor("C1").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Boolean]("is_current"))
    assert(rows(0).getAs[Timestamp]("valid_to_ts") == MaxTs)
    assert(rows(0).getAs[Timestamp]("valid_from_ts") ==
      Timestamp.valueOf("2023-01-01 10:00:00"))
    // creazione_dta parsed through the M/d/yyyy fallback on the init path
    assert(rows(0).getAs[java.sql.Date]("creazione_dta_parsed") ==
      java.sql.Date.valueOf("2022-11-25"))
    // an init batch is one transaction: the table's version 0, whose
    // written rows are the batch's inserted rows
    assert(VersionedTable.forPath(spark, tablePath).currentVersion == 0L)
    assert(m.inserted_count == 1L && m.closed_count == 0L)
  }

  test("T2: changed status closes previous version and opens a new one") {
    val v0 = VersionedTable.forPath(spark, tablePath).currentVersion
    val m = runBatch("header_20230102.csv", Seq(
      Seq("C1", "ORD1", "365", "P1", "2022-01-01", "100.00", "", "", "AG1",
        "Rifiutata", "11/25/2022", "2023-01-02 12:00:00")))
    // Phases A and B land as ONE version, carrying the batch's counts
    val t = VersionedTable.forPath(spark, tablePath)
    assert(t.currentVersion == v0 + 1)
    val (op, om) = t.history(1).collect().map(r =>
      (r.getAs[String]("operation"), r.getAs[scala.collection.Map[String, String]]("operationMetrics")))
      .head
    assert(op == "MERGE" && m.closed_count == 1 && m.inserted_count == 1)
    assert(om("numTargetRowsUpdated").toLong == m.closed_count &&
      om("numTargetRowsInserted").toLong == m.inserted_count)
    val rows = tableFor("C1").collect()
    assert(rows.length == 2)
    val (first, second) = (rows(0), rows(1))
    assert(!first.getAs[Boolean]("is_current"))
    assert(second.getAs[Boolean]("is_current"))
    assert(first.getAs[Timestamp]("valid_to_ts") ==
      second.getAs[Timestamp]("valid_from_ts"))
    assert(first.getAs[String]("closed_by_batch") != null)
    assert(second.getAs[String]("status_quote") == "Rifiutata")
  }

  test("T3: intra-batch events become contiguous version rows") {
    runBatch("header_20230103.csv", Seq(
      Seq("C2", "ORD2", "365", "P1", "", "200.00", "", "", "AG2",
        "Accepted", "", "2023-01-03 09:00:00"),
      Seq("C2", "ORD2", "365", "P1", "", "200.00", "", "", "AG2",
        "Rifiutata", "", "2023-01-03 15:00:00")))
    val rows = tableFor("C2").collect()
    assert(rows.length == 2, s"expected 2 versions for C2, got ${rows.length}")
    assert(rows(0).getAs[Timestamp]("valid_to_ts") ==
      rows(1).getAs[Timestamp]("valid_from_ts"))
    assert(!rows(0).getAs[Boolean]("is_current"))
    assert(rows(1).getAs[Boolean]("is_current"))
  }

  test("T4: dedup keeps only the latest of identical duplicates") {
    val dup = Seq("C3", "ORD3", "365", "P1", "", "50.00", "", "", "AG3",
      "Accepted", "", "2023-01-04 08:00:00")
    val m = runBatch("header_20230104.csv", Seq(
      dup, dup, dup, dup,
      Seq("C3", "ORD3", "365", "P1", "", "50.00", "", "", "AG3",
        "Signed", "", "2023-01-04 09:00:00"),
      Seq("C10", "ORD3", "365", "P1", "", "50.00", "", "", "AG3",
        "Suspended", "", "2023-01-04 09:00:00")))
    assert(m.dq_duplicates_older == 3) // 4 copies → 3 discarded as older dups
    // staged_count is derived from the validation pass's kept counter
    // (transform is row-preserving — no extra counting job); pin the
    // derivation against the real discard split: 6 rows in, 3 older dups
    // discarded, 3 staged
    assert(m.staged_count == 3 && m.staged_count == m.dq_kept)
    val c3 = tableFor("C3").collect()
    assert(c3.length == 2, s"expected 2 versions for C3, got ${c3.length}")
    assert(c3(0).getAs[String]("status_quote") == "Accepted")
    assert(c3(1).getAs[String]("status_quote") == "Signed")
    assert(!c3(0).getAs[Boolean]("is_current"))
    assert(c3(1).getAs[Boolean]("is_current"))
    val c10 = tableFor("C10").collect()
    assert(c10.length == 1 && c10(0).getAs[Boolean]("is_current"))
  }

  test("T5: re-run with a superset batch adds exactly the new event") {
    runBatch("header_20230105.csv", Seq(
      Seq("C4", "ORD4", "365", "P1", "", "75.00", "", "", "AG4",
        "Accepted", "", "2023-01-05 11:00:00")))
    val before = tableFor("C4").count()
    // same file name, superset content — idempotent re-run semantics
    runBatch("header_20230105.csv", Seq(
      Seq("C4", "ORD4", "365", "P1", "", "75.00", "", "", "AG4",
        "Accepted", "", "2023-01-05 11:00:00"),
      Seq("C4", "ORD4", "365", "P1", "", "75.00", "", "", "AG4",
        "Signed", "", "2023-01-05 12:00:00")))
    val after = tableFor("C4").collect()
    assert(before == after.length - 1,
      s"idempotence failed: before=$before after=${after.length}")
    assert(after.last.getAs[String]("status_quote") == "Signed")
    assert(after.last.getAs[Boolean]("is_current"))
    // the 11:00 row was closed at the first changing event
    assert(after.head.getAs[Timestamp]("valid_to_ts") ==
      Timestamp.valueOf("2023-01-05 12:00:00"))
  }

  test("ISO offset timestamps (.SSSXXX) are kept, not discarded") {
    val m = runBatch("header_20230106.csv", Seq(
      Seq("C5", "ORD5", "365", "P1", "", "80.00", "", "", "AG5",
        "Accepted", "", "2023-01-06T08:00:00.000+01:00")))
    assert(m.dq_kept == 1 && m.dq_discarded == 0)
    val rows = tableFor("C5").collect()
    assert(rows.length == 1)
    // +01:00 normalized to the UTC session zone
    assert(rows(0).getAs[Timestamp]("valid_from_ts") ==
      Timestamp.valueOf("2023-01-06 07:00:00"))
  }

  test("invariants: contiguous intervals, exactly one current row per key") {
    import spark.implicits._
    val df = VersionedTable.forPath(spark, tablePath).read
    // exactly one open row per key (reference: test/run_all_test.py:124-130)
    val badCurrent = df.groupBy("contratto_cod")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n"))
      .filter(col("n") =!= 1).count()
    assert(badCurrent == 0, "keys with != 1 current row")
    // contiguity: valid_to_ts == next valid_from_ts within each key
    // (reference: test/run_all_test.py:98)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("contratto_cod").orderBy(col("valid_from_ts").asc)
    val gaps = df
      .withColumn("next_from", lead("valid_from_ts", 1).over(w))
      .filter(col("next_from").isNotNull &&
        col("valid_to_ts") =!= col("next_from"))
      .count()
    assert(gaps == 0, "non-contiguous version intervals")
    // discarded sink exists for the dup batch
    assert(spark.read.parquet(s"$discardedPath/discarded_20230104").count() == 3)
    // a CLEAN batch's discard sink must still be a readable (empty)
    // parquet dataset, not a bare directory
    assert(spark.read.parquet(s"$discardedPath/discarded_20230101").count() == 0)
    // metrics CSVs were written (one dir per batch)
    val metricsDirs = new java.io.File(metricsPath).list()
    assert(metricsDirs != null && metricsDirs.nonEmpty)
  }

  test("ingest_ts: one value per batch, inside the run's wall clock, later for a later batch") {
    val root = Files.createTempDirectory("graft-header-ingest").toString
    def row(cod: String, status: String, ts: String): Seq[String] =
      Seq(cod, "ORD1", "365", "P1", "", "1.00", "", "", "AG1", status, "", ts)
    def run(file: String, rows: Seq[Seq[String]]): (Long, Long) = {
      val path = s"$root/crm/$file"
      TestCsv.write(path, header, rows)
      val t0 = System.currentTimeMillis()
      HeaderEtlJob.run(spark, path, s"$root/table", s"$root/discarded", s"$root/metrics")
      (t0, System.currentTimeMillis())
    }
    val first = run("header_20230101.csv", Seq(
      row("I1", "Accepted", "2023-01-01 10:00:00"), row("I2", "Accepted", "2023-01-01 11:00:00")))
    val second = run("header_20230102.csv", Seq(
      row("I1", "Signed", "2023-01-02 10:00:00"), row("I3", "Accepted", "2023-01-02 11:00:00")))
    val table = VersionedTable.forPath(spark, s"$root/table").read
    def stamps(file: String): Seq[Timestamp] =
      table.filter(col("source_file") === file).select("ingest_ts").distinct()
        .collect().map(_.getTimestamp(0)).toSeq
    val Seq(a) = stamps("header_20230101.csv")
    val Seq(b) = stamps("header_20230102.csv")
    assert(a.getTime >= first._1 && a.getTime <= first._2, s"$a outside $first")
    assert(b.getTime >= second._1 && b.getTime <= second._2, s"$b outside $second")
    assert(b.after(a))
    assert(table.filter(col("source_file") === "header_20230102.csv").count() == 2)
  }

  test("a merge that throws still releases the persisted batch and the staging dir") {
    val root = Files.createTempDirectory("graft-header-leak").toString
    def run(file: String, ts: String) = {
      val path = s"$root/crm/$file"
      TestCsv.write(path, header, Seq(Seq("L1", "ORD1", "365", "P1", "", "1.00", "", "",
        "AG1", "Accepted", "", ts)))
      HeaderEtlJob.run(spark, path, s"$root/table", s"$root/discarded", s"$root/metrics")
    }
    run("header_20230101.csv", "2023-01-01 10:00:00")
    val t = VersionedTable.forPath(spark, s"$root/table")
    // a torn newest commit (a writer that died mid-publish on a store
    // without an atomic rename): every writer refuses to commit past it
    val torn = t.currentVersion + 1
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/table", "_graft_log", f"$torn%020d.json"),
      s"""{"version":$torn,"opera""")
    val cached = CacheProbe.entries(spark)
    intercept[Exception](run("header_20230102.csv", "2023-01-02 10:00:00"))
    assert(CacheProbe.entries(spark) == cached, "the transformed batch must be unpersisted")
    assert(!new java.io.File(s"$root/discarded/.validation_staging_20230102").exists(),
      "the validation staging dir must be deleted")
    assert(t.currentVersion == torn)
  }

  test("a header init batch with lateSplit lands as one version") {
    val root = Files.createTempDirectory("graft-header-init-late").toString
    val path = s"$root/crm/header_20230101.csv"
    TestCsv.write(path, header, Seq(
      Seq("N1", "ORD1", "365", "P1", "", "1.00", "", "", "AG1", "Pending", "", "2023-01-01 09:00:00"),
      Seq("N1", "ORD1", "365", "P1", "", "1.00", "", "", "AG1", "Accepted", "", "2023-01-01 10:00:00"),
      Seq("N2", "ORD2", "365", "P1", "", "1.00", "", "", "AG1", "Accepted", "", "2023-01-01 11:00:00")))
    val m = HeaderEtlJob.run(spark, path, s"$root/table", s"$root/discarded", s"$root/metrics",
      lateSplit = true)
    val t = VersionedTable.forPath(spark, s"$root/table")
    assert(t.currentVersion == 0L)
    assert(m.inserted_count == 3L && m.closed_count == 0L)
    assert(t.read.count() == 3L && t.read.filter(col("is_current")).count() == 2L)
  }

  test("a replayed header batch runs no rewrite and commits no data file, with and without lateSplit") {
    val root = Files.createTempDirectory("graft-header-replay").toString
    val table = s"$root/table"
    val path = s"$root/crm/header_20230201.csv"
    TestCsv.write(path, header, Seq(
      Seq("P1", "ORD1", "365", "P1", "", "1.00", "", "", "AG1", "Pending", "", "2023-02-01 09:00:00"),
      Seq("P1", "ORD1", "365", "P1", "", "1.00", "", "", "AG1", "Accepted", "", "2023-02-01 10:00:00"),
      Seq("P2", "ORD2", "365", "P1", "", "1.00", "", "", "AG1", "Accepted", "", "2023-02-01 11:00:00")))
    def run(lateSplit: Boolean) =
      HeaderEtlJob.run(spark, path, table, s"$root/discarded", s"$root/metrics", lateSplit)
    val loaded = run(lateSplit = false)
    assert((loaded.inserted_count, loaded.closed_count) == ((3L, 0L)))
    for (lateSplit <- Seq(false, true)) {
      val (live, onDisk) = (HeaderEtlJobSpec.liveFiles(spark, table), HeaderEtlJobSpec.dataFiles(table))
      val (replay, rewrites) = HeaderEtlJobSpec.rewriteJobs(spark)(run(lateSplit))
      assert((replay.inserted_count, replay.closed_count) == ((0L, 0L)), s"lateSplit=$lateSplit")
      assert(rewrites == 0, s"lateSplit=$lateSplit: $rewrites rewrite jobs")
      val last = VersionedTable.forPath(spark, table).history(1).head()
      assert((last.getAs[Long]("numAddedFiles"), last.getAs[Long]("numRemovedFiles")) == ((0L, 0L)),
        s"lateSplit=$lateSplit: the replay's commit swapped files")
      assert(HeaderEtlJobSpec.liveFiles(spark, table) == live, s"lateSplit=$lateSplit")
      assert(HeaderEtlJobSpec.dataFiles(table) == onDisk, s"lateSplit=$lateSplit")
    }
  }

  test("late-event rule: a stale older change keeps the open row open; lateSplit closes it at the newer change") {
    def row(status: String, at: String): Seq[String] =
      Seq("S1", "ORD1", "365", "P1", "", "1.00", "", "", "AG1", status, "", at)
    for (lateSplit <- Seq(false, true)) {
      val root = Files.createTempDirectory("graft-header-late-rule").toString
      // two drops of one day, each in its own directory
      def run(drop: String, rows: Seq[Seq[String]]) = {
        val path = s"$root/crm/$drop/header_20230302.csv"
        TestCsv.write(path, header, rows)
        HeaderEtlJob.run(spark, path, s"$root/table", s"$root/discarded", s"$root/metrics", lateSplit)
      }
      run("d1", Seq(row("Accepted", "2023-03-02 12:00:00")))
      // the earliest differing event (08:00) is older than the open row
      // (12:00); a newer one (14:00) differs too
      val m = run("d2", Seq(row("Pending", "2023-03-02 08:00:00"), row("Signed", "2023-03-02 14:00:00")))
      val noon = VersionedTable.forPath(spark, s"$root/table").read
        .filter(col("valid_from_ts") === Timestamp.valueOf("2023-03-02 12:00:00")).collect()
      assert(noon.length == 1)
      if (!lateSplit) {
        assert(m.closed_count == 0L)
        assert(noon.head.getAs[Boolean]("is_current") && noon.head.getAs[Timestamp]("valid_to_ts") == MaxTs,
          "the stale minimum blocks the close")
      } else {
        assert(m.closed_count == 1L)
        assert(!noon.head.getAs[Boolean]("is_current") &&
          noon.head.getAs[Timestamp]("valid_to_ts") == Timestamp.valueOf("2023-03-02 14:00:00"))
      }
      assert(m.inserted_count == 2L)
    }
  }

  test("several open rows of one key all close at the key's first change") {
    def row(status: String, at: String): Seq[String] =
      Seq("M1", "ORD1", "365", "P1", "", "1.00", "", "", "AG1", status, "", at)
    val root = Files.createTempDirectory("graft-header-open-rows").toString
    def run(drop: String, rows: Seq[Seq[String]]) = {
      val path = s"$root/crm/$drop/header_20230303.csv"
      TestCsv.write(path, header, rows)
      HeaderEtlJob.run(spark, path, s"$root/table", s"$root/discarded", s"$root/metrics")
    }
    run("d1", Seq(row("Accepted", "2023-03-03 12:00:00")))
    // a late event alone in its batch lands open: the key has two open rows
    run("d2", Seq(row("Pending", "2023-03-03 08:00:00")))
    def rows = VersionedTable.forPath(spark, s"$root/table").read.orderBy("valid_from_ts").collect().toSeq
    assert(rows.count(_.getAs[Boolean]("is_current")) == 2)
    // 13:00 equals the 12:00 row but differs from the 08:00 one: the key's
    // first change is 13:00, and every open row older than it closes there
    val m = run("d3", Seq(row("Accepted", "2023-03-03 13:00:00")))
    assert((m.inserted_count, m.closed_count) == ((1L, 2L)))
    val thirteen = Timestamp.valueOf("2023-03-03 13:00:00")
    assert(rows.map(r => (r.getAs[Timestamp]("valid_from_ts"), r.getAs[Timestamp]("valid_to_ts"),
      r.getAs[Boolean]("is_current"))) == Seq(
      (Timestamp.valueOf("2023-03-03 08:00:00"), thirteen, false),
      (Timestamp.valueOf("2023-03-03 12:00:00"), thirteen, false),
      (thirteen, MaxTs, true)))
  }

  test("two concurrent init runs of one header batch land it once") {
    val dir = Files.createTempDirectory("graft-header-init-race").toString
    val (race, serial) = (s"$dir/landing/race", s"$dir/landing/serial")
    val file = "header_20230301.csv"
    val csv = s"$dir/crm/$file"
    TestCsv.write(csv, header, Seq(
      Seq("R1", "ORD1", "365", "P1", "", "1.00", "", "", "AG1", "Pending", "", "2023-03-01 09:00:00"),
      Seq("R1", "ORD1", "365", "P1", "", "1.00", "", "", "AG1", "Accepted", "", "2023-03-01 10:00:00"),
      Seq("R2", "ORD2", "365", "P1", "", "1.00", "", "", "AG1", "Accepted", "", "2023-03-01 11:00:00")))
    def run(table: String) =
      HeaderEtlJob.run(spark, csv, table, s"$table-discarded", s"$table-metrics")
    val once = run(serial)
    // the batch as the job's transform shapes it (the serial init wrote it
    // verbatim), held back in its first materialization: the slow run has
    // then pinned the path with no table yet
    val t = VersionedTable.forPath(spark, serial)
    val shape = t.schema
    val held = spark.createDataFrame(
      spark.sparkContext.parallelize(t.read.select(shape.fieldNames.toSeq.map(col): _*)
        .collect().toSeq, 1).mapPartitions { it =>
        HeaderEtlJobSpec.initEntered.countDown()
        HeaderEtlJobSpec.initResume.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }, shape)
    val slowOut = new java.util.concurrent.atomic.AtomicReference[Any]
    val slow = new Thread(() => {
      slowOut.set(try HeaderEtlJob.twoPhaseMerge(spark, race, held, JobSupport.batchId(file))
                   catch { case e: Throwable => e })
    })
    slow.start()
    assert(HeaderEtlJobSpec.initEntered.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "the slow run never started materializing its batch")
    val fast = run(race)
    HeaderEtlJobSpec.initResume.countDown()
    slow.join(120000)
    assert(slowOut.get match { case (_, 0L, 0L) => true; case _ => false },
      s"the slow run re-runs on the fast run's table and changes nothing: ${slowOut.get}")
    assert((fast.inserted_count, fast.closed_count) == ((once.inserted_count, once.closed_count)))
    // every column but the two each run stamps: its batch id and start
    def state(path: String) = VersionedTable.forPath(spark, path).read
      .drop("batch_id", "ingest_ts").collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(state(race) == state(serial), "two concurrent init runs leave the state of one")
    val open = VersionedTable.forPath(spark, race).read.filter(col("is_current"))
      .groupBy("contratto_cod").count()
    assert(open.count() == 2 && open.filter(col("count") =!= 1).isEmpty)
    assert(HeaderEtlJobSpec.dataFiles(race) == HeaderEtlJobSpec.liveFiles(spark, race),
      "the losing run's files must be deleted")
  }
}

/** Latches for the concurrent-init test (a top-level object, so the
  * executor-side closure and the driver share them without capturing
  * test state), and the file listings it compares. */
object HeaderEtlJobSpec {
  val initEntered = new java.util.concurrent.CountDownLatch(1)
  val initResume = new java.util.concurrent.CountDownLatch(1)

  /** Paths of the parquet files under `<table>/data`. */
  def dataFiles(table: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    Files.walk(java.nio.file.Paths.get(table, "data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toUri.getPath).toSet
  }

  /** Paths of the data files live in the table's current version. */
  def liveFiles(spark: org.apache.spark.sql.SparkSession, table: String): Set[String] =
    VersionedTable.forPath(spark, table).read.inputFiles.map(f => new java.net.URI(f).getPath).toSet

  /** `body`'s result and the number of MERGE rewrite jobs it started. */
  def rewriteJobs[T](spark: org.apache.spark.sql.SparkSession)(body: => T): (T, Int) = {
    val rewrites = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") ==
          "graft.merge: rewrite + write")) rewrites.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(jobs)
    val out = try {
      val r = body
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(jobs)
    (out, rewrites.get)
  }
}
