package graft.jobs

import java.nio.file.Files
import java.sql.Date

import graft.SharedSpark
import graft.tables.VersionedTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SCD2 history + SQL-surface assertions for the items pipeline
  * (reference: test/items_etl_test.py:84-161). Shares one table across
  * tests, mirroring the reference's sequential daily batches. */
class ItemsEtlJobSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val header = Seq("contratto_cod", "numero_annuncio", "list_total",
    "contracted_price", "total_discount", "data_attivazione",
    "data_fine_prestazione", "product_code", "quantity",
    "causale_annullamento", "data_annullamento", "status_item",
    "creazione_dta")

  private lazy val root = Files.createTempDirectory("graft-items-etl").toString
  private lazy val crmDir = s"$root/crm/items"
  private lazy val tablePath = s"$root/landing/items"

  private def item(cod: String, ann: String, price: String,
                   discount: String = "0.00", fine: String = "2023-12-31"): Seq[String] =
    Seq(cod, ann, "1000.00", price, discount, "2023-01-01", fine,
      "PROD1", "1", "", "", "L", "2023-01-01")

  private def runBatch(file: String, rows: Seq[Seq[String]]): Long = {
    val path = s"$crmDir/$file"
    TestCsv.write(path, header, rows)
    ItemsEtlJob.run(spark, path, tablePath)
  }

  test("initial load creates open versions with file-name valid_from") {
    runBatch("items_20230123.txt", Seq(
      item("Y1", "10", "300.00"),
      item("Y1", "11", "450.00"),
      item("Y2", "10", "120.00")))
    val df = VersionedTable.forPath(spark, tablePath).read
    assert(df.count() == 3)
    // an init batch is one transaction: the table's version 0
    assert(VersionedTable.forPath(spark, tablePath).currentVersion == 0L)
    val r = df.filter(col("contratto_cod") === "Y1" && col("numero_annuncio") === "10")
      .collect()(0)
    assert(r.getAs[Date]("valid_from") == Date.valueOf("2023-01-23"))
    assert(r.getAs[Date]("valid_to") == Date.valueOf("9999-12-31"))
  }

  test("price change closes the open version and inserts a new one") {
    runBatch("items_20230125.txt", Seq(
      item("Y1", "10", "500.00"), // changed price → new version
      item("Y1", "11", "450.00"), // unchanged → no-op
      item("Y3", "10", "90.00"))) // brand new item → plain insert
    val df = VersionedTable.forPath(spark, tablePath).read
    val y1a10 = df
      .filter(col("contratto_cod") === "Y1" && col("numero_annuncio") === "10")
      .orderBy(col("valid_from").asc).collect()
    assert(y1a10.length == 2, s"expected 2 versions, got ${y1a10.length}")
    // old version closed AT the new valid_from (inclusive boundary overlap
    // — reference semantics, items_etl.py:118-120)
    assert(y1a10(0).getAs[Date]("valid_to") == Date.valueOf("2023-01-25"))
    assert(y1a10(1).getAs[Date]("valid_to") == Date.valueOf("9999-12-31"))
    assert(y1a10(1).getAs[java.math.BigDecimal]("contracted_price")
      .compareTo(new java.math.BigDecimal("500.00")) == 0)
    // unchanged item kept exactly one open version
    assert(df.filter(col("contratto_cod") === "Y1" && col("numero_annuncio") === "11")
      .count() == 1)
    assert(df.filter(col("contratto_cod") === "Y3").count() == 1)
  }

  test("SQL surface: variation-count query over a temp view") {
    // reference: test/items_etl_test.py:148-161
    VersionedTable.forPath(spark, tablePath).read
      .createOrReplaceTempView("items")
    val n = spark.sql(
      """SELECT count(*) AS numero_variazioni FROM items
        |WHERE contratto_cod = 'Y1' AND numero_annuncio = 10
        |  AND valid_to <> date('9999-12-31')""".stripMargin)
      .collect()(0).getLong(0)
    assert(n == 1, s"unexpected number of variations: $n")
    // point-in-time version lookup (reference: test/items_etl_test.py:135-141)
    val pit = spark.sql(
      """SELECT * FROM items
        |WHERE valid_from = date('2023-01-23') AND valid_to = date('2023-01-25')""".stripMargin)
      .collect()
    assert(pit.length == 1 && pit(0).getAs[String]("contratto_cod") == "Y1")
  }

  test("dedup quirk: ALL copies of a duplicated key are dropped") {
    // reference: src/items_etl.py:57-64 keeps only groups of exactly 1
    val dupCount = runBatch("items_20230126.txt", Seq(
      item("Y4", "10", "100.00"),
      item("Y4", "10", "100.00"), // duplicate pair → both dropped
      item("Y5", "10", "200.00")))
    assert(dupCount == 2)
    val df = VersionedTable.forPath(spark, tablePath).read
    assert(df.filter(col("contratto_cod") === "Y4").count() == 0,
      "duplicated key must be dropped entirely (reference quirk)")
    assert(df.filter(col("contratto_cod") === "Y5").count() == 1)
  }

  test("SQL surface: header-without-items LEFT JOIN + IS NULL anti query") {
    // reference: test/items_etl_test.py:164-187 — headers whose partition
    // day has no matching item rows, via the 4-col composite left join
    val headerCols = Seq("contratto_cod", "codice_ordine_sap",
      "tipo_contratto", "codice_opec", "data_firma", "net_amount",
      "causale_annullamento", "data_annullamento", "codice_agente",
      "status_quote", "creazione_dta", "event_time")
    def headerRow(cod: String): Seq[String] =
      Seq(cod, "3000000001", "365", "OPEC0001", "2023-01-01", "1500.00",
        "", "", "10001", "Accepted", "2023-01-01", "2023-01-23 10:00:00")
    val hPath = s"$root/crm/header/header_20230123.csv"
    TestCsv.write(hPath, headerCols, Seq(headerRow("Y1"), headerRow("ZZ9")))
    HeaderEtlJob.run(spark, hPath, s"$root/landing/header",
      s"$root/discarded/header", s"$root/metrics/header")

    VersionedTable.forPath(spark, tablePath).read.createOrReplaceTempView("items")
    VersionedTable.forPath(spark, s"$root/landing/header").read
      .createOrReplaceTempView("header")
    val orphans = spark.sql(
      """SELECT h.* FROM header h
        |LEFT JOIN items i
        |  ON h.contratto_cod = i.contratto_cod
        |  AND h.valid_from_year = i.valid_from_year
        |  AND h.valid_from_month = i.valid_from_month
        |  AND h.valid_from_day = i.valid_from_day
        |WHERE i.numero_annuncio IS NULL""".stripMargin).collect()
    // Y1 has items on 2023-01-23; ZZ9 has none → only ZZ9 is an orphan
    assert(orphans.map(_.getAs[String]("contratto_cod")).toSeq == Seq("ZZ9"))
  }

  test("run metrics: exact staged, duplicated, inserted and closed counts") {
    val table = s"$root/landing/items_metrics"
    val metricsDir = s"$root/metrics/items"
    def drop(file: String, rows: Seq[Seq[String]]): String = {
      val path = s"$root/crm/items_metrics/$file"
      TestCsv.write(path, header, rows)
      path
    }
    val d1 = drop("items_20230201.txt", Seq(
      item("M1", "10", "100.00"), item("M1", "11", "200.00"), item("M2", "10", "50.00")))
    val m1 = ItemsEtlJob.runWithMetrics(spark, d1, table, Some(metricsDir))
    assert((m1.staged_count, m1.duplicated_count, m1.inserted_count, m1.closed_count) ===
      ((3L, 0L, 3L, 0L)))
    assert(VersionedTable.forPath(spark, table).currentVersion === 0L)

    val d2 = drop("items_20230202.txt", Seq(
      item("M1", "10", "150.00"), // changed tracked field → close + insert
      item("M1", "11", "200.00"), // unchanged → no-op
      item("M3", "10", "70.00"), item("M3", "10", "70.00"), // duplicated → both dropped
      item("M4", "10", "80.00"))) // new key → insert
    val m2 = ItemsEtlJob.runWithMetrics(spark, d2, table, Some(metricsDir))
    assert((m2.staged_count, m2.duplicated_count, m2.inserted_count, m2.closed_count) ===
      ((3L, 2L, 2L, 1L)))
    assert(VersionedTable.forPath(spark, table).read.count() === 5L)

    // one headered CSV row per batch
    val csv = Files.list(java.nio.file.Paths.get(s"$metricsDir/${m2.batch_id}"))
      .iterator().next()
    assert(Files.readAllLines(csv).get(0) === m2.productElementNames.mkString(","))

    // run reports the same dropped-duplicate count; the replay changes nothing
    assert(ItemsEtlJob.run(spark, d2, table) === m2.duplicated_count)
    assert(VersionedTable.forPath(spark, table).read.count() === 5L)
  }

  test("non-null-safe <> change detection ignores NULL-valued changes") {
    // a NULL contracted_price never satisfies `<>` — known reference
    // defect preserved for parity (reference: notes.md:3-20)
    runBatch("items_20230127.txt", Seq(
      Seq("Y5", "10", "1000.00", "", "0.00", "2023-01-01", "2023-12-31",
        "PROD1", "1", "", "", "L", "2023-01-01")))
    val df = VersionedTable.forPath(spark, tablePath).read
    // NULL <> 200.00 is NULL → not a change → still a single open version
    assert(df.filter(col("contratto_cod") === "Y5").count() == 1)
  }

  test("replaying an items batch that changes nothing swaps no data file") {
    val dir = Files.createTempDirectory("graft-items-replay").toString
    val table = s"$dir/landing/items"
    def day(file: String, price: String): String = {
      val path = s"$dir/crm/$file"
      TestCsv.write(path, header, Seq(item("P1", "10", price)))
      path
    }
    // file names: the index reports URIs, the data dir holds paths
    def live(): Set[String] = VersionedTable.forPath(spark, table).read.inputFiles
      .map(u => new java.io.File(new java.net.URI(u)).getName).toSet
    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(table, "data")).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    }
    def lastCommit() = {
      val r = VersionedTable.forPath(spark, table).history(1).head()
      (r.getAs[scala.collection.Map[String, String]]("operationMetrics"),
        r.getAs[Long]("numAddedFiles"), r.getAs[Long]("numRemovedFiles"))
    }
    ItemsEtlJob.run(spark, day("items_20230401.txt", "100.00"), table)
    val d2 = day("items_20230402.txt", "150.00")
    val changed = ItemsEtlJob.runWithMetrics(spark, d2, table)
    assert((changed.inserted_count, changed.closed_count) == ((1L, 1L)))
    // the close step's source, the deduped batch, is unique by plan, so
    // its probe keeps only the rows it closes; the insert step's
    // `valid_to` key is a computed column
    assert(lastCommit()._1("sourceKeysUnique") == "plan,unchecked")
    val (before, onDisk) = (live(), dataFiles())

    val (replay, rewrites) = HeaderEtlJobSpec.rewriteJobs(spark)(ItemsEtlJob.runWithMetrics(spark, d2, table))
    assert((replay.inserted_count, replay.closed_count) == ((0L, 0L)))
    assert(rewrites == 0, s"$rewrites rewrite jobs ran on the replay")
    val (metrics, added, removed) = lastCommit()
    assert((added, removed) == ((0L, 0L)), s"the replay's commit swapped files: $metrics")
    assert(metrics("numTargetFilesAdded") == "0" && metrics("numTargetFilesRemoved") == "0")
    assert(live() == before, "the live file set is unchanged")
    assert(dataFiles() == onDisk, "the rewrite's copies are deleted")
  }

  test("merge planning runs no aggregate query: Phase A, Phase B and the items merge") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft-items-planning").toString
    // a planning query names each merge key's lower bound __graft_lo<i>
    def planning(p: LogicalPlan): Boolean = p.exists(_.expressions.exists(_.exists {
      case a: Alias => a.name.startsWith("__graft_lo")
      case _ => false
    }))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (planning(qe.analyzed)) seen.add(qe.optimizedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // three live files per table before the measured day, so every merge
    // of that day runs its stats pass
    val headerCols = Seq("contratto_cod", "codice_ordine_sap",
      "tipo_contratto", "codice_opec", "data_firma", "net_amount",
      "causale_annullamento", "data_annullamento", "codice_agente",
      "status_quote", "creazione_dta", "event_time")
    def headerRow(cod: String, status: String, at: String): Seq[String] =
      Seq(cod, "3000000001", "365", "OPEC0001", "2023-01-01", "1500.00",
        "", "", "10001", status, "2023-01-01", at)
    def headerDay(file: String, rows: Seq[Seq[String]]): Unit = {
      val path = s"$dir/crm/header/$file"
      TestCsv.write(path, headerCols, rows)
      HeaderEtlJob.run(spark, path, s"$dir/landing/header", s"$dir/discarded", s"$dir/metrics")
    }
    def itemsDay(file: String, price: String): Unit = {
      val path = s"$dir/crm/items/$file"
      TestCsv.write(path, header, Seq(item("Q1", "10", price), item("Q2", "10", "5.00")))
      ItemsEtlJob.run(spark, path, s"$dir/landing/items")
    }
    Seq("01" -> "100.00", "02" -> "110.00", "03" -> "120.00").foreach { case (d, p) =>
      headerDay(s"header_202305$d.csv", Seq(headerRow(s"H$d", "Accepted", s"2023-05-$d 10:00:00")))
      itemsDay(s"items_202305$d.txt", p)
    }
    // the stats passes still run, as jobs under the planning label
    val statsJobs = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") ==
          "graft.merge: source stats/cardinality agg")) statsJobs.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(jobs)
    try {
      headerDay("header_20230504.csv", Seq(headerRow("H01", "Rejected", "2023-05-04 10:00:00"),
        headerRow("H4", "Accepted", "2023-05-04 11:00:00")))
      itemsDay("items_20230504.txt", "130.00")
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(jobs)
    }
    import scala.jdk.CollectionConverters._
    val plans = seen.asScala.toSeq
    val withAgg = plans.filter(_.exists(_.isInstanceOf[Aggregate]))
    assert(withAgg.isEmpty, s"planning queries with an Aggregate:\n${withAgg.mkString("\n")}")
    // every source here is a cache (persisted by the merge, or a projection
    // of the header job's transformed batch): each merge reads its key
    // bounds from the cache's batch statistics and runs no planning query
    assert(plans.isEmpty, s"planning queries: ${plans.size}")
    assert(statsJobs.get >= 3, s"stats passes of Phase A, Phase B and the items merge: ${statsJobs.get}")
  }

  test("two concurrent runs of one day's batch land it once: change detection reads the merge's pinned state") {
    val dir = Files.createTempDirectory("graft-items-race").toString
    val (race, serial) = (s"$dir/landing/race", s"$dir/landing/serial")
    val d1 = s"$dir/crm/items_20230301.txt"
    TestCsv.write(d1, header, Seq(
      item("R1", "10", "100.00"), item("R1", "11", "200.00"), item("R2", "10", "50.00")))
    Seq(race, serial).foreach(ItemsEtlJob.run(spark, d1, _))
    val d2 = s"$dir/crm/items_20230302.txt"
    TestCsv.write(d2, header, Seq(
      item("R1", "10", "150.00"), // changed → close + insert
      item("R1", "11", "200.00"), // unchanged → no-op
      item("R3", "10", "70.00"))) // new key → insert
    // the day's batch as the job's transform shapes it, held back in its
    // first materialization — after the slow run's merge pinned the table
    val batch = spark.read.option("header", "true").option("sep", "|")
      .schema(graft.core.Schemas.Items).csv(d2)
      .withColumn("valid_from", to_date(lit("20230302"), "yyyyMMdd"))
      .withColumn("valid_to", to_date(lit(graft.core.Schemas.MaxDate), "yyyyMMdd"))
      .withColumn("valid_from_year", year(col("valid_from")))
      .withColumn("valid_from_month", month(col("valid_from")))
      .withColumn("valid_from_day", dayofmonth(col("valid_from")))
    val held = spark.createDataFrame(
      spark.sparkContext.parallelize(batch.collect().toSeq, 1).mapPartitions { it =>
        ItemsEtlJobSpec.raceEntered.countDown()
        ItemsEtlJobSpec.raceResume.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }, batch.schema)
    val slowOut = new java.util.concurrent.atomic.AtomicReference[Any]
    val slow = new Thread(() => {
      slowOut.set(try ItemsEtlJob.scd2Merge(VersionedTable.forPath(spark, race), held)
                  catch { case e: Throwable => e })
    })
    slow.start()
    assert(ItemsEtlJobSpec.raceEntered.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "the slow run never started materializing its batch")
    val fast = ItemsEtlJob.runWithMetrics(spark, d2, race)
    ItemsEtlJobSpec.raceResume.countDown()
    slow.join(120000)
    val once = ItemsEtlJob.runWithMetrics(spark, d2, serial)
    assert((once.inserted_count, once.closed_count) == ((2L, 1L)))
    assert((fast.inserted_count, fast.closed_count) == ((once.inserted_count, once.closed_count)))
    def state(path: String) =
      VersionedTable.forPath(spark, path).read.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val open = VersionedTable.forPath(spark, race).read
      .filter(col("valid_to") === lit(java.sql.Date.valueOf("9999-12-31")))
      .groupBy("contratto_cod", "numero_annuncio").count()
    val twice = open.filter(col("count") =!= 1).collect()
    assert(twice.isEmpty, s"every key keeps exactly one open row: ${twice.mkString(", ")}")
    assert(open.count() == 4)
    assert(state(race) == state(serial), "two concurrent runs leave the state of one")
    assert(slowOut.get == ((0L, 0L)), s"the slow run re-runs on the fast run's state: ${slowOut.get}")
  }

  test("two concurrent init runs of one items batch land it once") {
    val dir = Files.createTempDirectory("graft-items-init-race").toString
    val (race, serial) = (s"$dir/landing/race", s"$dir/landing/serial")
    val d1 = s"$dir/crm/items_20230401.txt"
    TestCsv.write(d1, header, Seq(
      item("I1", "10", "100.00"), item("I1", "11", "200.00"), item("I2", "10", "50.00")))
    // the batch as the job's transform shapes it, held back in its first
    // materialization: the slow run has then pinned the path with no table
    val batch = spark.read.option("header", "true").option("sep", "|")
      .schema(graft.core.Schemas.Items).csv(d1)
      .withColumn("valid_from", to_date(lit("20230401"), "yyyyMMdd"))
      .withColumn("valid_to", to_date(lit(graft.core.Schemas.MaxDate), "yyyyMMdd"))
      .withColumn("valid_from_year", year(col("valid_from")))
      .withColumn("valid_from_month", month(col("valid_from")))
      .withColumn("valid_from_day", dayofmonth(col("valid_from")))
    val held = spark.createDataFrame(
      spark.sparkContext.parallelize(batch.collect().toSeq, 1).mapPartitions { it =>
        ItemsEtlJobSpec.initEntered.countDown()
        ItemsEtlJobSpec.initResume.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }, batch.schema)
    val slowOut = new java.util.concurrent.atomic.AtomicReference[Any]
    val slow = new Thread(() => {
      slowOut.set(try ItemsEtlJob.scd2Merge(VersionedTable.open(spark, race, held.schema,
        graft.core.Schemas.PartitionColumns), held)
                  catch { case e: Throwable => e })
    })
    slow.start()
    assert(ItemsEtlJobSpec.initEntered.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "the slow run never started materializing its batch")
    val fast = ItemsEtlJob.runWithMetrics(spark, d1, race)
    ItemsEtlJobSpec.initResume.countDown()
    slow.join(120000)
    val once = ItemsEtlJob.runWithMetrics(spark, d1, serial)
    assert((once.inserted_count, once.closed_count) == ((3L, 0L)))
    assert((fast.inserted_count, fast.closed_count) == ((once.inserted_count, once.closed_count)))
    assert(slowOut.get == ((0L, 0L)), s"the slow run re-runs on the fast run's table: ${slowOut.get}")
    def state(path: String) =
      VersionedTable.forPath(spark, path).read.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(state(race) == state(serial), "two concurrent init runs leave the state of one")
    val open = VersionedTable.forPath(spark, race).read
      .filter(col("valid_to") === lit(java.sql.Date.valueOf("9999-12-31")))
      .groupBy("contratto_cod", "numero_annuncio").count()
    assert(open.count() == 3 && open.filter(col("count") =!= 1).isEmpty)
    assert(HeaderEtlJobSpec.dataFiles(race) == HeaderEtlJobSpec.liveFiles(spark, race),
      "the losing run's files must be deleted")
  }
}

/** Latches for the concurrent-rerun test: a top-level object, so the
  * executor-side closure (same JVM under local[*]) and the driver
  * coordinate without capturing test state. */
object ItemsEtlJobSpec {
  val raceEntered = new java.util.concurrent.CountDownLatch(1)
  val raceResume = new java.util.concurrent.CountDownLatch(1)
  val initEntered = new java.util.concurrent.CountDownLatch(1)
  val initResume = new java.util.concurrent.CountDownLatch(1)
}
