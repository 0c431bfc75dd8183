package graft.jobs

import java.nio.file.Files
import java.time.LocalDate

import graft.SharedSpark
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A steady-state day — one header drop and one items drop into tables
  * that already hold several days — re-runs the plans of the day before,
  * so it should find its generated classes in Spark's codegen cache
  * (default size) instead of compiling them again. The compile counter is
  * process-wide, so the day is measured only after this spec's own
  * warm-up days; suites run one after another in the test JVM. */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val headerCols = Seq("contratto_cod", "codice_ordine_sap",
    "tipo_contratto", "codice_opec", "data_firma", "net_amount",
    "causale_annullamento", "data_annullamento", "codice_agente",
    "status_quote", "creazione_dta", "event_time")
  private val itemsCols = Seq("contratto_cod", "numero_annuncio",
    "list_total", "contracted_price", "total_discount", "data_attivazione",
    "data_fine_prestazione", "product_code", "quantity",
    "causale_annullamento", "data_annullamento", "status_item", "creazione_dta")

  /** Compiles per steady-state day, at most. A day of this spec uses more
    * generated classes (and, for each class compiled both by the driver
    * and by a task, two cache entries) than the default cache holds: the
    * cache's 4 LRU segments overflow by chance, each JVM different ones
    * (the segment hash includes the class loader's identity), so the
    * count spreads widely between runs. */
  private val SteadyDayCompiles = 100

  test("a steady-state header-and-items day compiles few classes under the default cache") {
    val root = Files.createTempDirectory("graft-codegen-reuse").toString
    val rnd = new scala.util.Random(7)
    val statuses = Seq("Accepted", "Signed", "Suspended", "Rifiutata")
    val base = 1000
    val drop = 100
    var headerKeys = 0
    var itemKeys = 0

    def day(d: Int): Unit = {
      val date = LocalDate.of(2024, 1, 1).plusDays(d)
      val ymd = date.toString.replace("-", "")
      val (newH, updH) = if (d == 0) (base, 0) else (drop / 2, drop / 2)
      def hRow(k: Int, status: String, day: LocalDate): Seq[String] =
        Seq(f"H$k%06d", "ORD1", "365", "P1", "2023-01-01", "10.00", "", "", "AG1", status,
          "11/25/2022", f"$day ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00")
      val header = (0 until newH).map(i => hRow(headerKeys + i, statuses.head, date)) ++
        (0 until updH).map(_ => hRow(rnd.nextInt(headerKeys), statuses(1 + d % 3), date)) ++
        // a few rows dated another day, discarded by validation
        (0 until 4).map(i => hRow(headerKeys + i, statuses.head, date.minusDays(3)))
      headerKeys += newH
      val hPath = s"$root/crm/header_$ymd.csv"
      TestCsv.write(hPath, headerCols, header)
      HeaderEtlJob.run(spark, hPath, s"$root/header", s"$root/discarded", s"$root/metrics")

      def iRow(k: Int, price: Int): Seq[String] =
        Seq(f"I$k%06d", "10", "1000.00", s"$price.00", "0.00", "2023-01-01", "2023-12-31",
          "PROD1", "1", "", "", "L", "2023-01-01")
      val (newI, updI) = if (d == 0) (base, 0) else (drop / 2, drop / 2)
      val items = (0 until newI).map(i => iRow(itemKeys + i, 100)) ++
        rnd.shuffle((0 until itemKeys).toList).take(updI).map(k => iRow(k, 100 + d))
      itemKeys += newI
      val iPath = s"$root/crm/items_$ymd.txt"
      TestCsv.write(iPath, itemsCols, items)
      ItemsEtlJob.runWithMetrics(spark, iPath, s"$root/items")
    }

    (0 until 4).foreach(day)
    val compiles = (4 until 6).map { d =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      day(d)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    info(s"compiles per steady-state day: $compiles")
    assert(compiles.max <= SteadyDayCompiles, s"compiles per steady-state day: $compiles")
  }
}
