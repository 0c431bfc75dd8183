package graft.jobs

import java.nio.file.Files

import graft.SharedSpark
import graft.core.Schemas
import graft.tables.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The items merge as the reference writes it (src/items_etl.py:97-143),
  * kept as the oracle of the job's two-step merge: a detection join finds
  * the changed open rows, their batch rows ride a union under NULL merge
  * keys (never matching, so always inserted) beside the keyed batch, and
  * one MERGE closes the changed open rows and inserts new keys. */
private object ItemsStagedUnionMerge {
  def scd2Merge(table: VersionedTable, dfTransformed: DataFrame): (Long, Long) =
    table.alias("existing").transaction { tx =>
      if (tx.version < 0) (tx.create(dfTransformed)("numOutputRows").toLong, 0L)
      else {
        val newItemsToInsert = dfTransformed.alias("updates")
          .join(tx.read, Schemas.ItemsDedupKeys)
          .where("existing.valid_to = date('9999-12-31') AND (" +
            "updates.contracted_price <> existing.contracted_price OR " +
            "updates.total_discount <> existing.total_discount OR " +
            "updates.data_fine_prestazione <> existing.data_fine_prestazione)")
        val stagedUpdates = newItemsToInsert
          .selectExpr("NULL as mergeKey", "NULL as mergeKey2", "updates.*")
          .union(dfTransformed.selectExpr(
            "contratto_cod as mergeKey", "numero_annuncio as mergeKey2", "*"))
        val m = tx
          .merge(stagedUpdates.alias("staged_updates"),
            "existing.contratto_cod = mergeKey AND existing.numero_annuncio = mergeKey2")
          .whenMatchedUpdate(
            condition = "existing.valid_to = date('9999-12-31') AND (" +
              "staged_updates.contracted_price <> existing.contracted_price OR " +
              "staged_updates.total_discount <> existing.total_discount OR " +
              "staged_updates.data_fine_prestazione <> existing.data_fine_prestazione)",
            set = Map("valid_to" -> "staged_updates.valid_from"))
          .whenNotMatchedInsert(values =
            ItemsEtlJob.InsertColumns.map(c => c -> s"staged_updates.$c").toMap)
          .execute()
        (m("numTargetRowsInserted").toLong, m("numTargetRowsUpdated").toLong)
      }
    }
}

/** Differential test of the items merge: random batch sequences run
  * through the job (close step, then insert step) and through the
  * reference's staged union ([[ItemsStagedUnionMerge]]) on the same
  * deduped, transformed batch must leave the same table rows and report
  * the same (inserted, closed) counts per batch. The sequences mix NULL
  * prices (the non-null-safe `<>` quirk), unchanged resends, changed
  * resends on the open row's own day, files dated before the open row and
  * in-batch duplicate pairs (all copies dropped). */
class ItemsDifferentialSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private case class It(key: String, price: String, fine: String, dup: Boolean)

  private val cols = Seq("contratto_cod", "numero_annuncio", "list_total",
    "contracted_price", "total_discount", "data_attivazione",
    "data_fine_prestazione", "product_code", "quantity",
    "causale_annullamento", "data_annullamento", "status_item", "creazione_dta")

  private def writeBatch(dir: String, date: String, items: Seq[It]): String = {
    val path = s"$dir/items_$date.txt"
    TestCsv.write(path, cols, items.flatMap { it =>
      val row = Seq(it.key, "10", "1000.00", it.price, "0.00", "2023-01-01", it.fine,
        "PROD1", "1", "", "", "L", "2023-01-01")
      if (it.dup) Seq(row, row) else Seq(row)
    })
    path
  }

  /** The job's extract, dedup and transform of `path`, unpersisted. */
  private def transformed(path: String): DataFrame = {
    val extracted = spark.read.option("header", "true").option("sep", "|")
      .schema(Schemas.Items).csv(path)
      .withColumn("valid_from", regexp_extract(input_file_name(), Schemas.ItemsDateRegex, 1))
    val wDup = Window.partitionBy(Schemas.ItemsDedupKeys.map(col): _*)
    extracted.withColumn("flag", count(lit(1)).over(wDup)).filter(col("flag") === 1)
      .withColumn("valid_from", to_date(col("valid_from"), "yyyyMMdd").cast(DateType))
      .withColumn("valid_to", to_date(lit(Schemas.MaxDate), "yyyyMMdd").cast(DateType))
      .withColumn("valid_from_year", year(col("valid_from")))
      .withColumn("valid_from_month", month(col("valid_from")))
      .withColumn("valid_from_day", dayofmonth(col("valid_from")))
      .drop("flag")
  }

  private def rows(path: String): Seq[String] =
    VersionedTable.forPath(spark, path).read.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Runs `batches` (file date, items) through both merges, comparing
    * the counts and the table after every batch. */
  private def agree(batches: Seq[(String, Seq[It])]): Unit = {
    val root = Files.createTempDirectory("graft-items-diff").toString
    val (job, ref) = (s"$root/job", s"$root/ref")
    batches.zipWithIndex.foreach { case ((date, items), i) =>
      // one directory per batch: a day's file can be sent twice
      val path = writeBatch(s"$root/crm/$i", date, items)
      val m = ItemsEtlJob.runWithMetrics(spark, path, job)
      val df = transformed(path)
      val counts = ItemsStagedUnionMerge.scd2Merge(
        VersionedTable.open(spark, ref, df.schema, Schemas.PartitionColumns), df)
      assert((m.inserted_count, m.closed_count) == counts, s"batch $i ($date): (inserted, closed)")
      assert(rows(job) == rows(ref), s"batch $i ($date): table rows")
    }
  }

  test("the two-step items merge matches the staged union on a fixed sequence") {
    agree(Seq(
      "20230110" -> Seq(It("K1", "100.00", "2023-12-31", dup = false),
        It("K2", "", "2023-12-31", dup = false), It("K3", "300.00", "2023-12-31", dup = false)),
      // a changed resend on the open row's own day, a NULL price (no
      // change under `<>`), a duplicate pair and a new key
      "20230110" -> Seq(It("K1", "150.00", "2023-12-31", dup = false),
        It("K2", "200.00", "2023-12-31", dup = false), It("K3", "999.00", "2023-12-31", dup = true),
        It("K4", "400.00", "2023-12-31", dup = false)),
      // unchanged resends, a NULL replacing a price, a changed end date
      "20230120" -> Seq(It("K1", "150.00", "2023-12-31", dup = false),
        It("K3", "", "2023-12-31", dup = false), It("K4", "400.00", "2024-06-30", dup = false)),
      // dated before the open rows: a change closes them at an earlier day
      "20230105" -> Seq(It("K1", "175.00", "2023-12-31", dup = false),
        It("K4", "400.00", "2024-06-30", dup = false))))
  }

  test("the two-step items merge matches the staged union on random batch sequences") {
    val dates = Seq("20230105", "20230110", "20230120")
    val itemGen = (k: String) => for {
      price <- Gen.oneOf("", "100.00", "200.00")
      fine <- Gen.frequency(4 -> "2023-12-31", 1 -> "2024-06-30")
      dup <- Gen.frequency(5 -> false, 1 -> true)
    } yield It(k, price, fine, dup)
    val batchGen = for {
      date <- Gen.oneOf(dates)
      keys <- Gen.atLeastOne((1 to 4).map(i => s"K$i"))
      items <- Gen.sequence[List[It], It](keys.toList.map(itemGen))
    } yield date -> items
    val prop = Prop.forAll(Gen.choose(2, 4).flatMap(n => Gen.listOfN(n, batchGen))) { batches =>
      batches.nonEmpty ==> { agree(batches); Prop.passed }
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(4).withInitialSeed(Seed(11L))
    val result = SCTest.check(params, prop)
    assert(result.passed, s"property failed: ${result.status}")
  }
}
