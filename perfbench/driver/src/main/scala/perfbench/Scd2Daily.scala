package perfbench

import java.io.File
import java.time.LocalDate

import graft.jobs.{HeaderEtlJob, ItemsEtlJob}
import graft.tables.VersionedTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two SCD2 tables of one load history, with what the generator says
  * they must hold. */
final class Tables(dir: File, seed: Long, parts: Int) {
  val gen = new DropGen(seed, new File(dir, "drops"), parts)
  val header: String = new File(dir, "header").getPath
  val items: String = new File(dir, "items").getPath
  val discarded: String = new File(dir, "discarded").getPath
  val metrics: String = new File(dir, "metrics").getPath
  var day: LocalDate = LocalDate.of(2024, 1, 1)
  var csvBytes = 0L
  var headerRows = 0L
  var itemsRows = 0L

  def dataBytes: Long =
    Main.dirBytes(new File(header, "data")) + Main.dirBytes(new File(items, "data"))

  /** Bytes of the data files live in the current version of both tables. */
  def liveBytes(spark: SparkSession): Long =
    Seq(header, items).map(Scd2Daily.liveBytes(spark, _)).sum

  def nextDay(): LocalDate = { val d = day; day = day.plusDays(1); d }
}

object Scd2Daily {
  /** Header keys and items loaded by the initial drops. */
  val BaseRows = 5000
  /** Rows of each daily header and items drop: 10% of the base. */
  val DropRows = 500

  /** Live data files of the current version of a table. */
  def liveFiles(spark: SparkSession, path: String): Seq[String] =
    VersionedTable.forPath(spark, path).read.inputFiles.toSeq

  /** Bytes of those files. */
  def liveBytes(spark: SparkSession, path: String): Long =
    liveFiles(spark, path).map(f => new File(new java.net.URI(f)).length).sum

  /** Load one header drop and check its returned counts against the
    * generator's. */
  def loadHeader(ctx: Ctx, t: Tables, d: DropExpect): (Boolean, String) = {
    val m = HeaderEtlJob.run(ctx.spark, d.path, t.header, t.discarded, t.metrics)
    t.csvBytes += d.csvBytes
    t.headerRows += d.inserted
    ctx.res.add("header.validation_s", m.duration_s_validation)
    ctx.res.add("header.transform_s", m.duration_s_transform)
    ctx.res.add("header.merge_s", m.duration_s_merge)
    ((m.inserted_count == d.inserted && m.closed_count == d.closed &&
      m.dq_discarded == d.discarded) ||
      ctx.res.wrong(s"header ${d.path}: inserted/closed/discarded " +
        s"${m.inserted_count}/${m.closed_count}/${m.dq_discarded}, " +
        s"expected ${d.inserted}/${d.closed}/${d.discarded}"), m.batch_id)
  }

  def loadItems(ctx: Ctx, t: Tables, d: DropExpect): Boolean = {
    val m = ItemsEtlJob.runWithMetrics(ctx.spark, d.path, t.items)
    t.csvBytes += d.csvBytes
    t.itemsRows += d.inserted
    ctx.res.add("items.dedup_s", m.duration_s_dedup)
    ctx.res.add("items.merge_s", m.duration_s_merge)
    (m.inserted_count == d.inserted && m.closed_count == d.closed) ||
      ctx.res.wrong(s"items ${d.path}: inserted/closed ${m.inserted_count}/${m.closed_count}, " +
        s"expected ${d.inserted}/${d.closed}")
  }

  /** Generation and both initial loads, in a fresh directory. */
  private def setUp(ctx: Ctx, dir: File): Tables = {
    val t = new Tables(dir, ctx.seed, ctx.cores)
    val day0 = t.nextDay()
    loadHeader(ctx, t, t.gen.headerDrop(day0, BaseRows, newShare = 1.0))
    loadItems(ctx, t, t.gen.itemsDrop(day0, BaseRows, newShare = 1.0))
    t
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val res = ctx.res
    val t = ctx.setUp(setUp(ctx, new File(ctx.work, "scd2")))
    // the set-up's phase clocks are not timed days
    Seq("header.validation_s", "header.transform_s", "header.merge_s",
      "items.dedup_s", "items.merge_s").foreach(res.samples.remove)
    val setupOk = res.failures.isEmpty

    val bytesBefore = t.dataBytes
    var timedCsv = 0L
    var timedRows = 0L
    ctx.closedLoop(minOps = 2) { _ =>
      val day = t.nextDay()
      (t.gen.headerDrop(day, DropRows, newShare = 0.5),
        t.gen.itemsDrop(day, DropRows, newShare = 0.5),
        if (ctx.trace) Some(tableState(ctx.spark, t)) else None)
    } { case (i, (h, it, _)) =>
      var ok = true
      ctx.rec.op("day", ctx.traced(i)) {
        val t0 = System.nanoTime()
        ok &= ctx.rec.span("HeaderEtlJob.run")(loadHeader(ctx, t, h))._1
        val t1 = System.nanoTime()
        ok &= ctx.rec.span("ItemsEtlJob.runWithMetrics")(loadItems(ctx, t, it))
        val t2 = System.nanoTime()
        res.add("header_batch_s", (t1 - t0) / 1e9)
        res.add("items_batch_s", (t2 - t1) / 1e9)
      }
      if (!ok) res.failed += 1
      timedCsv += h.csvBytes + it.csvBytes
      timedRows += h.rows + it.rows
    } { case (_, (_, _, before)) =>
      before.foreach(b => recordTableDeltas(ctx, t, b, tableState(ctx.spark, t)))
    }
    res.values("timed_rows") = timedRows.toDouble
    res.values("write_amp") = (t.dataBytes - bytesBefore).toDouble / timedCsv
    res.values("space_amp") = t.liveBytes(ctx.spark).toDouble / t.csvBytes
    if (!checkTables(ctx, t) || !setupOk) res.failed = res.attempted
    Map.empty
  }

  /** Per table: (version, live files, data-dir bytes). */
  private def tableState(spark: SparkSession, t: Tables): Map[String, (Long, Int, Long)] =
    Map("header" -> t.header, "items" -> t.items).map { case (p, path) =>
      p -> (VersionedTable.forPath(spark, path).currentVersion,
        liveFiles(spark, path).size, Main.dirBytes(new File(path, "data")))
    }

  /** The table-layer counters of one day, read from history() and the
    * table directory, outside the operation's clock. */
  private def recordTableDeltas(ctx: Ctx, t: Tables, before: Map[String, (Long, Int, Long)],
                                after: Map[String, (Long, Int, Long)]): Unit =
    Seq("header" -> t.header, "items" -> t.items).foreach { case (p, path) =>
      val (v0, live0, bytes0) = before(p)
      val (v1, live1, bytes1) = after(p)
      val hist = VersionedTable.forPath(ctx.spark, path).history((v1 - v0).toInt).collect()
      def sum(col: String) = hist.map(_.getAs[Long](col)).sum.toDouble
      val skipped = hist.map(r => r.getAs[scala.collection.Map[String, String]]("operationMetrics")
        .get("numTargetFilesSkippedByStats").map(_.toDouble).getOrElse(0.0)).sum
      ctx.res.add(s"$p.table.versions_per_batch", (v1 - v0).toDouble)
      ctx.res.add(s"$p.table.files_added", sum("numAddedFiles"))
      ctx.res.add(s"$p.table.files_removed", sum("numRemovedFiles"))
      ctx.res.add(s"$p.table.files_skipped_by_stats", skipped)
      ctx.res.add(s"$p.table.touched_share", sum("numRemovedFiles") / math.max(1, live0))
      ctx.res.add(s"$p.table.mb_added", (bytes1 - bytes0) / 1e6)
      ctx.res.add(s"$p.table.live_files", live1.toDouble)
    }

  /** Untimed output checks over full scans of both tables: one open row
    * per key, contiguous validity intervals, and exactly the rows the
    * generator's drops should have inserted. */
  private def checkTables(ctx: Ctx, t: Tables): Boolean = {
    val spark = ctx.spark
    val res = ctx.res
    def check(name: String, path: String, keys: Seq[String], from: String, to: String,
              open: org.apache.spark.sql.Column, expectRows: Long, expectOpen: Long): Boolean = {
      val df = VersionedTable.forPath(spark, path).read
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col(from))
      val r = df.withColumn("next_from", lead(col(from), 1).over(w))
        .agg(
          count(lit(1)).as("rows"),
          sum(when(open, 1).otherwise(0)).as("open"),
          // a closed row must end where the key's next version starts,
          // and only the last version may be open
          sum(when(col("next_from").isNotNull && !(col(to) <=> col("next_from")), 1)
            .otherwise(0)).as("gaps"),
          sum(when(col("next_from").isNull =!= open, 1).otherwise(0)).as("bad_open"))
        .collect()(0)
      val (rows, openRows, gaps, badOpen) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      (rows == expectRows && openRows == expectOpen && gaps == 0 && badOpen == 0) ||
        res.wrong(s"$name table: rows $rows (expected $expectRows), open $openRows " +
          s"(expected $expectOpen), gaps $gaps, misplaced open rows $badOpen")
    }
    check("header", t.header, Seq("contratto_cod"), "valid_from_ts", "valid_to_ts",
      col("is_current") && col("valid_to_ts") === to_timestamp(lit(graft.core.Schemas.MaxTs)),
      t.headerRows, t.gen.headerKeys) &
      check("items", t.items, Seq("contratto_cod", "numero_annuncio"), "valid_from", "valid_to",
        col("valid_to") === to_date(lit("9999-12-31")), t.itemsRows, t.gen.items)
  }
}
