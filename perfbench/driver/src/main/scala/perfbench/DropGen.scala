package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** What one generated drop should do to its table, known from the
  * generator alone (not from the engine). */
final case class DropExpect(path: String, csvBytes: Long, rows: Int,
                            inserted: Long, closed: Long, discarded: Long)

/** Seeded daily CSV drops for the header and items pipelines.
  *
  * Unlike the engine's batch1/batch2 generators, every call produces a
  * new day: header drops draw their new keys from a range no earlier day
  * used, and every re-sent key or item carries a tracked-field value
  * different from its current version, so each day really inserts and
  * really closes rows. The generator tracks the table's state itself, so
  * the expected inserted and closed counts of each drop are exact.
  *
  * Each drop is a directory of `parts` pipe-separated CSV files named the
  * way the jobs extract the batch date from (`header_<yyyyMMdd>.csv`,
  * `items_<yyyyMMdd>.txt`).
  */
final class DropGen(seed: Long, dir: File, parts: Int) {
  private val rnd = new scala.util.Random(seed)
  private val ymd = DateTimeFormatter.BASIC_ISO_DATE

  // header state: keys 0 until nextKey were issued; `live` holds the keys
  // whose first row was kept (so the table has an open row for them), and
  // `versions(k)` counts the rows emitted for key k
  private var nextKey = 0
  private val live = mutable.ArrayBuffer[Int]()
  private val versions = mutable.ArrayBuffer[Int]()

  // items state: item i belongs to contract i / 3; `price(i)` is the
  // contracted price (in cents) of its open version
  private val price = mutable.ArrayBuffer[Long]()

  def headerKeys: Int = live.size
  /** A uniformly drawn header key that has an open row. */
  def liveKey(r: scala.util.Random): String = f"K${live(r.nextInt(live.size))}%09d"
  def items: Int = price.size

  private def write(path: File, header: String, rows: Seq[String]): Long = {
    path.mkdirs()
    val chunk = math.max(1, (rows.size + parts - 1) / parts)
    rows.grouped(chunk).zipWithIndex.foreach { case (rs, i) =>
      val w = new BufferedWriter(new FileWriter(new File(path, f"part-$i%05d.csv")))
      try {
        w.write(header); w.write('\n')
        rs.foreach { r => w.write(r); w.write('\n') }
      } finally w.close()
    }
    path.listFiles().map(_.length).sum
  }

  /** Header row of version `ver` of key `k`. The tracked `codice_agente`
    * cycles through 500 agents with a step coprime to 500, so consecutive
    * versions of a key always differ. */
  private def headerRow(k: Int, ver: Int, day: LocalDate, second: Int): String = {
    val firma = day.minusDays(rnd.nextInt(366))
    Seq(
      f"K$k%09d",
      (3000000000L + k).toString,
      Seq("365", "366", "400")(k % 3),
      f"OPEC${k % 1000}%04d",
      firma.toString,
      f"${1000 + rnd.nextInt(4900000) / 100.0}%.2f",
      "", "",
      (10000 + (k + 37 * ver) % 500).toString,
      Seq("Accepted", "Rejected", "Pending")(rnd.nextInt(3)),
      firma.minusDays(rnd.nextInt(31)).toString,
      f"${day}T${second / 3600}%02d:${second / 60 % 60}%02d:${second % 60}%02d.000+01:00"
    ).mkString("|")
  }

  /** One header drop of `rows` rows for `day`: `newShare` of them new keys
    * from a fresh range, the rest updates of uniformly drawn live keys
    * (with replacement, so a key can get two versions in one drop). Event
    * times carry a +01:00 offset, so the ~1/24 of rows in local hour 0
    * fall on the previous UTC day and validation discards them. */
  def headerDrop(day: LocalDate, rows: Int, newShare: Double): DropExpect = {
    val nNew = math.round(rows * newShare).toInt
    val seen = mutable.HashSet[(Int, Int)]()
    val closedKeys = mutable.HashSet[Int]()
    var kept = 0L
    // updates draw from the keys live before this drop, never from its new keys
    val pool = live.size
    val lines = (0 until rows).map { i =>
      val isNew = i < nNew || pool == 0
      val k = if (isNew) { versions += 0; nextKey += 1; nextKey - 1 }
              else live(rnd.nextInt(pool))
      var second = rnd.nextInt(86400)
      while (!seen.add((k, second))) second = rnd.nextInt(86400)
      val ver = versions(k)
      versions(k) = ver + 1
      if (second >= 3600) {
        kept += 1
        if (isNew) live += k else closedKeys += k
      }
      headerRow(k, ver, day, second)
    }
    val path = new File(dir, s"header_${day.format(ymd)}.csv")
    val bytes = write(path,
      "contratto_cod|codice_ordine_sap|tipo_contratto|codice_opec|data_firma|" +
        "net_amount|causale_annullamento|data_annullamento|codice_agente|" +
        "status_quote|creazione_dta|event_time",
      rnd.shuffle(lines))
    DropExpect(path.getPath, bytes, rows, inserted = kept,
      closed = closedKeys.size, discarded = rows - kept)
  }

  private def itemRow(i: Int): String = {
    val created = LocalDate.of(2023, 1, 1).minusDays(i % 400)
    Seq(
      f"C${i / 3}%09d",
      f"A${i % 3}%02d",
      f"${100 + i % 900}.00",
      f"${price(i) / 100}.${price(i) % 100}%02d",
      f"${i % 500}.25",
      created.plusDays(i % 90).toString,
      created.plusDays(365 + i % 365).toString,
      f"P${i % 200}%04d",
      (1 + i % 5).toString,
      "", "",
      Seq("Active", "Cancelled", "Suspended")(i % 3),
      created.toString
    ).mkString("|")
  }

  /** One items drop of `rows` rows for `day`: `newShare` of them items
    * under new contracts (three items each), the rest re-sends of distinct
    * uniformly drawn items whose contracted price is raised, so every
    * re-send closes its open version and inserts a new one. */
  def itemsDrop(day: LocalDate, rows: Int, newShare: Double): DropExpect = {
    val nNew = math.round(rows * newShare / 3).toInt * 3
    val nResend = math.min(rows - nNew, price.size)
    val resent = mutable.LinkedHashSet[Int]()
    while (resent.size < nResend) resent += rnd.nextInt(price.size)
    resent.foreach(i => price(i) = price(i) + 100 + rnd.nextInt(5000))
    val first = price.size
    (0 until nNew).foreach(_ => price += 100000L + rnd.nextInt(8000000))
    val lines = (resent.toSeq ++ (first until price.size)).map(itemRow)
    val path = new File(dir, s"items_${day.format(ymd)}.txt")
    val bytes = write(path,
      "contratto_cod|numero_annuncio|list_total|contracted_price|total_discount|" +
        "data_attivazione|data_fine_prestazione|product_code|quantity|" +
        "causale_annullamento|data_annullamento|status_item|creazione_dta",
      rnd.shuffle(lines))
    DropExpect(path.getPath, bytes, lines.size, inserted = lines.size,
      closed = resent.size, discarded = 0)
  }
}
