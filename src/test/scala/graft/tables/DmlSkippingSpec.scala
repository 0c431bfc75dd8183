package graft.tables

import java.nio.file.Files

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stats/bloom file skipping inside the DELETE/UPDATE probe: the DML
  * predicate's conjunct bounds must skip provably-unmatched files BEFORE
  * the probe scan, without ever changing the logical result. Skip counts
  * are read back from the commit's operationMetrics. */
class DmlSkippingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-dmlskip").toString

  private def baseDf = spark.range(20000)
    .select(col("id"), (col("id") % 40).as("grp"), (col("id") * 3).as("v"))

  private def lastMetrics(t: VersionedTable): Map[String, String] =
    t.history(1).select("operationMetrics")
      .as[Map[String, String]].collect().head

  test("point delete on a clustered table skips most files by stats") {
    val t = VersionedTable.create(spark, baseDf.repartition(8), tmpDir() + "/t")
    t.compact(targetBytes = 16 * 1024, clusterBy = Seq("id"))
    val total = t.liveEntries.size
    assert(total >= 4, s"need a multi-file layout, got $total")

    assert(t.delete("id = 12345", deletionVectors = true) === 1L)
    val m = lastMetrics(t)
    assert(m("numFilesSkippedByStats").toInt >= total - 1,
      s"clustered point delete must skip nearly all files: $m")
    assert(t.read.count() === 19999)
  }

  test("range + conjunct bounds prune update probes; OR prunes nothing") {
    val t = VersionedTable.create(spark, baseDf.repartition(8), tmpDir() + "/t")
    t.compact(targetBytes = 48 * 1024, clusterBy = Seq("id"))
    val total = t.liveEntries.size

    assert(t.update("id >= 100 AND id < 200", Map("v" -> "-1")) === 100L)
    val m1 = lastMetrics(t)
    assert(m1("numFilesSkippedByStats").toInt > 0, s"range must prune: $m1")

    // OR at the top level is not a recognized bound — correct, unpruned
    assert(t.delete("id = 5 OR id = 19998") === 2L)
    val m2 = lastMetrics(t)
    assert(m2("numFilesSkippedByStats").toInt === 0, s"OR must not prune: $m2")
    assert(t.read.count() === 19998)
  }

  test("IN-list bounds prune") {
    val t = VersionedTable.create(spark, baseDf.repartition(8), tmpDir() + "/t")
    t.compact(targetBytes = 48 * 1024, clusterBy = Seq("id"))
    assert(t.delete("id IN (700, 701, 750)", deletionVectors = true) === 3L)
    val m = lastMetrics(t)
    assert(m("numFilesSkippedByStats").toInt > 0, s"IN must prune: $m")
    assert(t.read.count() === 19997)
  }

  test("IN bounds order their values under the column's type") {
    // string keys clustered lexically: one file holds "10".."19", whose
    // max "19" sorts below "9" — a numeric [9, 10] bound would skip it
    val keys = (0 until 100).map(_.toString) ++ Seq("-1", "-2", "-10")
    val t = VersionedTable.create(spark,
      keys.toDF("s").repartitionByRange(8, $"s"), tmpDir() + "/t")
    assert(t.liveEntries.size >= 4, s"need a multi-file layout: ${t.liveEntries.size}")
    for (vs <- Seq(Seq("10", "9"), Seq("-1", "-2"), Seq("19", "2", "-10"))) {
      val read = t.read.filter($"s".isin(vs: _*))
      assert(read.as[String].collect().toSet == vs.toSet, vs)
      val (lo, hi) = (vs.min, vs.max) // text order, as the column compares
      assert(Candidates.scanned(read) == Candidates(t, "s", lo, hi)._1.size, vs)
    }
    assert(t.delete("s IN ('10', '9')") === 2L)
    assert(t.delete("s IN ('-1', '-2')", deletionVectors = true) === 2L)
    assert(t.read.count() === keys.size - 4)

    // a numeric column with string literals: the parser's type is a guess
    val n = VersionedTable.create(spark, baseDf.repartition(8), tmpDir() + "/n")
    n.compact(targetBytes = 48 * 1024, clusterBy = Seq("id"))
    assert(n.delete("id IN ('10', '9', '12000')") === 3L)
    assert(lastMetrics(n)("numFilesSkippedByStats").toInt > 0)
  }

  test("bloom equality prunes what min/max cannot (shuffled layout)") {
    // shuffled: every file's [min,max] spans the whole id range, so only
    // the bloom can skip
    val t = VersionedTable.create(spark, baseDf.repartition(8), tmpDir() + "/t",
      properties = Map(VersionedTable.BloomColsProp -> "id",
        VersionedTable.BloomNdvProp -> "20000"))
    val total = t.liveEntries.size
    assert(t.delete("id = 4242", deletionVectors = true) === 1L)
    val m = lastMetrics(t)
    assert(m("numFilesSkippedByStats").toInt >= total - 2,
      s"bloom must skip files stats cannot: $m")
    assert(t.read.count() === 19999)
  }

  test("a one-key merge skips files by bloom like DELETE does (shuffled layout)") {
    val t = VersionedTable.create(spark, baseDf.repartition(8), tmpDir() + "/t",
      properties = Map(VersionedTable.BloomColsProp -> "id",
        VersionedTable.BloomNdvProp -> "20000"))
    val total = t.liveEntries.size
    t.alias("t").merge(Seq((4242L, -1L)).toDF("id", "v").alias("s"), "t.id = s.id")
      .whenMatchedUpdate(set = Map("v" -> "s.v"))
      .execute()
    val m = lastMetrics(t)
    assert(m("numTargetFilesSkippedByStats").toInt >= total - 2,
      s"bloom must skip merge targets stats cannot: $m")
    assert(m("numTargetRowsUpdated") === "1")
    val others = col("id") =!= 4242
    assert(t.read.filter(others).collect().toSet === baseDf.filter(others).collect().toSet)
    assert(t.read.filter(!others).select("grp", "v").as[(Long, Long)].collect().toSeq ===
      Seq((4242L % 40, -1L)))
  }

  test("DELETE skips exactly the files the point-lookup read does not scan") {
    val t = VersionedTable.create(spark, baseDf.repartition(8), tmpDir() + "/t")
    t.compact(targetBytes = 16 * 1024, clusterBy = Seq("id"))
    val (readCand, _, total) = Candidates(t, "id", 12345L, 12345L)
    assert(readCand.size < total, s"the read must prune: ${readCand.size} of $total")
    val lookup = t.read.filter(col("id") === 12345L)
    assert(lookup.count() === 1L)
    assert(Candidates.scanned(lookup) === readCand.size)
    assert(t.delete("id = 12345") === 1L)
    assert(lastMetrics(t)("numFilesSkippedByStats").toInt === total - readCand.size)
    assert(t.read.count() === 19999)
  }

  test("bounds that prune EVERY file are a clean no-op, nothing committed") {
    val t = VersionedTable.create(spark, baseDf.repartition(8), tmpDir() + "/t")
    val v = t.currentVersion
    assert(t.delete("id = -5") === 0L)
    assert(t.update("id > 1000000", Map("v" -> "0")) === 0L)
    assert(t.currentVersion === v, "no-op DML must not commit")
    assert(t.read.count() === 20000)
  }

  test("skipping never loses matches: delete by range equals filter") {
    val t = VersionedTable.create(spark, baseDf.repartition(8), tmpDir() + "/t")
    t.compact(targetBytes = 48 * 1024, clusterBy = Seq("grp"))
    val n = t.delete("grp >= 10 AND grp <= 12")
    assert(n === 1500)
    assert(t.read.collect().toSet ===
      baseDf.filter(!col("grp").between(10, 12)).collect().toSet)
  }
}
