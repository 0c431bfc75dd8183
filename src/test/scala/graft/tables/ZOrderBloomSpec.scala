package graft.tables

import java.nio.file.Files

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order compaction and bloom-filter point-lookup pruning: the two
  * data-layout features whose whole point is FILE-COUNT reduction at
  * scale, so every test asserts candidate-file counts, not just rows. */
class ZOrderBloomSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-zb").toString

  /** 60k rows over two INDEPENDENT uniform dims — the layout-sensitive
    * shape: any linear sort is tight on one dim and wide on the other. */
  private def xyDf = spark.range(60000).select(
    col("id"),
    (col("id") * 48271 % 1000).as("x"),
    (col("id") * 16807 % 997).as("y"),
    (col("id") % 7).cast("double").as("payload"))

  test("zOrderBy compaction prunes on BOTH dimensions; linear clusterBy only on the first") {
    // write shuffled → every initial file spans the full x and y ranges.
    // 32 KB targets yield ~16 tiles: enough that a 6%-wide band's ideal
    // tile count sits WELL below the half-of-total assertion — with 8
    // tiles the ideal is exactly half and range-sampling straddle flakes
    val zPath = tmpDir() + "/tz"
    val tz = VersionedTable.create(spark, xyDf.repartition(8), zPath)
    tz.compact(targetBytes = 32 * 1024, zOrderBy = Seq("x", "y"))

    val lPath = tmpDir() + "/tl"
    val tl = VersionedTable.create(spark, xyDf.repartition(8), lPath)
    tl.compact(targetBytes = 32 * 1024, clusterBy = Seq("x", "y"))

    val (zxCand, _, zTotal) = Candidates(tz, "x", 100, 160)
    val (zyCand, _, _)      = Candidates(tz, "y", 500, 560)
    val (lxCand, _, lTotal) = Candidates(tl, "x", 100, 160)
    val (lyCand, _, _)      = Candidates(tl, "y", 500, 560)
    assert(zTotal >= 12 && lTotal >= 12, s"compaction must leave several files (z=$zTotal l=$lTotal)")
    // z-curve: a narrow band on EITHER dim hits only that band's tiles
    assert(zxCand.size * 2 <= zTotal, s"z x-band: ${zxCand.size} of $zTotal")
    assert(zyCand.size * 2 <= zTotal, s"z y-band: ${zyCand.size} of $zTotal")
    // linear sort: tight on x (leading), but y ranges stay near-full-width
    assert(lxCand.size * 2 <= lTotal, s"linear x-band: ${lxCand.size} of $lTotal")
    assert(lyCand.size > lTotal / 2, s"linear y-band should stay wide: ${lyCand.size} of $lTotal")
    // and the z layout must beat the linear one on the trailing dim
    assert(zyCand.size < lyCand.size)
  }

  test("zOrder layout never changes results: pruned multi-dim read == full-scan filter") {
    val path = tmpDir() + "/tz2"
    val t = VersionedTable.create(spark, xyDf.repartition(8), path)
    t.compact(targetBytes = 64 * 1024, zOrderBy = Seq("x", "y"))
    // the reference is the source frame: every table read prunes
    val band = col("x").between(100, 160) && col("y").between(500, 560)
    val expected = xyDf.filter(band).count()
    val pruned = t.read.filter(band)
    assert(pruned.count() == expected)
    assert(expected > 0, "band must be non-empty for the test to mean anything")
    // row content identical, not just counts
    val a = pruned.orderBy("id").collect().toSeq
    val b = xyDf.filter(band).orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("zOrderBy validates its columns") {
    val path = tmpDir() + "/tz3"
    val t = VersionedTable.create(spark,
      Seq((1L, "a")).toDF("id", "s"), path)
    intercept[IllegalArgumentException] { t.compact(zOrderBy = Seq("nope")) }
    intercept[IllegalArgumentException] { t.compact(zOrderBy = Seq("s")) }
    intercept[IllegalArgumentException] {
      t.compact(clusterBy = Seq("id"), zOrderBy = Seq("id"))
    }
  }

  test("bloom filters prune point lookups that min/max stats cannot") {
    val path = tmpDir() + "/tb"
    // keys shuffled across 8 files → every file's [min,max] covers any key:
    // stats pruning is provably useless here, only the bloom can help
    val df = spark.range(40000).select(
      (col("id") * 48271 % 40000).as("k"),
      concat(lit("v"), col("id")).as("v"))
    val t = VersionedTable.create(spark, df.repartition(8), path,
      properties = Map(VersionedTable.BloomColsProp -> "k",
        VersionedTable.BloomNdvProp -> "10000"))
    val probe = 12345L

    val (cand, afterStats, total) = Candidates(t, "k", probe, probe)
    assert(total == 8, s"expected 8 files, got $total")
    assert(afterStats == total, "stats must NOT prune a uniformly-spread key")
    assert(cand.size < afterStats,
      s"bloom should prune below the ${afterStats} stats candidates, got ${cand.size}")

    // correctness: the pruned read returns exactly the source rows, and
    // scans exactly the bloom candidates
    val expected = df.filter(col("k") === probe).orderBy("v").collect().toSeq
    assert(expected.nonEmpty)
    val lookup = t.read.filter(col("k") === probe)
    assert(lookup.orderBy("v").collect().toSeq == expected)
    assert(Candidates.scanned(lookup) == cand.size)

    // absent key: no false rows, and the bloom prunes (near-)everything
    val absent = t.read.filter(col("k") === 999999L)
    assert(absent.count() == 0)
    val (candAbsent, _, _) = Candidates(t, "k", 999999L, 999999L)
    assert(candAbsent.size <= 2, s"absent key kept ${candAbsent.size} of $total files")
    assert(Candidates.scanned(absent) == candAbsent.size)
  }

  test("bloom pruning survives merge rewrites and degrades safely without the property") {
    val path = tmpDir() + "/tb2"
    val df = spark.range(10000).select(
      (col("id") * 48271 % 10000).as("k"), lit(1L).as("n"))
    val t = VersionedTable.create(spark, df.repartition(4), path,
      properties = Map(VersionedTable.BloomColsProp -> "k",
        VersionedTable.BloomNdvProp -> "5000"))
    // a MERGE rewrite must re-write blooms on the new files
    t.alias("t").merge(Seq((7L, 5L)).toDF("k", "add").alias("s"), "t.k = s.k")
      .whenMatchedUpdate(set = Map("n" -> "t.n + s.add"))
      .execute()
    assert(t.read.filter(col("k") === 7L).select("n").as[Long].head() == 6L)
    val (cand, afterStats, total) = Candidates(t, "k", 7L, 7L)
    assert(cand.size < afterStats || afterStats < total,
      s"post-merge lookup still prunes: $total -> $afterStats -> ${cand.size}")
    val lookup = t.read.filter(col("k") === 7L)
    assert(lookup.count() == 1)
    assert(Candidates.scanned(lookup) == cand.size)

    // no property ⇒ no bloom ⇒ candidates == stats candidates, results exact
    val plainPath = tmpDir() + "/tb3"
    val tp = VersionedTable.create(spark, df.repartition(4), plainPath)
    val (pc, ps, _) = Candidates(tp, "k", 7L, 7L)
    assert(pc.size == ps, "without the property bloom must be a no-op")
    val plainLookup = tp.read.filter(col("k") === 7L)
    assert(plainLookup.count() == 1)
    assert(Candidates.scanned(plainLookup) == pc.size)
  }
}
