package graft.tables

import java.nio.file.Files

import graft.SharedSpark
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deletion vectors: DELETE as a tiny (file, row-index) sidecar instead
  * of a data-file rewrite, applied per file inside the parquet scan. The
  * contract under test: identical logical results to the rewrite
  * strategy, zero data files written, correct interplay with every
  * reader (`format("graft")`, cached reads, split files) and with
  * merge / compact / vacuum / restore / time travel. */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-dv").toString

  private def baseDf = spark.range(2000)
    .select(col("id"), (col("id") % 20).as("grp"), (col("id") * 3).as("v"))

  private def dataFiles(root: String): Set[String] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten
        .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(new java.io.File(root, "data"))
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getAbsolutePath.contains("/_dv/"))
      .map(_.getAbsolutePath).toSet
  }
  private def dvFiles(root: String): Set[String] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten
        .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(new java.io.File(root, "data/_dv"))
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
  }

  test("dv delete: same result as the filter, zero data files touched") {
    val root = tmpDir() + "/t"
    val t = VersionedTable.create(spark, baseDf.repartition(4), root)
    val before = dataFiles(root)
    val vBefore = t.currentVersion

    val n = t.delete("grp = 7", deletionVectors = true)
    assert(n === 100)
    assert(dataFiles(root) === before, "no data file may be written or removed")
    assert(dvFiles(root).nonEmpty, "a dv sidecar must exist")
    assert(t.read.count() === 1900)
    assert(t.read.filter(col("grp") === 7).count() === 0)
    // untouched rows byte-identical
    assert(t.read.collect().toSet ===
      baseDf.filter(col("grp") =!= 7).collect().toSet)
    // time travel still sees the pre-delete state
    assert(t.readVersion(vBefore).count() === 2000)
    assert(t.history().select("operation").as[String].collect().head === "DELETE")
  }

  test("dv delete applies on escaped partition values") {
    // p = 'a:0' is written as the directory p=a%3A0, whose scan path
    // encodes the '%' again
    val root = tmpDir() + "/t"
    val t = VersionedTable.create(spark,
      baseDf.withColumn("p", concat(lit("a:"), col("id") % 2)).repartition(4), root, Seq("p"))
    assert(new java.io.File(root, "data/p=a%3A0").isDirectory)
    assert(t.delete("grp = 7", deletionVectors = true) === 100)
    assert(t.read.count() === 1900)
    assert(t.read.filter(col("grp") === 7).count() === 0)
    assert(t.read.filter(col("p") === "a:1").count() === 900)
  }

  test("dv deletes accumulate; re-deleting dead rows is a no-op") {
    val t = VersionedTable.create(spark, baseDf.repartition(4), tmpDir() + "/t")
    assert(t.delete("grp = 1", deletionVectors = true) === 100)
    assert(t.delete("grp = 2", deletionVectors = true) === 100)
    assert(t.read.count() === 1800)
    // already-dead rows are invisible to the probe
    assert(t.delete("grp = 1", deletionVectors = true) === 0L)
    assert(t.read.count() === 1800)
  }

  test("pruned readers apply dvs too") {
    val root = tmpDir() + "/t"
    val t = VersionedTable.create(spark, baseDf.repartition(4), root,
      properties = Map(VersionedTable.BloomColsProp -> "id"))
    t.delete("id = 500", deletionVectors = true)
    assert(t.read.filter(col("id") === 500L).count() === 0)
    assert(t.read.filter(col("id").between(490, 510)).count() === 20)
    assert(t.read.filter(col("id").between(490L, 510L) && col("v").between(0L, 99999L))
      .count() === 20)
  }

  test("merge rewrite of a dv'd file drops the vector and resurrects nothing") {
    val t = VersionedTable
      .create(spark, baseDf.repartition(4), tmpDir() + "/t").as("t")
    t.delete("grp = 3", deletionVectors = true)
    // update every surviving multiple of 3 — touches every file, forcing
    // the rewrite path to read dv'd files
    t.merge(baseDf.filter(col("id") % 3 === 0)
        .withColumn("v", lit(-7L)).as("s"), "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v")).execute()
    assert(t.read.filter(col("grp") === 3).count() === 0, "no resurrection")
    // merge skipped the dv-dead rows: they were not updated either
    val expected = baseDf.filter(col("grp") =!= 3)
      .withColumn("v", when(col("id") % 3 === 0, -7L).otherwise(col("v")))
    assert(t.read.collect().toSet === expected.collect().toSet)
    // rewritten entries carry no dv anymore
    val files = t.liveEntries
    assert(files.forall(_.dv.isEmpty), "rewrite must clear deletion vectors")
  }

  test("compact clears dvs; vacuum reclaims orphaned sidecars, keeps live ones") {
    val root = tmpDir() + "/t"
    val t = VersionedTable.create(spark, baseDf.repartition(6), root)
    t.delete("grp = 9", deletionVectors = true)
    val liveSidecars = dvFiles(root)
    assert(liveSidecars.nonEmpty)
    // a vacuum NOW must keep the referenced sidecar (retain 1 = current)
    t.vacuum(retainVersions = 1)
    assert(dvFiles(root) === liveSidecars, "referenced sidecar vacuumed away")
    assert(t.read.count() === 1900)

    assert(t.compact() > 0)
    val files = t.liveEntries
    assert(files.forall(_.dv.isEmpty), "compacted entries must be dv-free")
    assert(t.read.count() === 1900)
    // now nothing references the sidecar in the latest version
    t.vacuum(retainVersions = 1)
    assert(dvFiles(root).isEmpty, "orphaned sidecar must be reclaimed")
    assert(t.read.count() === 1900)
  }

  test("rewrite-mode delete: same logical result, files rewritten") {
    val root = tmpDir() + "/t"
    val t = VersionedTable.create(spark, baseDf.repartition(4), root)
    val before = dataFiles(root)
    assert(t.delete("grp = 7") === 100)
    assert(dataFiles(root) !== before, "rewrite mode must write new files")
    assert(dvFiles(root).isEmpty)
    assert(t.read.collect().toSet ===
      baseDf.filter(col("grp") =!= 7).collect().toSet)
  }

  test("delete matching nothing commits nothing") {
    val t = VersionedTable.create(spark, baseDf.repartition(4), tmpDir() + "/t")
    val v = t.currentVersion
    assert(t.delete("grp = 999", deletionVectors = true) === 0L)
    assert(t.delete("grp = 999") === 0L)
    assert(t.currentVersion === v)
  }

  test("restore across a dv delete resurrects via metadata only") {
    val root = tmpDir() + "/t"
    val t = VersionedTable.create(spark, baseDf.repartition(4), root)
    val v0 = t.currentVersion
    t.delete("grp < 10", deletionVectors = true)
    assert(t.read.count() === 1000)
    val files = dataFiles(root)
    t.restoreToVersion(v0)
    assert(t.read.count() === 2000)
    assert(dataFiles(root) === files)
  }

  test("readChanges across a DELETE throws unless includeRewrites skips it") {
    val t = VersionedTable.create(spark, baseDf.repartition(4), tmpDir() + "/t")
    val v0 = t.currentVersion
    t.delete("grp = 0", deletionVectors = true)
    t.append(Seq((90000L, 90L, 0L)).toDF("id", "grp", "v"))
    val e = intercept[IllegalArgumentException](t.readChanges(v0).count())
    assert(e.getMessage.contains("DELETE"))
    // with includeRewrites the delete contributes nothing; the append shows
    assert(t.readChanges(v0, includeRewrites = true).count() === 1)
  }

  test("a persisted read never serves rows a later dv delete removed") {
    val t = VersionedTable.create(spark, baseDf.repartition(4), tmpDir() + "/t")
    val before = t.currentVersion
    val cached = t.read.persist()
    def fromCache(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation])
    try {
      assert(cached.count() === 2000)
      t.delete("grp = 7", deletionVectors = true)
      // same data files, new vectors: not the persisted read
      assert(!fromCache(t.read))
      assert(t.read.count() === 1900)
      // same files, same (no) vectors: the persisted read
      assert(fromCache(t.readVersion(before)))
      assert(t.readVersion(before).count() === 2000)
    } finally cached.unpersist()
  }

  test("format(graft) on a dv'd table reads what t.read reads, filtered and not") {
    val root = tmpDir() + "/t"
    val t = VersionedTable.create(spark, baseDf.repartition(4), root)
    assert(t.delete("grp = 7 OR id < 50", deletionVectors = true) === 147)
    val viaSource = spark.read.format("graft").load(root)
    val expected = baseDf.filter(col("grp") =!= 7 && col("id") >= 50).collect().toSet
    assert(viaSource.count() === 1853)
    assert(viaSource.collect().toSet === expected)
    assert(t.read.collect().toSet === expected)
    val f = col("id").between(40, 160) && col("v") > 150
    assert(viaSource.filter(f).collect().toSet === t.read.filter(f).collect().toSet)
    assert(viaSource.filter(f).count() === 105)
  }

  test("a dv'd file read as several scan splits loses exactly the deleted rows") {
    val root = tmpDir() + "/t"
    val big = spark.range(100000)
      .select(col("id"), (col("id") % 20).as("grp"), (col("id") * 3).as("v"))
    // small row groups, written and then read as several splits of one file
    val confs = Seq("parquet.block.size" -> "65536", "spark.sql.files.maxPartitionBytes" -> "131072")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val t = VersionedTable.create(spark, big.coalesce(1), root)
      assert(t.liveEntries.size === 1)
      assert(t.delete("id % 1000 = 3", deletionVectors = true) === 100)
      val perSplit = t.read.rdd.mapPartitions(rows => Iterator(rows.size)).collect()
      assert(perSplit.count(_ > 0) > 1, s"one split read every row: ${perSplit.mkString(",")}")
      assert(t.read.collect().toSet === big.filter(col("id") % 1000 =!= 3).collect().toSet)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
