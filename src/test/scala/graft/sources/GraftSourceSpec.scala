package graft.sources

import java.nio.file.Files

import graft.SharedSpark
import graft.tables.VersionedTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `spark.read.format("graft")` interop surface. */
class GraftSourceSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private lazy val path = {
    val p = Files.createTempDirectory("graft-src").toString + "/t"
    val t = VersionedTable.create(spark,
      spark.range(0, 1000).selectExpr("id", "cast(id % 7 AS int) AS grp",
        "concat('v', id) AS v"), p)
    t.append(spark.range(1000, 1200).selectExpr("id",
      "cast(id % 7 AS int) AS grp", "concat('v', id) AS v"))
    p
  }

  test("format(graft) reads the current table state") {
    val df = spark.read.format("graft").load(path)
    assert(df.count() == 1200)
    assert(df.schema.fieldNames.toSeq == Seq("id", "grp", "v"))
    // equality with the native read
    assert(df.exceptAll(VersionedTable.forPath(spark, path).read).isEmpty)
  }

  test("versionAsOf option time-travels") {
    val v0 = spark.read.format("graft").option("versionAsOf", 0).load(path)
    assert(v0.count() == 1000)
  }

  test("filters and pruning flow through; results match the native path") {
    val df = spark.read.format("graft").load(path)
      .filter($"grp" === 3 && $"id" >= 100)
      .select("id", "v")
    val native = VersionedTable.forPath(spark, path).read
      .filter($"grp" === 3 && $"id" >= 100)
      .select("id", "v")
    assert(df.count() == native.count())
    assert(df.exceptAll(native).isEmpty && native.exceptAll(df).isEmpty)
    // aggregates over the relation
    assert(spark.read.format("graft").load(path)
      .agg(sum("id")).as[Long].head() == (0L until 1200L).sum)
  }

  test("SQL surface: CREATE TABLE ... USING graft") {
    spark.sql("DROP TABLE IF EXISTS graft_sql_t")
    spark.sql(s"CREATE TABLE graft_sql_t USING graft OPTIONS (path '$path')")
    try {
      val n = spark.sql(
        "SELECT count(*) FROM graft_sql_t WHERE grp = 1").as[Long].head()
      assert(n == spark.read.format("graft").load(path)
        .filter($"grp" === 1).count())
    } finally spark.sql("DROP TABLE IF EXISTS graft_sql_t")
  }

  test("a USING graft table sees commits after its first query; versionAsOf stays pinned") {
    // the session catalog keeps the table's relation: it must list the
    // newest version each time it is scanned
    val p = Files.createTempDirectory("graft-src-fresh").toString + "/t"
    val t = VersionedTable.create(spark, spark.range(0, 100).toDF("id"), p)
    def count(where: String) =
      spark.sql(s"SELECT count(*) FROM graft_fresh_t WHERE $where").as[Long].head()
    spark.sql("DROP TABLE IF EXISTS graft_fresh_t")
    spark.sql(s"CREATE TABLE graft_fresh_t USING graft OPTIONS (path '$p')")
    try {
      assert(count("true") == 100)
      t.append(spark.range(100, 150).toDF("id"))
      assert(count("true") == 150)
      assert(count("id >= 100") == 50)
      t.delete("id < 10", deletionVectors = true)
      assert(count("true") == 140)
      assert(spark.read.format("graft").option("versionAsOf", 0).load(p).count() == 100)
    } finally spark.sql("DROP TABLE IF EXISTS graft_fresh_t")
  }

  test("INSERT into a USING graft table fails and writes nothing past the log") {
    val p = Files.createTempDirectory("graft-src-insert").toString + "/t"
    val t = VersionedTable.create(spark, spark.range(0, 10).toDF("id").coalesce(1), p)
    def files = Files.walk(java.nio.file.Paths.get(p)).count()
    val before = files
    spark.sql("DROP TABLE IF EXISTS graft_insert_t")
    spark.sql(s"CREATE TABLE graft_insert_t USING graft OPTIONS (path '$p')")
    try {
      for (stmt <- Seq("INSERT INTO", "INSERT OVERWRITE TABLE")) {
        val e = intercept[org.apache.spark.sql.AnalysisException](
          spark.sql(s"$stmt graft_insert_t SELECT 99L AS id"))
        assert(e.getMessage.contains("UNSUPPORTED_INSERT"), e.getMessage)
      }
      assert(files == before)
      assert(t.read.count() == 10 && t.currentVersion == 0)
    } finally spark.sql("DROP TABLE IF EXISTS graft_insert_t")
  }

  test("a dv delete between planning and running an unpinned scan fails it, never serves deleted rows") {
    val p = Files.createTempDirectory("graft-src-race").toString + "/t"
    val t = VersionedTable.create(spark, spark.range(0, 100).toDF("id").repartition(2), p)
    val planned = spark.read.format("graft").load(p).queryExecution
    assert(planned.executedPlan.exists(_.getClass.getSimpleName == "ColumnarToRowExec"),
      "no deletion vector yet: the scan is planned to read batches")
    t.delete("id < 10", deletionVectors = true)
    val e = intercept[IllegalStateException](planned.toRdd.count())
    assert(e.getMessage.contains("after this scan was planned"))
    assert(spark.read.format("graft").load(p).count() == 90)
  }
}
