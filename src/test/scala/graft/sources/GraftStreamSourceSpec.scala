package graft.sources

import java.nio.file.Files

import graft.SharedSpark
import graft.tables.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** `spark.readStream.format("graft")` — the commit-log CDC stream. */
class GraftStreamSourceSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until).selectExpr("id", "concat('v', id) AS v")

  /** One AvailableNow drain into a parquet dir, tagged with the drain
    * number; returns after the query terminates. */
  private def drain(table: String, ckpt: String, out: String, phase: Int,
                    extraOpts: Map[String, String] = Map.empty): Unit = {
    val reader = spark.readStream.format("graft")
    extraOpts.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load(table)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.withColumn("phase", lit(phase)).write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("first drain reads the whole history; later drains only the new commits") {
    val dir = freshDir("cdc")
    val (table, ckpt, out) = (dir + "/t", dir + "/ckpt", dir + "/out")
    val t = VersionedTable.create(spark, rows(0, 100), table)
    t.append(rows(100, 150))

    drain(table, ckpt, out, phase = 1)
    val p1 = spark.read.parquet(out)
    assert(p1.count() == 150, "fresh checkpoint must see every commit")
    assert(p1.agg(max("phase")).as[Int].head() == 1)

    t.append(rows(150, 160))
    t.append(rows(160, 180))
    drain(table, ckpt, out, phase = 2)
    val p2 = spark.read.parquet(out).filter($"phase" === 2)
    assert(p2.count() == 30, "resumed stream must read ONLY the two new commits")
    assert(p2.agg(min("id")).as[Long].head() == 150L)

    // no new commits -> a restart emits nothing (no replay from checkpoint)
    drain(table, ckpt, out, phase = 3)
    assert(spark.read.parquet(out).filter($"phase" === 3).isEmpty)
    // and the union of all drains is exactly the table
    assert(spark.read.parquet(out).select("id", "v")
      .exceptAll(t.read).isEmpty)
  }

  test("startingVersion skips history before the given version (exclusive)") {
    val dir = freshDir("cdc-sv")
    val t = VersionedTable.create(spark, rows(0, 50), dir + "/t") // v0
    t.append(rows(50, 60))                                        // v1
    t.append(rows(60, 75))                                        // v2
    drain(dir + "/t", dir + "/ckpt", dir + "/out", phase = 1,
      extraOpts = Map("startingVersion" -> "1"))
    val got = spark.read.parquet(dir + "/out")
    assert(got.count() == 15, "only v2 is past startingVersion=1")
    assert(got.agg(min("id")).as[Long].head() == 60L)
  }

  test("a rewriting merge fails the stream with readChanges's error; includeRewrites reads it coarsely") {
    val dir = freshDir("cdc-rw")
    val t = VersionedTable.create(spark, rows(0, 40), dir + "/t").as("t")
    drain(dir + "/t", dir + "/ckpt", dir + "/out", phase = 1)
    t.merge(rows(0, 10).withColumn("v", lit("updated")).as("s"), "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v")).execute()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(dir + "/t", dir + "/ckpt", dir + "/out", phase = 2)
    }
    assert(err.getMessage.contains("includeRewrites"),
      s"should surface readChanges's guidance, got: ${err.getMessage}")
    // a SEPARATE checkpoint with includeRewrites=true reads the rewrite's
    // files coarsely (updated + copied rows of the touched files)
    drain(dir + "/t", dir + "/ckpt2", dir + "/out2", phase = 1,
      extraOpts = Map("includeRewrites" -> "true"))
    val coarse = spark.read.parquet(dir + "/out2").select("id", "v")
    assert(coarse.count() >= 40, "v0 files + the merge's rewritten files")
    assert(coarse.filter($"v" === "updated").count() == 10)
  }

  test("a stream starting below the cleanLog truncation point fails, naming the oldest readable version") {
    val dir = freshDir("cdc-trunc")
    val t = VersionedTable.create(spark, rows(0, 5), dir + "/t") // v0
    (1 to 10).foreach(i => t.append(rows(5L * i, 5L * i + 5)))   // v1..v10, checkpoint 10
    assert(t.cleanLog(retainVersions = 1) == 10, "commits 0..9 are truncated")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(dir + "/t", dir + "/ckpt", dir + "/out", phase = 1)
    }
    assert(err.getMessage.contains("oldest readable version is 10"),
      s"should surface readChanges's error, got: ${err.getMessage}")
  }

  test("user-supplied schema is rejected; stream schema is the table's") {
    val dir = freshDir("cdc-sch")
    VersionedTable.create(spark, rows(0, 5), dir + "/t")
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft")
        .schema("id LONG").load(dir + "/t")
    }
    assert(e.getMessage.contains("table's own schema"))
    assert(spark.readStream.format("graft").load(dir + "/t").schema
      .fieldNames.toSeq == Seq("id", "v"))
  }
}
