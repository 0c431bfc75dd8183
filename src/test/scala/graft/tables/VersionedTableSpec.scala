package graft.tables

import java.nio.file.Files

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VersionedTableSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-vt").toString

  test("create / isTable / read round-trip with partitioning") {
    val path = tmpDir() + "/t1"
    assert(!VersionedTable.isTable(spark, path))
    val df = Seq((1, "a", 2023), (2, "b", 2023), (3, "c", 2024))
      .toDF("id", "v", "year")
    val t = VersionedTable.create(spark, df, path, Seq("year"))
    assert(VersionedTable.isTable(spark, path))
    assert(t.currentVersion == 0)
    val back = t.read
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("id", "v", "year"))
    // partition pruning reads only the matching dir
    assert(back.filter($"year" === 2024).count() == 1)
    // partition column type preserved (int, not string)
    assert(back.schema("year").dataType.typeName == "integer")
  }

  test("append and time travel") {
    val path = tmpDir() + "/t2"
    val t = VersionedTable.create(spark,
      Seq((1, "a")).toDF("id", "v"), path)
    t.append(Seq((2, "b")).toDF("id", "v"))
    assert(t.currentVersion == 1)
    assert(t.read.count() == 2)
    assert(t.readVersion(0).count() == 1)
    assert(t.history().count() == 2)
    assert(t.history(1).select("version").as[Long].head() == 1L)
  }

  test("mergeSchema append widens schema; old files read as null") {
    val path = tmpDir() + "/t3"
    val t = VersionedTable.create(spark, Seq((1, "a")).toDF("id", "v"), path)
    t.append(Seq((2, "b", 9.5)).toDF("id", "v", "score"), mergeSchema = true)
    val cur = t.read
    assert(cur.columns.toSet == Set("id", "v", "score"))
    assert(cur.filter($"id" === 1).select("score").first().isNullAt(0))
    // time travel sees the old 2-column schema
    assert(t.readVersion(0).columns.toSet == Set("id", "v"))
    // strict append without the new column still works post-evolution
    intercept[IllegalArgumentException] {
      t.append(Seq((3, "c")).toDF("id", "v"))
    }
  }

  test("merge: matched update + not-matched insert (SCD2 close/open shape)") {
    val path = tmpDir() + "/t4"
    val target = Seq(
      ("k1", "old", true), ("k2", "same", true)
    ).toDF("key", "val", "is_current")
    val t = VersionedTable.create(spark, target, path)

    val source = Seq(
      ("k1", "new"), // should close k1
      ("k3", "brand") // should insert
    ).toDF("key", "val").alias("staged")

    t.alias("existing")
      .merge(source, "existing.key = staged.key")
      .whenMatchedUpdate(
        condition = "existing.is_current = true",
        set = Map("val" -> "staged.val", "is_current" -> "false"))
      .whenNotMatchedInsert(values = Map(
        "key" -> "staged.key", "val" -> "staged.val", "is_current" -> "true"))
      .execute()

    val out = t.read.orderBy("key").collect()
    assert(out.length == 3)
    val byKey = out.map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(byKey("k1") == ("new", false))
    assert(byKey("k2") == ("same", true)) // untouched row copied intact
    assert(byKey("k3") == ("brand", true))
  }

  test("merge with update condition leaves non-qualifying matches as no-op") {
    val path = tmpDir() + "/t5"
    val t = VersionedTable.create(spark,
      Seq(("k1", "v", false)).toDF("key", "val", "is_current"), path)
    t.alias("existing")
      .merge(Seq(("k1", "x")).toDF("key", "val").alias("staged"),
        "existing.key = staged.key")
      .whenMatchedUpdate(condition = "existing.is_current = true",
        set = Map("val" -> "staged.val"))
      .execute()
    assert(t.read.select("val").as[String].head() == "v")
  }

  test("merge: matched delete + not-matched insert in one merge") {
    val path = tmpDir() + "/t4d"
    val t = VersionedTable.create(spark,
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")).toDF("id", "v"), path)
    val src = Seq((3, "x"), (6, "f")).toDF("id", "v").alias("s")
    t.alias("e").merge(src, "e.id = s.id")
      .whenMatchedDelete()
      .whenNotMatchedInsert(values = Map("id" -> "s.id", "v" -> "s.v"))
      .execute()
    val out = t.read.orderBy("id").collect().map(r => r.getInt(0) -> r.getString(1))
    assert(out.toSeq == Seq(1 -> "a", 2 -> "b", 4 -> "d", 5 -> "e", 6 -> "f"))
    val m = t.history(1).select("operationMetrics").as[Map[String, String]].head()
    assert(m("numTargetRowsDeleted").toLong == 1L)
    assert(m("numTargetRowsInserted").toLong == 1L)
  }

  test("merge: delete and update clauses honor add order (first match wins)") {
    val path = tmpDir() + "/t4e"
    val t = VersionedTable.create(spark,
      Seq(("k1", "v1"), ("k2", "v2"), ("k3", "v3")).toDF("key", "val"), path)
    val src = Seq(("k1", "D", "ignored"), ("k2", "U", "updated"))
      .toDF("key", "flag", "nv").alias("s")
    t.alias("e").merge(src, "e.key = s.key")
      .whenMatchedDelete(condition = "s.flag = 'D'")
      .whenMatchedUpdate(set = Map("val" -> "s.nv")) // unconditioned, but SECOND
      .execute()
    val out = t.read.orderBy("key").collect().map(r => r.getString(0) -> r.getString(1))
    assert(out.toSeq == Seq("k2" -> "updated", "k3" -> "v3"),
      "k1 must be deleted (delete clause added first), k2 updated, k3 untouched")
    val m = t.history(1).select("operationMetrics").as[Map[String, String]].head()
    assert(m("numTargetRowsDeleted").toLong == 1L)
    assert(m("numTargetRowsUpdated").toLong == 1L)
  }

  test("merge delete: unmatched target rows sharing a file with matches survive") {
    // regression: for an unmatched row of the left-outer rewrite the
    // delete term is NULL (source cols absent), and an un-coalesced
    // `!NULL` filtered the row OUT — silently deleting every unmatched row
    // that happened to share a file with a matched one. One file forces it.
    val path = tmpDir() + "/t4g"
    val t = VersionedTable.create(spark,
      Seq(("k1", "v1"), ("k2", "v2"), ("k3", "v3")).toDF("key", "val").coalesce(1),
      path)
    val src = Seq(("k1", "D")).toDF("key", "flag").alias("s")
    t.alias("e").merge(src, "e.key = s.key")
      .whenMatchedDelete(condition = "s.flag = 'D'")
      .execute()
    val out = t.read.orderBy("key").collect().map(r => r.getString(0))
    assert(out.toSeq == Seq("k2", "k3"),
      "unmatched rows in the rewritten file must be copied, not dropped")
    val m = t.history(1).select("operationMetrics").as[Map[String, String]].head()
    assert(m("numTargetRowsDeleted").toLong == 1L)
  }

  test("merge: delete-only clause removes every row of a matched file cleanly") {
    val path = tmpDir() + "/t4f"
    val t = VersionedTable.create(spark,
      Seq((1, "a", 2023), (2, "b", 2024)).toDF("id", "v", "year"), path, Seq("year"))
    t.alias("e").merge(Seq(Tuple1(1)).toDF("id").alias("s"), "e.id = s.id")
      .whenMatchedDelete()
      .execute()
    val out = t.read.collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(2), "only the 2024 row survives")
    // time travel still sees the pre-delete state
    assert(t.readVersion(0).count() == 2)
  }

  test("merge prunes untouched files (file-level bounded work)") {
    val path = tmpDir() + "/t6"
    val df = Seq((1, "a", 2023), (2, "b", 2024)).toDF("id", "v", "year")
    val t = VersionedTable.create(spark, df, path, Seq("year"))
    t.alias("e")
      .merge(Seq((1, "a2")).toDF("id", "v").alias("s"), "e.id = s.id")
      .whenMatchedUpdate(set = Map("v" -> "s.v"))
      .execute()
    // only the year=2023 file should have been rewritten
    val hist = t.history(1).select("operationMetrics").as[Map[String, String]].head()
    assert(hist("numTargetFilesRemoved").toInt == 1)
    assert(hist("numTargetFilesUntouched").toInt >= 1)
    val out = t.read.orderBy("id").select("v").as[String].collect()
    assert(out.toSeq == Seq("a2", "b"))
  }

  test("merge rejects multiple source rows matching one target row") {
    val path = tmpDir() + "/t7"
    val t = VersionedTable.create(spark, Seq(("k1", "v")).toDF("key", "val"), path)
    val dup = Seq(("k1", "x"), ("k1", "y")).toDF("key", "val").alias("s")
    intercept[IllegalStateException] {
      t.alias("e").merge(dup, "e.key = s.key")
        .whenMatchedUpdate(set = Map("val" -> "s.val")).execute()
    }
  }

  test("aggregate-grouped merge source (unique keys by plan) updates correctly") {
    // the Phase-A shape: groupBy(join key).agg(...) — key uniqueness is
    // inferred from the plan (no countDistinct job), and the merge result
    // must be identical to the measured-uniqueness path
    val path = tmpDir() + "/t7b"
    val t = VersionedTable.create(spark,
      Seq(("k1", 1), ("k2", 2), ("k3", 3)).toDF("key", "val"), path)
    val src = Seq(("k1", 10), ("k1", 7), ("k3", 30)).toDF("key", "v")
      .groupBy("key").agg(min("v").as("minv")).alias("s")
    t.alias("e").merge(src, "e.key = s.key")
      .whenMatchedUpdate(set = Map("val" -> "s.minv")).execute()
    val out = t.read.orderBy("key").select("val").as[Int].collect().toSeq
    assert(out == Seq(7, 2, 30))
  }

  test("projection over an aggregate that drops the key still cardinality-checks") {
    // a projection remapping the join key to a NON-grouping column must
    // NOT be inferred unique — the measured check has to fire and reject
    val path = tmpDir() + "/t7c"
    val t = VersionedTable.create(spark, Seq(("x", 0)).toDF("key", "val"), path)
    val src = Seq(("k1", "x"), ("k2", "x")).toDF("g", "other")
      .groupBy("g", "other").agg(count(lit(1)).as("c"))
      .select(col("other").as("key"), col("c")).alias("s")
    intercept[IllegalStateException] {
      t.alias("e").merge(src, "e.key = s.key")
        .whenMatchedUpdate(set = Map("val" -> "s.c")).execute()
    }
  }

  test("a unique-key update-only merge touches only the files its clause changes") {
    // one key with a closed version in one file and its open version in
    // another: the clause holds only for the open row
    def twoFiles(name: String): (VersionedTable, String) = {
      val t = VersionedTable.create(spark,
        Seq(("k1", 1, false), ("k2", 5, true)).toDF("key", "val", "open").coalesce(1), tmpDir() + s"/$name")
      val Seq(closedFile) = t.liveEntries.map(_.path)
      t.append(Seq(("k1", 2, true)).toDF("key", "val", "open"))
      assert(t.liveEntries.size == 2)
      (t.alias("e"), closedFile)
    }
    val src = Seq(("k1", 9), ("k1", 7)).toDF("key", "v").groupBy("key").agg(max("v").as("nv")).alias("s")
    val (t, closedFile) = twoFiles("tprobe")
    val m = t.merge(src, "e.key = s.key")
      .whenMatchedUpdate(condition = "e.open", set = Map("val" -> "s.nv", "open" -> "false"))
      .execute()
    assert(m("sourceKeysUnique") == "plan" && m("rewriteJoinType") == "left_outer", s"$m")
    assert(m("numTargetFilesRemoved") == "1" && m("numTargetRowsUpdated") == "1", s"$m")
    assert(t.liveEntries.map(_.path).contains(closedFile), "the unchanged file stays live by reference")
    assert(t.read.orderBy("key", "val").as[(String, Int, Boolean)].collect().toSeq ==
      Seq(("k1", 1, false), ("k1", 9, false), ("k2", 5, true)))

    // an insert clause too: still only the file whose row changes is
    // rewritten, and the anti-join does not insert the matched key
    val (u, closedU) = twoFiles("tprobe-ins")
    val mi = u.merge(src, "e.key = s.key")
      .whenMatchedUpdate(condition = "e.open", set = Map("val" -> "s.nv", "open" -> "false"))
      .whenNotMatchedInsert(Map("key" -> "s.key", "val" -> "s.nv", "open" -> "true"))
      .execute()
    assert(mi("rewriteJoinType") == "left_outer", s"$mi")
    assert(mi("numTargetFilesRemoved") == "1" && mi("numTargetRowsInserted") == "0", s"$mi")
    assert(u.liveEntries.map(_.path).contains(closedU), "the unchanged file stays live by reference")
    assert(u.read.orderBy("key", "val").as[(String, Int, Boolean)].collect().toSeq ==
      Seq(("k1", 1, false), ("k1", 9, false), ("k2", 5, true)))

    // an unchecked source counts every key match, also where no clause holds
    val dup = Seq(("k1", 9), ("k1", 7)).toDF("key", "nv").alias("s")
    val e = intercept[IllegalStateException] {
      twoFiles("tprobe-dup")._1.merge(dup, "e.key = s.key")
        .whenMatchedUpdate(condition = "e.open AND s.nv > 100", set = Map("val" -> "s.nv")).execute()
    }
    assert(e.getMessage.contains("multiple source rows matched the same target row"))
  }

  test("a replayed upsert runs no rewrite and commits no data file") {
    val t = VersionedTable.create(spark,
      (1 to 6).map(i => (s"k$i", i)).toDF("key", "val").repartition(3), tmpDir() + "/tupsert-replay")
    val src = Seq(("k1", 10), ("k1", 9), ("k7", 7)).toDF("key", "v")
      .groupBy("key").agg(max("v").as("nv")).alias("s")
    def upsert() = t.alias("e").merge(src, "e.key = s.key")
      .whenMatchedUpdate(condition = "e.val <> s.nv", set = Map("val" -> "s.nv"))
      .whenNotMatchedInsert(Map("key" -> "s.key", "val" -> "s.nv"))
      .execute()
    val first = upsert()
    assert(first("sourceKeysUnique") == "plan" && first("numTargetRowsUpdated") == "1" &&
      first("numTargetRowsInserted") == "1" && first("numTargetFilesRemoved") == "1", s"$first")
    val (live, onDisk) = (t.liveEntries.map(_.path).toSet, dataFiles(t.root))
    val (replay, rewrites) = graft.jobs.HeaderEtlJobSpec.rewriteJobs(spark)(upsert())
    assert(rewrites == 0, s"$rewrites rewrite jobs")
    assert(Seq("numTargetRowsUpdated", "numTargetRowsInserted", "numTargetFilesAdded",
      "numTargetFilesRemoved").forall(replay(_) == "0"), s"$replay")
    assert(t.liveEntries.map(_.path).toSet == live && dataFiles(t.root) == onDisk)
    assert(t.read.orderBy("key").as[(String, Int)].collect().toSeq ==
      ("k1", 10) +: (2 to 7).map(i => (s"k$i", i)))
  }

  test("an upsert whose matched rows all fail their clause commits only its inserts") {
    val t = VersionedTable.create(spark,
      (1 to 6).map(i => (s"k$i", i)).toDF("key", "val").repartition(3), tmpDir() + "/tupsert-ins")
    val (v0, live) = (t.currentVersion, t.liveEntries.map(_.path).toSet)
    // an unchecked source: its probe touches every file a key matches
    val src = Seq(("k1", 1), ("k2", 2), ("k8", 8)).toDF("key", "nv").alias("s")
    val m = t.alias("e").merge(src, "e.key = s.key")
      .whenMatchedUpdate(condition = "e.val <> s.nv", set = Map("val" -> "s.nv"))
      .whenNotMatchedInsert(Map("key" -> "s.key", "val" -> "s.nv"))
      .execute()
    assert(m("sourceKeysUnique") == "unchecked" && m("numTargetRowsUpdated") == "0" &&
      m("numTargetRowsInserted") == "1" && m("numTargetFilesRemoved") == "0" &&
      m("numTargetFilesAdded") == "1", s"$m")
    assert(live.subsetOf(t.liveEntries.map(_.path).toSet), "no file is removed")
    assert(t.readChanges(v0).as[(String, Int)].collect().toSeq == Seq(("k8", 8)))
  }

  test("merge records its source, broadcast, join and uniqueness decisions") {
    import org.apache.spark.storage.StorageLevel
    def lastMetrics(t: VersionedTable): Map[String, String] =
      t.history(1).select("operationMetrics").as[Map[String, String]].head()
    // planning decides without writing: inside a transaction that stages
    // nothing, no version is published and no data file appears
    def plan(t: VersionedTable, m: MergeBuilder,
             src: org.apache.spark.sql.DataFrame): MergePlan = {
      val (v, files) = (t.currentVersion, dataFiles(t.root))
      val p = t.transaction(tx => t.planMerge(tx, m, src))
      assert(t.currentVersion == v && dataFiles(t.root) == files)
      p
    }
    // three files, so the source stats pass runs and fills the cache
    // before the broadcast decision reads its size
    val t = VersionedTable.create(spark,
      (1 to 30).map(i => (s"k$i", i)).toDF("key", "val").repartition(3),
      tmpDir() + "/tdecide")

    // update-only from a groupBy on the key: cached, unique by plan, and
    // the small cached source is broadcast into the left-outer rewrite
    val agg = Seq(("k1", 10), ("k1", 7), ("k3", 30)).toDF("key", "v")
      .groupBy("key").agg(min("v").as("minv")).alias("s")
    val update = t.alias("e").merge(agg, "e.key = s.key")
      .whenMatchedUpdate(set = Map("val" -> "s.minv"))
    // the merge persists an aggregate source itself; the plan alone does not
    agg.persist(StorageLevel.MEMORY_AND_DISK)
    val p1 = try plan(t, update, agg) finally agg.unpersist(true)
    update.execute()
    val m1 = lastMetrics(t)
    assert(p1.metrics.toSet.subsetOf(m1.toSet), s"plan ${p1.metrics} vs commit $m1")
    assert(m1("rewriteJoinType") == "left_outer")
    assert(m1("sourceCached") == "true")
    assert(m1("sourceBroadcast") == "true")
    assert(m1("sourceKeysUnique") == "plan")
    assert(t.read.filter($"key" === "k1").select("val").as[Int].head() == 7)

    // update + insert from a plain frame: the left-outer rewrite plus the
    // anti-join; an uncached source is not broadcast, and nothing in a
    // local relation's plan proves its keys unique, so the probe checks
    // per target row
    val plain = Seq(("k2", 20), ("k99", 99)).toDF("key", "v").alias("s")
    val upsert = t.alias("e").merge(plain, "e.key = s.key")
      .whenMatchedUpdate(set = Map("val" -> "s.v"))
      .whenNotMatchedInsert(values = Map("key" -> "s.key", "val" -> "s.v"))
    val p2 = plan(t, upsert, plain)
    upsert.execute()
    val m2 = lastMetrics(t)
    assert(p2.metrics.toSet.subsetOf(m2.toSet), s"plan ${p2.metrics} vs commit $m2")
    assert(m2("rewriteJoinType") == "left_outer")
    assert(m2("sourceBroadcast") == "false")
    assert(m2("sourceCached") == "false")
    assert(m2("sourceKeysUnique") == "unchecked")
    assert(t.read.filter($"key".isin("k2", "k99")).orderBy("key").select("val").as[Int]
      .collect().toSeq == Seq(20, 99))

    // insert-only: the anti-join path records its own join
    val one = Seq(("k100", 100)).toDF("key", "v").alias("s")
    val insert = t.alias("e").merge(one, "e.key = s.key")
      .whenNotMatchedInsert(values = Map("key" -> "s.key", "val" -> "s.v"))
    val p3 = plan(t, insert, one)
    insert.execute()
    val m3 = lastMetrics(t)
    assert(p3.metrics.toSet.subsetOf(m3.toSet), s"plan ${p3.metrics} vs commit $m3")
    assert(m3("insertOnly") == "true" && m3("rewriteJoinType") == "left_anti")
    assert(m3("sourceBroadcast") == "false")
    assert(t.read.count() == 32)

    // plans no merge above exercises, never executed
    val live = t.liveEntries
    // a non-equi condition prunes nothing and cannot prove uniqueness
    val theta = plan(t, t.alias("e").merge(plain, "e.val > s.v")
      .whenMatchedUpdate(set = Map("val" -> "s.v")), plain)
    assert(theta.candidates == live && theta.skippedByStats == 0)
    assert(theta.keysUnique == "unchecked" && theta.rewrites)
    // a duplicate key: unproven, so the probe must check per row
    val dup = Seq(("k1", 1), ("k1", 2)).toDF("key", "v").alias("s")
    val dupPlan = plan(t, t.alias("e").merge(dup, "e.key = s.key")
      .whenMatchedUpdate(set = Map("val" -> "s.v")), dup)
    assert(dupPlan.keysUnique == "unchecked")
    // ≤2 files: no stats pass runs, so nothing is skipped
    val small = VersionedTable.create(spark,
      Seq(("k1", 1), ("k2", 2)).toDF("key", "val").coalesce(1), tmpDir() + "/tdecide2")
    val tiny = plan(small, small.alias("e").merge(one, "e.key = s.key")
      .whenNotMatchedInsert(values = Map("key" -> "s.key", "val" -> "s.v")), one)
    assert(tiny.candidates == small.liveEntries && tiny.skippedByStats == 0)
    assert(tiny.keysUnique == "unchecked" && !tiny.rewrites)
  }

  test("merge key uniqueness from the plan: filters and per-key windows") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    val t = VersionedTable.create(spark,
      Seq(("k1", 1), ("k2", 2), ("k3", 3)).toDF("key", "val").repartition(3), tmpDir() + "/tuniq")
    def upsert(src: DataFrame) = t.alias("e").merge(src.alias("s"), "e.key = s.key")
      .whenMatchedUpdate(set = Map("val" -> "s.v"))
      .whenNotMatchedInsert(values = Map("key" -> "s.key", "val" -> "s.v"))
    def unique(src: DataFrame): String =
      t.transaction(tx => t.planMerge(tx, upsert(src), src.alias("s"))).keysUnique
    val rows = Seq(("k1", 10), ("k1", 11), ("k2", 20), ("k4", 40)).toDF("key", "v")
    val byKey = Window.partitionBy("key")
    val grouped = rows.groupBy("key").agg(max("v").as("v"))
    val nullKeyed = rows.select(lit(null).cast("string").as("key"), col("v"))

    // proven: the probe skips the per-row check
    assert(unique(grouped.filter($"v" > 0)) == "plan", "a filter keeps its child's uniqueness")
    val onlyOnce = rows.withColumn("c", count(lit(1)).over(byKey)).filter($"c" === 1).drop("c")
    assert(unique(onlyOnce) == "plan", "count(1) = 1 over the whole key partition")
    val firstPerKey = rows.withColumn("rn", row_number().over(byKey.orderBy($"v".desc)))
      .filter($"rn" === 1).drop("rn")
    assert(unique(firstPerKey) == "plan", "row_number() = 1 per key")

    // a union is unproven, also when all its arms but one have NULL keys
    assert(unique(nullKeyed.union(grouped)) == "unchecked", "NULL-key arms")
    assert(unique(rows.selectExpr("NULL as key", "v").union(onlyOnce)) == "unchecked",
      "a NULL-literal arm and a deduped arm")
    // and merges correctly under the probe's per-row check: k1 dropped by
    // the dedup, k2 updated, k4 inserted, the NULL-key rows all inserted
    upsert(nullKeyed.union(onlyOnce)).execute()
    assert(t.history(1).select("operationMetrics").as[Map[String, String]]
      .head()("sourceKeysUnique") == "unchecked")
    assert(t.read.filter($"key".isNotNull).orderBy("key").as[(String, Int)].collect().toSeq ==
      Seq(("k1", 1), ("k2", 20), ("k3", 3), ("k4", 40)))
    assert(t.read.filter($"key".isNull).count() == rows.count())

    // unproven: each takes the probe's cardinality check, which rejects
    // the duplicate key k1 the shape lets through
    val dupArms = grouped.union(grouped)
    val twoPerKey = rows.withColumn("c", count(lit(1)).over(byKey)).filter($"c" === 2).drop("c")
    val byNonKey = rows.withColumn("c", count(lit(1)).over(Window.partitionBy("v")))
      .filter($"c" === 1).drop("c")
    val perRow = rows.withColumn("c", count(lit(1)).over(byKey.rowsBetween(0, 0)))
      .filter($"c" === 1).drop("c")
    val orOnce = rows.withColumn("c", count(lit(1)).over(byKey))
      .filter($"c" === 1 || $"v" > 0).drop("c")
    for ((name, src) <- Seq("two unique arms with overlapping keys" -> dupArms,
                            "count(1) = 2" -> twoPerKey,
                            "a window partitioned by a non-key" -> byNonKey,
                            "a one-row frame" -> perRow,
                            "count(1) = 1 under an OR" -> orOnce)) {
      assert(unique(src) == "unchecked", name)
      val e = intercept[IllegalStateException](upsert(src).execute())
      assert(e.getMessage.contains("multiple source rows matched the same target row"), name)
    }
  }

  test("an expensive merge source is unpersisted after the merge, also when it throws") {
    import org.apache.spark.storage.StorageLevel
    val t = VersionedTable.create(spark,
      Seq(("k1", 1), ("k2", 2)).toDF("key", "val"), tmpDir() + "/trelease")
    val agg = Seq(("k1", 10), ("k2", 20)).toDF("key", "v")
      .groupBy("key").agg(max("v").as("v")).alias("s")
    t.alias("e").merge(agg, "e.key = s.key")
      .whenMatchedUpdate(set = Map("val" -> "s.v")).execute()
    assert(t.history(1).select("operationMetrics").as[Map[String, String]]
      .head()("sourceCached") == "true", "the aggregate source must be persisted")
    assert(agg.storageLevel == StorageLevel.NONE)

    // grouped by more than the join key: not unique by plan, and the
    // probe's cardinality check throws on the duplicate
    val dup = Seq(("k1", "x", 1), ("k1", "y", 2)).toDF("key", "g", "v")
      .groupBy("key", "g").agg(max("v").as("v")).alias("s")
    val e = intercept[IllegalStateException] {
      t.alias("e").merge(dup, "e.key = s.key")
        .whenMatchedUpdate(set = Map("val" -> "s.v")).execute()
    }
    assert(e.getMessage.contains("multiple source rows matched the same target row"))
    assert(dup.storageLevel == StorageLevel.NONE)
  }

  test("NULL merge keys in source never match (items staging trick J6)") {
    val path = tmpDir() + "/t8"
    val t = VersionedTable.create(spark,
      Seq(("k1", "old", true)).toDF("key", "val", "is_current"), path)
    val staged = Seq(
      (null.asInstanceOf[String], "k1", "new"), // NULL mergeKey → insert
      ("k1", "k1", "new") // keyed → update path
    ).toDF("mergeKey", "key", "val").alias("staged")
    t.alias("existing")
      .merge(staged, "existing.key = staged.mergeKey")
      .whenMatchedUpdate(condition = "existing.is_current = true",
        set = Map("is_current" -> "false"))
      .whenNotMatchedInsert(values = Map(
        "key" -> "staged.key", "val" -> "staged.val", "is_current" -> "true"))
      .execute()
    val rows = t.read.collect()
    assert(rows.length == 2)
    assert(t.read.filter($"is_current" === true).count() == 1)
    assert(t.read.filter($"is_current" === false).count() == 1)
  }

  test("footer stats enable file-level data skipping on unpartitioned columns") {
    val path = tmpDir() + "/t9"
    // range-partitioned write → disjoint id ranges per file, so stats
    // pruning has something to skip
    val df = spark.range(0, 10000)
      .repartitionByRange(8, $"id")
      .selectExpr("id", "cast(id % 7 AS double) AS v")
    val t = VersionedTable.create(spark, df, path)
    val (cand, _, total) = Candidates(t, "id", 100, 200)
    assert(total >= 8, s"expected >=8 files, got $total")
    assert(cand.size < total,
      s"stats should prune files: kept ${cand.size} of $total")
    // pruned read ≡ full filter, and the scan reads exactly the candidates
    val pruned = t.read.filter($"id".between(100, 200))
    assert(Candidates.scanned(pruned) == cand.size)
    assert(pruned.count() == 101)
    assert(pruned.agg(org.apache.spark.sql.functions.min("id"),
      org.apache.spark.sql.functions.max("id")).collect()(0).toSeq == Seq(100L, 200L))
    // stats survive the log round-trip (fresh handle)
    val t2 = VersionedTable.forPath(spark, path)
    assert(Candidates(t2, "id", 9999, 10001)._1.size < total)
    // a column with no stats falls back to keeping every file
    assert(Candidates(t2, "no_such_col", 0, 1)._1.size == total)
  }

  test("data skipping is type-aware: timestamp/date/decimal bounds never lose rows") {
    val path = tmpDir() + "/t10"
    // timestamps across 2023-01-01..2023-01-31, range-partitioned so files
    // hold disjoint time ranges; parquet stringifies these stats in ISO
    // 'T' form — a lexical compare against 'yyyy-MM-dd HH:mm:ss' bounds
    // would wrongly skip every file ('T' > ' ')
    val df = spark.range(0, 744) // hours in January
      .selectExpr(
        "id",
        "timestamp'2023-01-01 00:00:00' + make_interval(0,0,0,0,cast(id AS int),0,0) AS ts",
        "date_add(date'2023-01-01', cast(id / 24 AS int)) AS d",
        "cast(id AS decimal(18,2)) / 100 AS amt")
      .repartitionByRange(8, $"id")
    val t = VersionedTable.create(spark, df, path)

    // timestamp bounds as string, java.sql.Timestamp, and Instant
    val lo = "2023-01-10 00:00:00"
    val hi = "2023-01-12 23:00:00"
    // expected counts come from the source frame: every table read prunes
    val expected = df.filter($"ts".between(lo, hi)).count()
    assert(expected == 72)
    assert(t.read.filter($"ts".between(lo, hi)).count() == expected)
    assert(t.read.filter($"ts".between(
      java.sql.Timestamp.valueOf(lo), java.sql.Timestamp.valueOf(hi))).count() == expected)

    // date bounds
    val dExpected = df.filter($"d".between("2023-01-10", "2023-01-12")).count()
    assert(t.read.filter($"d".between("2023-01-10", "2023-01-12")).count() == dExpected)
    assert(t.read.filter($"d".between(
      java.sql.Date.valueOf("2023-01-10"), java.sql.Date.valueOf("2023-01-12"))).count() == dExpected)

    // decimal bounds
    val aExpected = df.filter($"amt".between(1.0, 2.0)).count()
    assert(t.read.filter($"amt".between("1.00", "2.00")).count() == aExpected)

    // and skipping still actually prunes on the typed column when stats
    // are usable (conservative keep-all is correct but notes the miss)
    val (cand, _, total) = Candidates(t, "ts", lo, hi)
    assert(cand.size <= total)
  }

  test("timestamp stats are compared as instants, whatever the JVM's default zone") {
    val path = tmpDir() + "/ttz"
    val df = spark.range(0, 48).selectExpr("id",
      "timestamp'2023-01-01 00:00:00' + make_interval(0,0,0,0,cast(id AS int),0,0) AS ts")
      .repartitionByRange(4, $"id")
    val t = VersionedTable.create(spark, df, path)
    // footer stats carry a +0000 offset: read as wall-clock time eight
    // hours west, every file's range would shift past rows it holds
    val jvm = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/Los_Angeles"))
    try {
      for (bound <- Seq("2023-01-01 03:00:00", "2023-01-01 13:00:00", "2023-01-02 20:00:00")) {
        val lookup = t.read.filter($"ts" <= bound)
        assert(lookup.count() == df.filter($"ts" <= bound).count(), bound)
      }
      // a DML bound is a typed literal: the first file must not be skipped
      assert(t.delete("ts <= timestamp'2023-01-01 03:00:00'") == 4)
    } finally java.util.TimeZone.setDefault(jvm)
  }

  test("partitioned reads: partition-only, mixed and NULL partition filters prune from the log") {
    val path = tmpDir() + "/tpart"
    // 3 partition values (one NULL, two with a '+' the writer leaves
    // unescaped) × 4 id-range files each
    val df = spark.range(0, 600).selectExpr("id",
      "cast(id AS string) AS s",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE concat('a+', id % 3) END AS p")
    val t = VersionedTable.create(spark, df.repartitionByRange(4, $"id"), path, Seq("p"))
    val byPart = t.liveEntries.groupBy(_.partitionValues("p"))
    assert(byPart.keySet == Set("a+1", "a+2", "__HIVE_DEFAULT_PARTITION__"))
    assert(byPart.values.forall(_.size == 4))

    // partition-only: the other partitions' files are never listed
    val onlyA1 = t.read.filter($"p" === "a+1")
    assert(Candidates.scanned(onlyA1) == 4)
    assert(onlyA1.collect().toSet == df.filter($"p" === "a+1").collect().toSet)

    // mixed: partition filter, then stats pruning inside the partition
    val mixed = t.read.filter($"p" === "a+1" && $"id" < 100)
    val statsCand = t.pruneFiles(byPart("a+1"), t.schema, Seq(("id", null, 99L)))._1
    assert(statsCand.size < 4, s"id < 100 must prune inside the partition: ${statsCand.size}")
    assert(Candidates.scanned(mixed) == statsCand.size)
    assert(mixed.collect().toSet == df.filter($"p" === "a+1" && $"id" < 100).collect().toSet)

    // NULL partition value: reads as NULL, selected only by IS NULL
    val nulls = t.read.filter($"p".isNull)
    assert(Candidates.scanned(nulls) == 4)
    assert(nulls.count() == 200)
    assert(t.read.filter($"id" === 3).select("p").head().isNullAt(0))
    assert(t.read.select("p").distinct().collect().map(r => Option(r.getString(0))).toSet ==
      Set(None, Some("a+1"), Some("a+2")))
  }

  test("partition values come from the file paths, not an older log's URL-decoded map") {
    val path = tmpDir() + "/toldlog"
    val t0 = VersionedTable.create(spark,
      spark.range(0, 40).selectExpr("id", "concat('a+', id % 2) AS p"), path, Seq("p"))
    assert(t0.liveEntries.map(_.partitionValues("p")).toSet == Set("a+0", "a+1"))
    // logs written before partition dirs were unescaped hold `a+1` as `a 1`
    val log = java.nio.file.Paths.get(path, "_graft_log", f"${0L}%020d.json")
    val json = new String(Files.readAllBytes(log), "UTF-8")
    val old = json.replace("\"p\":\"a+", "\"p\":\"a ")
    assert(old != json)
    Files.write(log, old.getBytes("UTF-8"))
    val t = VersionedTable.forPath(spark, path)
    assert(t.liveEntries.map(_.partitionValues("p")).toSet == Set("a 0", "a 1"))

    assert(t.read.select("p").distinct().as[String].collect().toSet == Set("a+0", "a+1"))
    assert(t.read.filter($"p" === "a+1").count() == 20)
    assert(t.read.filter($"p" === "a 1").count() == 0)
    assert(t.delete("p = 'a+1' AND id < 10") == 5)
    assert(t.update("p = 'a+0'", Map("id" -> "id + 100")) == 20)
    assert(t.read.filter($"p" === "a+0").agg(min("id")).as[Long].head() == 100L)
    assert(t.read.count() == 35)
  }

  test("a file's stats merge its row groups in the column's order") {
    val path = tmpDir() + "/trowgroups"
    // one file, two row groups: "2".."101", then "102".."199". As numbers
    // "199" is the larger max; as the strings they are, "99" is
    val keys = (2 until 200).map(_.toString)
    spark.conf.set("parquet.block.size", "1") // a row group per size check (100 rows)
    val t = try VersionedTable.create(spark, keys.toDF("s").coalesce(1), path)
      finally spark.conf.unset("parquet.block.size")
    assert(t.liveEntries.size == 1)
    val fe = t.liveEntries.head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        t.qualified(fe), spark.sparkContext.hadoopConfiguration))
    try assert(reader.getFooter.getBlocks.size == 2) finally reader.close()
    val st = fe.stats.get("s")
    assert((st.min, st.max, st.nullCount) == ("10", "99", 0L))
    assert(t.read.filter($"s" === "99").count() == 1)
    assert(t.delete("s = '99'") == 1)
    assert(t.read.count() == keys.size - 1)
  }

  test("read schema: partition columns last, every field nullable, empty reads included") {
    val path = tmpDir() + "/tschema"
    val df = Seq((1, 10L, "a"), (2, 20L, "b")).toDF("p", "id", "s")
    assert(!df.schema("id").nullable)
    val t = VersionedTable.create(spark, df, path, Seq("p"))
    assert(t.schema.fieldNames.toSeq == Seq("p", "id", "s"))
    val read = t.read.schema
    assert(read.fieldNames.toSeq == Seq("id", "s", "p"))
    assert(read.forall(_.nullable))
    assert(read("p").dataType == t.schema("p").dataType)
    // a read of no files has the same columns
    assert(t.readChanges(t.currentVersion).schema == read)
    assert(t.readChanges(t.currentVersion).count() == 0)
  }

  test("readVersion of vacuumed files throws at the action, never returns partial rows") {
    val path = tmpDir() + "/tvac"
    val t = VersionedTable.create(spark,
      spark.range(0, 100).repartitionByRange(2, $"id").selectExpr("id"), path)
    assert(t.liveEntries.size == 2)
    // rewrites only the file holding ids < 10; vacuum then deletes it
    assert(t.delete("id < 10") == 10)
    assert(t.vacuum(retainVersions = 1) == 1)
    val old = t.readVersion(0) // planning reads only the log
    val e = intercept[Exception](old.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]) ||
      e.getMessage.contains("FILE_NOT_EXIST"), e.toString)
    intercept[Exception](old.count())
    assert(t.read.count() == 90)
  }

  test("DELETE, UPDATE and MERGE on a table whose root path contains a space") {
    val root = Files.createTempDirectory("graft sp").toString
    val t = VersionedTable.create(spark,
      spark.range(0, 200).selectExpr("id", "id % 10 AS grp", "id AS v").repartition(2),
      root + "/t").as("t")
    assert(t.delete("grp = 7") == 20)
    assert(t.update("grp = 3", Map("v" -> "-1")) == 20)
    t.merge(Seq((5L, -5L)).toDF("id", "v").as("s"), "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v")).execute()
    assert(t.read.count() == 180)
    assert(t.read.filter($"v" === -1).count() == 20)
    assert(t.read.filter($"id" === 5).select("v").as[Long].head() == -5L)
  }

  test("an insert-only merge whose stats prune every target file packs its inserts") {
    // the header job's daily insert shape: a cached batch of new keys past
    // every file's range, so no candidate file remains; its 4 partitions
    // must not become 4 files per table partition
    val t = VersionedTable.create(spark,
      spark.range(0, 5000).selectExpr("id", "cast(id % 3 AS int) AS y").repartition(3),
      tmpDir() + "/tpack", Seq("y")).as("e")
    val batch = spark.range(10000, 10500).selectExpr("id", "cast(id % 3 AS int) AS y")
      .repartition(4).cache()
    try {
      val m = t.merge(batch.as("s"), "e.id = s.id")
        .whenNotMatchedInsert(Map("id" -> "s.id", "y" -> "s.y")).execute()
      assert(m("numTargetFilesSkippedByStats").toInt == m("numTargetFilesUntouched").toInt)
      assert(m("numTargetFilesAdded") == "3")
      assert(t.read.count() == 5500)
    } finally batch.unpersist()
  }

  test("an insert-only merge with nothing to insert adds no file") {
    val path = tmpDir() + "/tempty"
    val t = VersionedTable.create(spark,
      spark.range(0, 300).selectExpr("id", "cast(id AS string) AS v").repartition(3), path).as("e")
    val before = t.liveEntries.map(_.path).toSet
    assert(before.size == 3)
    val empty = spark.range(0).selectExpr("id AS k", "cast(id AS string) AS nv")
    val m = t.merge(empty.as("s"), "e.id = s.k")
      .whenNotMatchedInsert(Map("id" -> "s.k", "v" -> "s.nv")).execute()
    assert(m("insertOnly") == "true" && m("numTargetRowsInserted") == "0")
    assert(m("numTargetFilesAdded") == "0", s"got $m")
    assert(t.liveEntries.map(_.path).toSet == before)
    // the empty file the writer left is deleted, not just unreferenced
    val onDisk = Files.walk(java.nio.file.Paths.get(path, "data")).iterator()
    assert(Iterator.continually(onDisk).takeWhile(_.hasNext).map(_.next())
      .count(_.toString.endsWith(".parquet")) == 3)
  }

  test("merge prunes target files by source key-range stats") {
    val path = tmpDir() + "/t11"
    // 8 files with disjoint id ranges (range partitioning) — the merge
    // source's keys fall inside ONE file's range, so stats must keep the
    // probe/anti-join away from the other 7
    val df = spark.range(0, 8000)
      .repartitionByRange(8, $"id")
      .selectExpr("id", "cast(id AS string) AS v")
    val t = VersionedTable.create(spark, df, path)
    val total = t.history(1).select("operationMetrics")
      .as[Map[String, String]].head()("numFiles").toInt
    assert(total >= 8)

    // update merge: keys 1000..1019
    t.alias("e")
      .merge(spark.range(1000, 1020).selectExpr("id AS k", "'upd' AS nv").alias("s"),
        "e.id = s.k")
      .whenMatchedUpdate(set = Map("v" -> "s.nv"))
      .execute()
    val m1 = t.history(1).select("operationMetrics").as[Map[String, String]].head()
    assert(m1("numTargetFilesSkippedByStats").toInt >= total - 2,
      s"expected most files stats-skipped, got $m1")
    assert(m1("numTargetFilesRemoved").toInt <= 2)
    assert(m1("numTargetRowsUpdated").toLong == 20, s"got $m1")
    assert(t.read.filter($"v" === "upd").count() == 20)
    assert(t.read.count() == 8000)

    // insert-only merge: half existing (in-range), half new keys.
    // Source lo = 5500 — well above the first files' ranges even under
    // repartitionByRange boundary-sampling noise, so the low-range files
    // MUST be stats-skipped.
    t.alias("e")
      .merge(spark.range(5500, 5520).unionAll(spark.range(20000, 20010))
        .selectExpr("id AS k", "'ins' AS nv").alias("s"), "e.id = s.k")
      .whenNotMatchedInsert(values = Map("id" -> "s.k", "v" -> "s.nv"))
      .execute()
    val m2 = t.history(1).select("operationMetrics").as[Map[String, String]].head()
    assert(m2("insertOnly") == "true")
    assert(m2("numTargetRowsInserted").toLong == 10, s"got $m2")
    // source range 5500..20009 spans beyond the table max; the files
    // below 5500 must still be skipped
    assert(m2("numTargetFilesSkippedByStats").toInt >= 2, s"got $m2")
    assert(t.read.count() == 8010)
    assert(t.read.filter($"v" === "ins").count() == 10)
  }

  test("compact bin-packs small files; vacuum reclaims unreferenced ones") {
    val path = tmpDir() + "/t12"
    val t = VersionedTable.create(spark,
      spark.range(0, 100).selectExpr("id", "cast(id AS string) AS v"), path)
    // 5 small appends → small-file debris, as per-batch merges produce
    (1 to 5).foreach { i =>
      t.append(spark.range(i * 1000, i * 1000 + 100)
        .selectExpr("id", "cast(id AS string) AS v"))
    }
    val before = t.read.count()
    val filesBefore = t.entries.flatMap(_.add).map(_.path).distinct.size
    val compacted = t.compact()
    assert(compacted >= 2, s"expected small files compacted, got $compacted")
    assert(t.read.count() == before, "compaction must not change data")
    assert(t.history(1).select("operation").as[String].head() == "OPTIMIZE")
    assert(t.read.inputFiles.length < filesBefore)

    // removed files still on disk → old version readable; vacuum deletes
    val oldVersion = 1L
    assert(t.readVersion(oldVersion).count() == 200)
    val deleted = t.vacuum(retainVersions = 1)
    assert(deleted > 0, "vacuum must delete the compacted-away files")
    assert(t.read.count() == before, "current read survives vacuum")
    intercept[Exception] { t.readVersion(oldVersion).count() }
  }

  test("clustered compaction tightens per-file ranges so stats skipping bites") {
    val path = tmpDir() + "/t14"
    // 6 appends each spanning the FULL id range → every file overlaps
    // every range predicate, stats skipping can't prune anything
    val t = VersionedTable.create(spark,
      spark.range(0, 1000)
        .selectExpr("id * 7919 % 6000 AS id", "cast(id AS string) AS v"), path)
    (1 to 5).foreach { i =>
      t.append(spark.range(0, 1000)
        .selectExpr(s"id * 7919 % 6000 AS id", "cast(id AS string) AS v"))
    }
    val (candBefore, _, totalBefore) = Candidates(t, "id", 100, 150)
    assert(candBefore.size == totalBefore, "full-range files can't be pruned")

    val compacted = t.compact(targetBytes = 8 * 1024, clusterBy = Seq("id"))
    assert(compacted > 0)
    val (candAfter, _, totalAfter) = Candidates(t, "id", 100, 150)
    assert(totalAfter > 1, s"compaction should leave several files, got $totalAfter")
    assert(candAfter.size < totalAfter,
      s"clustered files must prune: ${candAfter.size} of $totalAfter")
    // data unchanged
    assert(t.read.count() == 6000)
    val band = t.read.filter($"id".between(100, 150))
    assert(Candidates.scanned(band) == candAfter.size)
    assert(band.count() == 6 * spark.range(0, 1000)
      .selectExpr("id * 7919 % 6000 AS id").filter($"id".between(100, 150)).count())
  }

  test("readChanges returns exactly the rows added since a version") {
    val path = tmpDir() + "/t15"
    val t = VersionedTable.create(spark,
      spark.range(0, 100).selectExpr("id", "cast(id AS string) AS v"), path)
    val v0 = t.currentVersion
    t.append(spark.range(100, 150).selectExpr("id", "cast(id AS string) AS v"))
    // insert-only merge (Phase-B shape): 25 new rows, 50 matched no-ops
    t.alias("e")
      .merge(spark.range(100, 175).selectExpr("id AS k", "cast(id AS string) AS nv")
        .alias("s"), "e.id = s.k")
      .whenNotMatchedInsert(values = Map("id" -> "s.k", "v" -> "s.nv"))
      .execute()
    val changes = t.readChanges(v0)
    assert(changes.count() == 75)
    assert(changes.agg(min("id"), max("id")).collect()(0).toSeq == Seq(100L, 174L))

    // OPTIMIZE adds files but no logical change
    val vBefore = t.currentVersion
    t.compact(targetBytes = 1024 * 1024)
    assert(t.currentVersion > vBefore, "compaction should have committed")
    assert(t.readChanges(vBefore).count() == 0)

    // a rewriting merge cannot be read row-level: throws unless opted in
    t.alias("e")
      .merge(spark.range(0, 10).selectExpr("id AS k", "'x' AS nv").alias("s"),
        "e.id = s.k")
      .whenMatchedUpdate(set = Map("v" -> "s.nv"))
      .execute()
    intercept[IllegalArgumentException] { t.readChanges(vBefore).count() }
    assert(t.readChanges(vBefore, includeRewrites = true).count() > 0)
  }

  test("equiPairs: Catalyst-walk extraction is shape-robust and conservative") {
    val path = tmpDir() + "/t9eq"
    val t = VersionedTable.create(spark, Seq((1, "a")).toDF("id", "v"), path)
    // plain equi conjunction — both pairs, pure
    assert(t.equiPairs("e.k = s.k AND e.ts = s.ts", "e") ==
      (Seq("k" -> "s.k", "ts" -> "s.ts"), true))
    // reversed sides + parentheses + function on the source side: the old
    // string parser bailed on all three, the tree walk handles them
    assert(t.equiPairs("(s.k = e.k)", "e") == (Seq("k" -> "s.k"), true))
    val (fp, fpure) = t.equiPairs("e.k = upper(s.k)", "e")
    assert(fp == Seq("k" -> "upper(s.k)") && fpure)
    // theta residual: the equi pair still prunes, but purity is lost
    val (rp, rpure) = t.equiPairs("e.k = s.k AND e.ts > s.lo", "e")
    assert(rp == Seq("k" -> "s.k") && !rpure)
    // OR, null-safe equality, target-on-both-sides, garbage: no pruning
    assert(t.equiPairs("e.k = s.k OR e.ts = s.ts", "e") == (Seq.empty, false))
    assert(t.equiPairs("e.k <=> s.k", "e") == (Seq.empty, false))
    assert(t.equiPairs("e.k = e.k2", "e")._1.isEmpty)
    assert(t.equiPairs("this is not sql", "e") == (Seq.empty, false))
  }

  test("concurrent writers: each version has exactly one winner, losers fail cleanly") {
    val path = tmpDir() + "/t9cas"
    // retries off: this spec pins the RAW CAS contract (losers surface
    // ConcurrentCommitException); the retry loop is specced separately
    spark.conf.set("spark.graft.commit.maxRetries", "0")
    try {
    VersionedTable.create(spark, Seq((0, "init")).toDF("id", "v"), path)
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val conflicts = new java.util.concurrent.atomic.AtomicInteger
    val successes = new java.util.concurrent.atomic.AtomicInteger
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val threads = (1 to 4).map { tid =>
      val th = new Thread(() => {
        val t = VersionedTable.forPath(spark, path)
        (1 to 3).foreach { i =>
          attempts.incrementAndGet()
          try {
            if (i == 1) barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
            t.append(Seq((tid * 10 + i, s"w$tid-$i")).toDF("id", "v"))
            successes.incrementAndGet()
          } catch {
            case _: ConcurrentCommitException => conflicts.incrementAndGet()
            case e: Throwable => unexpected.add(e)
          }
        }
      })
      th.start(); th
    }
    threads.foreach(_.join(120000))
    assert(unexpected.isEmpty, s"non-conflict failures: ${unexpected}")
    assert(successes.get + conflicts.get == attempts.get)
    val t = VersionedTable.forPath(spark, path)
    // the log is exactly init + one commit per WINNER — no clobbered or
    // skipped versions, and every winner's rows are all present
    assert(t.currentVersion == successes.get.toLong)
    assert(t.history().count() == 1L + successes.get)
    assert(t.read.count() == 1L + successes.get)
    } finally spark.conf.unset("spark.graft.commit.maxRetries")
  }

  test("concurrent merges on disjoint keys BOTH land via auto-retry") {
    val path = tmpDir() + "/t10retry"
    VersionedTable.create(spark,
      Seq((1L, "a", true), (2L, "b", true)).toDF("k", "v", "is_current"), path)
    val v0 = VersionedTable.forPath(spark, path).currentVersion
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    // two writers merge DISJOINT key sets simultaneously: writer 1 updates
    // k=1 and inserts k=11, writer 2 updates k=2 and inserts k=22. The
    // barrier makes both read the same snapshot, so one must lose the CAS
    // and transparently re-run against the winner's state.
    val threads = Seq((1L, 11L, "w1"), (2L, 22L, "w2")).map { case (upd, ins, tag) =>
      val th = new Thread(() => {
        try {
          val t = VersionedTable.forPath(spark, path)
          val src = Seq((upd, s"$tag-upd", true), (ins, s"$tag-ins", true))
            .toDF("k", "v", "is_current")
          barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
          t.alias("t").merge(src.alias("s"), "t.k = s.k")
            .whenMatchedUpdate(set = Map("v" -> "s.v"))
            .whenNotMatchedInsert(values =
              Map("k" -> "s.k", "v" -> "s.v", "is_current" -> "s.is_current"))
            .execute()
        } catch { case e: Throwable => unexpected.add(e) }
      })
      th.start(); th
    }
    threads.foreach(_.join(120000))
    assert(unexpected.isEmpty,
      s"both merges must land (loser retries): ${unexpected}")
    val t = VersionedTable.forPath(spark, path)
    // serialized log: exactly two MERGE commits after the create
    assert(t.currentVersion == v0 + 2, "each merge claims its own version")
    // no lost update: BOTH writers' updates and inserts are present
    val rows = t.read.select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "w1-upd", 2L -> "w2-upd",
      11L -> "w1-ins", 22L -> "w2-ins"),
      s"table must reflect both merges, got $rows")
    // the CAS loser's first-attempt files were cleaned up: every live file
    // in the log exists, and every data file on disk is referenced by SOME
    // log version (no orphans from the losing attempt)
    val logged = t.history().count()
    assert(logged == 3, s"create + 2 merges, got $logged")
  }

  test("merge commit is pinned to its snapshot: a commit landing mid-merge forces a retry, never a stale rewrite") {
    // Deterministic interleaving (not a barrier race): the slow merge's
    // SOURCE blocks inside its first materialization — which happens
    // strictly AFTER the merge transaction's snapshot — until the fast merge has
    // fully committed. The slow body therefore straddles the fast commit,
    // exactly the window where a commit version read at COMMIT time
    // (instead of pinned at snapshot) would publish a rewrite of the
    // stale base file as the next free version: both writers' rewrites
    // of the SAME file land, and every row of it is duplicated. The pin
    // turns that into a CAS loss + transparent retry on fresh state.
    val path = tmpDir() + "/t12pin"
    VersionedTable.create(spark,
      Seq((1L, 0L), (2L, 0L)).toDF("k", "n").coalesce(1), path)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val slowSrc = Seq((1L, 100L)).toDS()
      .mapPartitions { it =>
        VersionedTableSpec.pinEntered.countDown()
        VersionedTableSpec.pinResume.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }.toDF("k", "delta")
    val slow = new Thread(() => {
      try VersionedTable.forPath(spark, path).alias("t")
        .merge(slowSrc.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set = Map("n" -> "t.n + s.delta"))
        .execute()
      catch { case e: Throwable => unexpected.add(e) }
    })
    slow.start()
    // once the source is materializing, the slow merge's snapshot is taken
    assert(VersionedTableSpec.pinEntered.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "slow merge never started materializing its source")
    VersionedTable.forPath(spark, path).alias("t")
      .merge(Seq((2L, 50L)).toDF("k", "delta").alias("s"), "t.k = s.k")
      .whenMatchedUpdate(set = Map("n" -> "t.n + s.delta"))
      .execute() // fast writer commits v1 while the slow body is in flight
    VersionedTableSpec.pinResume.countDown()
    slow.join(120000)
    assert(unexpected.isEmpty, s"slow merge must retry and land: $unexpected")
    val t = VersionedTable.forPath(spark, path)
    assert(t.currentVersion == 2, "create + two serialized merges")
    val rows = t.read.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    assert(rows == Seq(1L -> 100L, 2L -> 50L),
      s"each key exactly once with both updates applied, got $rows")
  }

  test("blind-append CAS loss slides metadata-only: data written once, no rewrite") {
    // Delta's blind-append protocol: an append removes nothing, so a
    // commit landing mid-append is NOT a logical conflict — the already-
    // written files must be re-committed at the next version without
    // re-materializing the source. The counter proves it: one
    // materialization, not the full-body re-run the merge path pays.
    val path = tmpDir() + "/t13slide"
    VersionedTable.create(spark, Seq((1L, "a")).toDF("k", "v"), path)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val slowDf = Seq((2L, "slow")).toDS()
      .mapPartitions { it =>
        VersionedTableSpec.slideCount.incrementAndGet()
        VersionedTableSpec.slideEntered.countDown()
        VersionedTableSpec.slideResume.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }.toDF("k", "v")
    val slow = new Thread(() => {
      try VersionedTable.forPath(spark, path).append(slowDf)
      catch { case e: Throwable => unexpected.add(e) }
    })
    slow.start()
    assert(VersionedTableSpec.slideEntered.await(60, java.util.concurrent.TimeUnit.SECONDS))
    VersionedTable.forPath(spark, path).append(Seq((3L, "fast")).toDF("k", "v"))
    VersionedTableSpec.slideResume.countDown()
    slow.join(120000)
    assert(unexpected.isEmpty, s"slow append must slide and land: $unexpected")
    assert(VersionedTableSpec.slideCount.get() == 1,
      "a non-conflicting CAS loss must NOT re-materialize the append source")
    val t = VersionedTable.forPath(spark, path)
    assert(t.currentVersion == 2)
    assert(t.read.select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("append racing a schema evolution pays the full retry and lands on the widened schema") {
    // the ONE intervening commit shape that genuinely conflicts with an
    // append: concurrent schema change. The slide must refuse (a
    // metadata-only re-commit would publish the STALE schema as newest,
    // rolling the evolution back for every reader) and the full-body
    // retry re-aligns against the widened schema instead.
    val path = tmpDir() + "/t14evo"
    VersionedTable.create(spark, Seq((1L, "a", 0L)).toDF("k", "v", "w")
      .select(col("k"), col("v")), path)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val slowDf = Seq((2L, "slow")).toDS()
      .mapPartitions { it =>
        VersionedTableSpec.evoCount.incrementAndGet()
        VersionedTableSpec.evoEntered.countDown()
        VersionedTableSpec.evoResume.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }.toDF("k", "v")
    val slow = new Thread(() => {
      try VersionedTable.forPath(spark, path).append(slowDf, mergeSchema = true)
      catch { case e: Throwable => unexpected.add(e) }
    })
    slow.start()
    assert(VersionedTableSpec.evoEntered.await(60, java.util.concurrent.TimeUnit.SECONDS))
    VersionedTable.forPath(spark, path) // fast writer EVOLVES the schema
      .append(Seq((3L, "fast", 7L)).toDF("k", "v", "w"), mergeSchema = true)
    VersionedTableSpec.evoResume.countDown()
    slow.join(120000)
    assert(unexpected.isEmpty, s"slow append must retry and land: $unexpected")
    assert(VersionedTableSpec.evoCount.get() == 2,
      "a schema-conflicting CAS loss must re-run the body (re-align to the new schema)")
    val t = VersionedTable.forPath(spark, path)
    assert(t.schema.fieldNames.toSeq == Seq("k", "v", "w"),
      "the concurrent evolution must survive the append")
    val rows = t.read.orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(rows == Seq((1L, -1L), (2L, -1L), (3L, 7L)),
      s"slow row reads NULL for the evolved column, got $rows")
  }

  test("commit.maxRetries = 0 surfaces an append's first CAS loss and leaves no data file") {
    // the budget bounds every CAS loss, a blind append's slide included
    val path = tmpDir() + "/t15zero"
    VersionedTable.create(spark, Seq((1L, "a")).toDF("k", "v"), path)
    spark.conf.set("spark.graft.commit.maxRetries", "0")
    try {
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val slowDf = Seq((2L, "slow")).toDS()
        .mapPartitions { it =>
          VersionedTableSpec.zeroEntered.countDown()
          VersionedTableSpec.zeroResume.await(60, java.util.concurrent.TimeUnit.SECONDS)
          it
        }.toDF("k", "v")
      val slow = new Thread(() => {
        try VersionedTable.forPath(spark, path).append(slowDf)
        catch { case e: Throwable => failure.set(e) }
      })
      slow.start()
      assert(VersionedTableSpec.zeroEntered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      VersionedTable.forPath(spark, path).append(Seq((3L, "fast")).toDF("k", "v"))
      VersionedTableSpec.zeroResume.countDown()
      slow.join(120000)
      assert(failure.get.isInstanceOf[ConcurrentCommitException],
        s"the slow append must surface its CAS loss, got ${failure.get}")
      val t = VersionedTable.forPath(spark, path)
      assert(t.currentVersion == 1)
      assert(rows(t) == Seq((1L, "a"), (3L, "fast")))
      assert(dataFiles(path) == t.liveEntries.map(_.path).toSet,
        "the losing append's files must be deleted")
    } finally spark.conf.unset("spark.graft.commit.maxRetries")
  }

  test("a create that loses the publish to a concurrent create leaves no data file") {
    val path = tmpDir() + "/t16create"
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val slowDf = Seq((1L, "slow")).toDS()
      .mapPartitions { it =>
        VersionedTableSpec.createEntered.countDown()
        VersionedTableSpec.createResume.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }.toDF("k", "v")
    val slow = new Thread(() => {
      try VersionedTable.create(spark, slowDf, path)
      catch { case e: Throwable => failure.set(e) }
    })
    slow.start()
    assert(VersionedTableSpec.createEntered.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val t = VersionedTable.create(spark, Seq((2L, "fast")).toDF("k", "v"), path)
    VersionedTableSpec.createResume.countDown()
    slow.join(120000)
    assert(failure.get.isInstanceOf[ConcurrentCommitException],
      s"the slow create must lose the publish, got ${failure.get}")
    assert(t.currentVersion == 0 && rows(t) == Seq((2L, "fast")))
    assert(dataFiles(path) == t.liveEntries.map(_.path).toSet,
      "the losing create's files must be deleted")
  }

  /** Data-dir-relative paths of the parquet files under `<path>/data`. */
  private def dataFiles(path: String): Set[String] = {
    val data = java.nio.file.Paths.get(path, "data")
    scala.jdk.CollectionConverters.IteratorHasAsScala(Files.walk(data).iterator()).asScala
      .map(data.relativize(_).toString).filter(_.endsWith(".parquet")).toSet
  }
  private def kvTable(name: String): VersionedTable =
    VersionedTable.create(spark,
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(2), tmpDir() + name)
  private def kv(k: Long, v: String) = Seq((k, v)).toDF("k", "v").alias("s")
  private def rows(t: VersionedTable): Seq[(Long, String)] =
    t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("a transaction whose second merge throws publishes nothing and leaves no file") {
    val t = kvTable("/txthrow")
    val (v0, before) = (t.currentVersion, dataFiles(t.root))
    val e = intercept[IllegalStateException] {
      t.alias("t").transaction { tx =>
        tx.merge(kv(1L, "x"), "t.k = s.k").whenMatchedUpdate(Map("v" -> "s.v")).execute()
        // two source rows for one target row: the cardinality check throws
        tx.merge(Seq((2L, "a"), (2L, "b")).toDF("k", "v").alias("s"), "t.k = s.k")
          .whenMatchedUpdate(Map("v" -> "s.v")).execute()
      }
    }
    assert(e.getMessage.contains("multiple source rows matched the same target row"))
    assert(t.currentVersion == v0)
    assert(dataFiles(t.root) == before, "the first step's files must be deleted")
    assert(rows(t) == (1 to 10).map(i => (i.toLong, s"v$i")))
  }

  test("a transaction that loses its CAS re-runs its body and lands one version") {
    val t = kvTable("/txcas")
    val v0 = t.currentVersion
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val out = t.alias("t").transaction { tx =>
      // a concurrent writer commits after the pin, on the first attempt only
      if (attempts.incrementAndGet() == 1)
        VersionedTable.forPath(spark, t.root).append(Seq((100L, "c")).toDF("k", "v"))
      tx.merge(kv(1L, "x"), "t.k = s.k").whenMatchedUpdate(Map("v" -> "s.v")).execute()
      tx.merge(kv(50L, "n"), "t.k = s.k")
        .whenNotMatchedInsert(values = Map("k" -> "s.k", "v" -> "s.v")).execute()
      attempts.get
    }
    assert(out == 2 && attempts.get == 2, "the lost CAS must re-run the body once")
    assert(t.currentVersion == v0 + 2, "the append plus exactly one transaction version")

    val serial = kvTable("/txcasserial")
    serial.append(Seq((100L, "c")).toDF("k", "v"))
    serial.alias("t").merge(kv(1L, "x"), "t.k = s.k").whenMatchedUpdate(Map("v" -> "s.v")).execute()
    serial.alias("t").merge(kv(50L, "n"), "t.k = s.k")
      .whenNotMatchedInsert(values = Map("k" -> "s.k", "v" -> "s.v")).execute()
    assert(rows(t) == rows(serial))
    // the losing attempt's files are gone: every file on disk is in the log
    assert(dataFiles(t.root) == t.entries.flatMap(_.add.map(_.path)).toSet)
  }

  test("a file one step writes and a later step rewrites is deleted after publish") {
    val t = kvTable("/txinterim")
    val before = t.liveEntries.map(_.path).toSet
    var interim = Set.empty[String]
    t.alias("t").transaction { tx =>
      tx.merge(kv(50L, "n"), "t.k = s.k")
        .whenNotMatchedInsert(values = Map("k" -> "s.k", "v" -> "s.v")).execute()
      interim = tx.files.map(_.path).toSet -- before
      tx.merge(kv(50L, "m"), "t.k = s.k").whenMatchedUpdate(Map("v" -> "s.v")).execute()
    }
    assert(interim.nonEmpty && (interim & dataFiles(t.root)).isEmpty)
    // no version references the interim files: the publish adds only the rewrite
    assert(t.entries.last.add.map(_.path).toSet == t.liveEntries.map(_.path).toSet -- before)
    assert(rows(t).last == (50L, "m"))
  }

  test("a transaction of two insert-only merges reads back exactly through readChanges") {
    val t = kvTable("/txchanges")
    val v0 = t.currentVersion
    def insert(tx: Txn, df: org.apache.spark.sql.DataFrame) =
      tx.merge(df.alias("s"), "t.k = s.k")
        .whenNotMatchedInsert(values = Map("k" -> "s.k", "v" -> "s.v")).execute()
    val (m1, m2) = t.alias("t").transaction { tx =>
      (insert(tx, Seq((20L, "a"), (21L, "b")).toDF("k", "v")),
        // 21 was staged by the first step: the second sees it and skips it
        insert(tx, Seq((21L, "b"), (22L, "c"), (5L, "dup")).toDF("k", "v")))
    }
    assert(m1("numTargetRowsInserted") == "2" && m2("numTargetRowsInserted") == "1")
    assert(t.currentVersion == v0 + 1)
    val h = t.history(1).select("operation", "operationMetrics")
      .as[(String, Map[String, String])].head()
    assert(h._1 == "MERGE" && h._2("numTargetRowsInserted") == "3" &&
      h._2("insertOnly") == "true,true")
    assert(t.readChanges(v0).collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((20L, "a"), (21L, "b"), (22L, "c")))
  }

  test("a transaction with a rewriting step makes readChanges throw unless includeRewrites") {
    val t = kvTable("/txrewrite")
    val v0 = t.currentVersion
    t.alias("t").transaction { tx =>
      tx.merge(kv(1L, "x"), "t.k = s.k").whenMatchedUpdate(Map("v" -> "s.v")).execute()
      tx.merge(kv(60L, "n"), "t.k = s.k")
        .whenNotMatchedInsert(values = Map("k" -> "s.k", "v" -> "s.v")).execute()
    }
    val m = t.history(1).select("operationMetrics").as[Map[String, String]].head()
    assert(m("numTargetRowsUpdated") == "1" && m("numTargetRowsInserted") == "1")
    intercept[IllegalArgumentException] { t.readChanges(v0).count() }
    assert(t.readChanges(v0, includeRewrites = true).filter($"k" === 60L).count() == 1)
  }

  test("a multi-step commit records -1 for a count any step could not measure") {
    val t = kvTable("/txunmeasured")
    val tx = new Txn(t, t.currentVersion, t.liveEntries, t.schema, Seq.empty)
    // the first step's written file had an unreadable footer
    tx.stage("MERGE", Seq.empty, Seq.empty,
      Map("numTargetRowsInserted" -> "-1", "numTargetFilesAdded" -> "1"))
    tx.stage("MERGE", Seq.empty, Seq.empty,
      Map("numTargetRowsInserted" -> "5", "numTargetFilesAdded" -> "2"))
    val m = tx.entry(0L).get.operationMetrics
    assert(m("numTargetRowsInserted") == "-1", "an unmeasured step makes the sum unmeasured")
    assert(m("numTargetFilesAdded") == "3")
  }

  test("a torn newest commit: reads fall back, writes refuse, recovery unblocks") {
    val path = tmpDir() + "/t11torn"
    VersionedTable.create(spark, Seq((1L, "a")).toDF("k", "v"), path)
    val t = VersionedTable.forPath(spark, path)
    t.append(Seq((2L, "b")).toDF("k", "v"))
    assert(t.read.count() == 2)
    // simulate a writer that died mid-publish on a store without an
    // atomic rename: the newest commit file exists but holds torn JSON
    val v1 = java.nio.file.Paths.get(path, "_graft_log",
      f"${1L}%020d.json")
    java.nio.file.Files.writeString(v1, """{"version":1,"opera""")
    // reads tolerate: the torn newest is treated as aborted → version 0
    assert(t.read.count() == 1, "reader must fall back to the last parsable version")
    assert(t.history().count() == 1, "history lists only the parsable prefix")
    assert(t.history(1).select("version").as[Long].collect().toSeq == Seq(0L),
      "history(1) skips the torn newest commit")
    // explicit time travel TO the torn version must fail, not lie
    intercept[Exception] { t.readVersion(1L).collect() }
    // writers refuse to commit past the hole
    val e = intercept[IllegalStateException] {
      t.append(Seq((3L, "c")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("recoverAbortedCommit"),
      s"commit failure must point at the recovery path: ${e.getMessage}")
    // every transactional writer refuses the same way, before writing
    val files = dataFiles(path)
    val writers: Seq[(String, () => Any)] = Seq(
      "delete" -> (() => t.delete("k = 1")),
      "update" -> (() => t.update("k = 1", Map("v" -> "'z'"))),
      "merge" -> (() => t.alias("t").merge(Seq((1L, "m")).toDF("k", "v").alias("s"), "t.k = s.k")
        .whenMatchedUpdate(Map("v" -> "s.v")).execute()),
      "compact" -> (() => t.compact(clusterBy = Seq("k"))),
      "restoreToVersion" -> (() => t.restoreToVersion(0L)))
    writers.foreach { case (name, write) =>
      val w = intercept[IllegalStateException](write())
      assert(w.getMessage.contains("recoverAbortedCommit"),
        s"$name must point at the recovery path: ${w.getMessage}")
      assert(dataFiles(path) == files, s"$name wrote a data file")
    }
    // recovery deletes the torn file; the version is re-claimable
    assert(t.recoverAbortedCommit(), "torn newest commit must be recoverable")
    assert(!t.recoverAbortedCommit(), "a parsable newest commit is never touched")
    t.append(Seq((3L, "c")).toDF("k", "v"))
    assert(t.currentVersion == 1L && t.read.count() == 2,
      "the recovered version slot is reused by the next commit")
  }

  test("a torn checkpoint: reads, writers, watermarks and vacuum fall back to the commits") {
    // 13 commits (0..12) of appends, a DELETE and an UPDATE; checkpoint 10
    // holds the file set and the txn watermark
    val intact = tmpDir() + "/tcp"
    VersionedTable.create(spark, Seq((0L, "a")).toDF("k", "v"), intact)
    val built = VersionedTable.forPath(spark, intact)
    (1L to 12L).foreach {
      case 4L => built.delete("k = 1")
      case 7L => built.update("k = 2", Map("v" -> "'u'"))
      case i => built.append(Seq((i, s"v$i")).toDF("k", "v"), txn = Some(("app", i)))
    }
    val cp = java.nio.file.Paths.get("_graft_log", f"${10L}%020d.checkpoint.json")
    assert(Files.isRegularFile(java.nio.file.Paths.get(intact).resolve(cp)))
    val torn = tmpDir() + "/tcp-torn"
    val src = java.nio.file.Paths.get(intact)
    Files.walk(src).forEach(p => Files.copy(p, java.nio.file.Paths.get(torn).resolve(src.relativize(p).toString)))
    def tear(root: String): Unit = {
      val f = java.nio.file.Paths.get(root).resolve(cp)
      val bytes = Files.readAllBytes(f)
      Files.write(f, bytes.take(bytes.length / 2))
    }
    tear(torn)
    val (a, b) = (VersionedTable.forPath(spark, intact), VersionedTable.forPath(spark, torn))
    def versionRows(t: VersionedTable, v: Long) =
      t.readVersion(v).collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rows(b) == rows(a) && rows(a).size == 10)
    assert(versionRows(b, 11L) == versionRows(a, 11L))
    assert(versionRows(b, 5L) == versionRows(a, 5L))
    assert(b.history().count() == a.history().count())
    assert(b.lastTxnBatchId("app") == a.lastTxnBatchId("app") && a.lastTxnBatchId("app").contains(12L))
    Seq(a, b).foreach(_.append(Seq((13L, "v13")).toDF("k", "v"), txn = Some(("app", 13L))))
    assert(rows(b) == rows(a) && b.currentVersion == 13L)
    val (va, vb) = (a.vacuum(retainVersions = 2), b.vacuum(retainVersions = 2))
    assert(vb == va && va > 0, s"vacuum deleted $vb files on the torn copy, $va on the intact one")
    assert(rows(b) == rows(a))
    Seq(a, b).foreach(t => assert(dataFiles(t.root) == t.liveEntries.map(_.path).toSet))
    // once cleanLog has deleted the commits below it, a torn checkpoint
    // cannot be replaced: the read names it
    assert(a.cleanLog(retainVersions = 2) == 10)
    tear(intact)
    val e = intercept[IllegalStateException](VersionedTable.forPath(spark, intact).read)
    assert(e.getMessage.contains(cp.getFileName.toString), e.getMessage)
  }

  test("readChanges below the cleanLog truncation point throws, naming the oldest readable version") {
    val path = tmpDir() + "/tchg"
    VersionedTable.create(spark, Seq((0L, "a")).toDF("k", "v"), path)
    val t = VersionedTable.forPath(spark, path)
    val schemaJson = t.schema.json
    // metadata-only commits 1..35, then five one-row appends 36..40
    (1L to 35L).foreach { v =>
      t.commit(LogEntry(v, System.currentTimeMillis(), "WRITE", schemaJson,
        Seq.empty, Seq.empty, Seq.empty, Map("numFiles" -> "0")))
    }
    (36L to 40L).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    assert(t.cleanLog(retainVersions = 5) > 0) // anchor: checkpoint 30
    for (from <- Seq(-1L, 5L, 28L)) {
      val e = intercept[IllegalArgumentException](t.readChanges(from))
      assert(e.getMessage.contains("oldest readable version is 30"), e.getMessage)
    }
    assert(t.readChanges(29L).count() == 5L && t.readChanges(35L).count() == 5L)
  }

  test("executor-side footer stats equal the driver path exactly") {
    val path = tmpDir() + "/tstats"
    val df = spark.range(0, 2000)
      .selectExpr("id", "cast(id % 7 as int) AS p",
        "cast(id as double) / 3.0 AS x",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('v', id) END AS s")
    val t = VersionedTable.create(spark, df.repartition(4), path, Seq("p"))
    // re-derive the commit's file list from the log and compute stats
    // both ways: threshold above (driver parallel collection) and
    // threshold 1 (forced Spark job); entries must be IDENTICAL
    val entries = t.liveEntries
    assert(entries.size > 8, "partitioned write should produce many files")
    val moved = entries.map(fe =>
      (fe.path, new org.apache.hadoop.fs.Path(s"$path/data/${fe.path}"), fe.sizeBytes))
    val viaDriver = t.statsForMoved(moved, executorThreshold = Int.MaxValue)
    val viaExecutors = t.statsForMoved(moved, executorThreshold = 1)
    assert(viaDriver == viaExecutors,
      "executor-computed footer stats must match the driver path")
    // and both match what the commit recorded at create time
    assert(viaExecutors.sortBy(_.path) == entries.sortBy(_.path))
    // stats are real: the partition files carry id min/max + null counts
    val stats = viaExecutors.head.stats
    assert(stats.nonEmpty && stats.get.contains("id") && stats.get.contains("s"))
  }

  test("data contract check over an empty frame reports clean (no NPE)") {
    import graft.ops.DataContract
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(
        DataContract.HeaderContract.map(f =>
          org.apache.spark.sql.types.StructField(f.name,
            org.apache.spark.sql.types.StringType))))
    assert(DataContract.check(empty, DataContract.HeaderContract).isEmpty)
  }
}

/** Latches for the pinned-merge interleaving test: held in a top-level
  * object so the executor-side closure (same JVM under local[*]) and the
  * driver coordinate without capturing test state. */
object VersionedTableSpec {
  val pinEntered = new java.util.concurrent.CountDownLatch(1)
  val pinResume = new java.util.concurrent.CountDownLatch(1)
  val slideEntered = new java.util.concurrent.CountDownLatch(1)
  val slideResume = new java.util.concurrent.CountDownLatch(1)
  val slideCount = new java.util.concurrent.atomic.AtomicInteger
  val evoEntered = new java.util.concurrent.CountDownLatch(1)
  val evoResume = new java.util.concurrent.CountDownLatch(1)
  val evoCount = new java.util.concurrent.atomic.AtomicInteger
  val zeroEntered = new java.util.concurrent.CountDownLatch(1)
  val zeroResume = new java.util.concurrent.CountDownLatch(1)
  val createEntered = new java.util.concurrent.CountDownLatch(1)
  val createResume = new java.util.concurrent.CountDownLatch(1)
}
