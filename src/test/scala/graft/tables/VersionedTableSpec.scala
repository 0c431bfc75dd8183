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
    // regression: for a target-only full-outer row the delete term is
    // NULL (source cols absent), and an un-coalesced `tPresent && !NULL`
    // filtered the row OUT — silently deleting every unmatched row that
    // happened to share a file with a matched one. One file forces it.
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

  test("merge records its source, broadcast, join and uniqueness decisions") {
    def lastMetrics(t: VersionedTable): Map[String, String] =
      t.history(1).select("operationMetrics").as[Map[String, String]].head()
    // three files, so the source stats agg runs and fills the cache
    // before the broadcast decision reads its size
    val t = VersionedTable.create(spark,
      (1 to 30).map(i => (s"k$i", i)).toDF("key", "val").repartition(3),
      tmpDir() + "/tdecide")

    // update-only from a groupBy on the key: cached, unique by plan, and
    // the small cached source is broadcast into the left-outer rewrite
    val agg = Seq(("k1", 10), ("k1", 7), ("k3", 30)).toDF("key", "v")
      .groupBy("key").agg(min("v").as("minv")).alias("s")
    t.alias("e").merge(agg, "e.key = s.key")
      .whenMatchedUpdate(set = Map("val" -> "s.minv")).execute()
    val m1 = lastMetrics(t)
    assert(m1("rewriteJoinType") == "left_outer")
    assert(m1("sourceCached") == "true")
    assert(m1("sourceBroadcast") == "true")
    assert(m1("sourceKeysUnique") == "plan")
    assert(t.read.filter($"key" === "k1").select("val").as[Int].head() == 7)

    // update + insert from a plain frame: full-outer rewrite, which a
    // broadcast hash join cannot run, and uniqueness from the count
    val plain = Seq(("k2", 20), ("k99", 99)).toDF("key", "v").alias("s")
    t.alias("e").merge(plain, "e.key = s.key")
      .whenMatchedUpdate(set = Map("val" -> "s.v"))
      .whenNotMatchedInsert(values = Map("key" -> "s.key", "val" -> "s.v"))
      .execute()
    val m2 = lastMetrics(t)
    assert(m2("rewriteJoinType") == "full_outer")
    assert(m2("sourceBroadcast") == "false")
    assert(m2("sourceCached") == "false")
    assert(m2("sourceKeysUnique") == "count")

    // insert-only: the anti-join path records its own join
    t.alias("e").merge(Seq(("k100", 100)).toDF("key", "v").alias("s"), "e.key = s.key")
      .whenNotMatchedInsert(values = Map("key" -> "s.key", "val" -> "s.v"))
      .execute()
    val m3 = lastMetrics(t)
    assert(m3("insertOnly") == "true" && m3("rewriteJoinType") == "left_anti")
    assert(m3("sourceBroadcast") == "false")
    assert(t.read.count() == 32)
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

    // grouped by more than the join key: not unique by plan, the count
    // sees the duplicate, and the probe's cardinality check throws
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
    val (cand, total) = t.candidateFiles("id", 100, 200)
    assert(total >= 8, s"expected >=8 files, got $total")
    assert(cand.size < total,
      s"stats should prune files: kept ${cand.size} of $total")
    // pruned read ≡ full filter
    val pruned = t.readWhereBetween("id", 100, 200)
    assert(pruned.count() == 101)
    assert(pruned.agg(org.apache.spark.sql.functions.min("id"),
      org.apache.spark.sql.functions.max("id")).collect()(0).toSeq == Seq(100L, 200L))
    // stats survive the log round-trip (fresh handle)
    val t2 = VersionedTable.forPath(spark, path)
    assert(t2.candidateFiles("id", 9999, 10001)._1.size < total)
    // a column with no stats falls back to keeping every file
    assert(t2.candidateFiles("no_such_col", 0, 1)._1.size == total)
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
    val expected = t.read.filter($"ts".between(lo, hi)).count()
    assert(expected == 72)
    assert(t.readWhereBetween("ts", lo, hi).count() == expected)
    assert(t.readWhereBetween("ts",
      java.sql.Timestamp.valueOf(lo), java.sql.Timestamp.valueOf(hi)).count() == expected)

    // date bounds
    val dExpected = t.read.filter($"d".between("2023-01-10", "2023-01-12")).count()
    assert(t.readWhereBetween("d", "2023-01-10", "2023-01-12").count() == dExpected)
    assert(t.readWhereBetween("d",
      java.sql.Date.valueOf("2023-01-10"), java.sql.Date.valueOf("2023-01-12")).count() == dExpected)

    // decimal bounds
    val aExpected = t.read.filter($"amt".between(1.0, 2.0)).count()
    assert(t.readWhereBetween("amt", "1.00", "2.00").count() == aExpected)

    // and skipping still actually prunes on the typed column when stats
    // are usable (conservative keep-all is correct but notes the miss)
    val (cand, total) = t.candidateFiles("ts", lo, hi)
    assert(cand.size <= total)
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
    val (candBefore, totalBefore) = t.candidateFiles("id", 100, 150)
    assert(candBefore.size == totalBefore, "full-range files can't be pruned")

    val compacted = t.compact(targetBytes = 8 * 1024, clusterBy = Seq("id"))
    assert(compacted > 0)
    val (candAfter, totalAfter) = t.candidateFiles("id", 100, 150)
    assert(totalAfter > 1, s"compaction should leave several files, got $totalAfter")
    assert(candAfter.size < totalAfter,
      s"clustered files must prune: ${candAfter.size} of $totalAfter")
    // data unchanged
    assert(t.read.count() == 6000)
    assert(t.readWhereBetween("id", 100, 150).count() ==
      t.read.filter($"id".between(100, 150)).count())
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
    // strictly AFTER mergeBody's snapshot — until the fast merge has
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
    // recovery deletes the torn file; the version is re-claimable
    assert(t.recoverAbortedCommit(), "torn newest commit must be recoverable")
    assert(!t.recoverAbortedCommit(), "a parsable newest commit is never touched")
    t.append(Seq((3L, "c")).toDF("k", "v"))
    assert(t.currentVersion == 1L && t.read.count() == 2,
      "the recovered version slot is reused by the next commit")
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
}
