package graft.tables

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** High-version-count stress over the commit log: proves the
  * checkpointing claims EMPIRICALLY (counting metadata reads through the
  * [[VersionedTable.logJsonReads]] funnel) instead of trusting the
  * Scaladoc — a table with ~1,000 commits must open in
  * O(CheckpointInterval) JSON reads, serve txn watermarks (hit AND miss)
  * within the same bound via the checkpoint's folded `txns` map, and
  * [[VersionedTable.cleanLog]] must keep the log dir bounded without
  * breaking reads, recent time travel, or the surviving watermarks. */
class LogStressSpec extends AnyFunSuite {

  test("1000 commits: snapshot + txn watermark probes stay O(CheckpointInterval); cleanLog bounds the dir") {
    val s = graft.SharedSpark.spark
    val dir = Files.createTempDirectory("graft-logstress").toString
    VersionedTable.create(s, s.range(10).toDF("id"), s"$dir/t")
    val t = VersionedTable.forPath(s, s"$dir/t")
    // an EARLY txn-pinned append: its watermark must later be served from
    // the checkpoint's folded txns map — by then the backward scan stops
    // ~999 commits above this one (and after cleanLog the commit that
    // carried it is physically gone)
    t.append(s.range(1).toDF("id"), txn = Some(("appA", 7L)))
    val schemaJson = t.read.schema.json
    // metadata-only commits (empty add/remove): the log machinery is the
    // thing under stress, not parquet writing
    ((t.currentVersion + 1) to 1000L).foreach { v =>
      t.commit(LogEntry(v, System.currentTimeMillis(), "WRITE", schemaJson,
        Seq.empty, Seq.empty, Seq.empty, Map("numFiles" -> "0")))
    }
    assert(t.currentVersion == 1000L)

    val reads = VersionedTable.logJsonReads
    def counted[T](body: => T): (T, Long) = {
      val before = reads.get(); val r = body; (r, reads.get() - before)
    }

    // fresh handle, no warm state: opening + reading current must replay
    // from the newest checkpoint, not the 1,000-file log
    val (rows, openReads) = counted {
      VersionedTable.forPath(s, s"$dir/t").read.count()
    }
    assert(rows == 11L)
    assert(openReads <= 30,
      s"open-table read cost was $openReads metadata reads — not O(CheckpointInterval)")

    val (hit, hitReads) = counted(t.lastTxnBatchId("appA"))
    assert(hit.contains(7L))
    assert(hitReads <= 30,
      s"txn watermark HIT cost $hitReads reads — checkpoint txns map not consulted")

    // the miss path is the one that used to walk the whole log
    val (miss, missReads) = counted(t.lastTxnBatchId("no-such-app"))
    assert(miss.isEmpty)
    assert(missReads <= 30,
      s"txn watermark MISS cost $missReads reads — not bounded by the checkpoint")

    // a change read parses only the commits in its range
    val (changes, changeReads) = counted(t.readChanges(t.currentVersion - 1))
    assert(changes.count() == 0L)
    assert(changeReads <= 30,
      s"readChanges of the newest commit cost $changeReads reads — it parsed the whole log")

    // ---- cleanLog: metadata truncation keeps the dir bounded ----------
    val logDir = new java.io.File(s"$dir/t/_graft_log")
    def logFiles() = logDir.listFiles().count(_.getName.endsWith(".json"))
    val before = logFiles()
    assert(before > 1000, s"expected ~1000 commit files + checkpoints, saw $before")
    val deleted = t.cleanLog(retainVersions = 20)
    assert(deleted > 900, s"expected >900 files truncated, deleted $deleted")
    val after = logFiles()
    assert(after <= 40, s"log dir still has $after files after cleanLog")

    // everything at/above the anchor keeps working on a fresh handle
    val t2 = VersionedTable.forPath(s, s"$dir/t")
    assert(t2.read.count() == 11L)
    assert(t2.readVersion(990L).count() == 11L) // recent time travel survives
    assert(t2.lastTxnBatchId("appA").contains(7L),
      "txn watermark must survive log truncation via the checkpoint txns map")
    // below the truncation point time travel is GONE, loudly (Delta shape)
    intercept[IllegalArgumentException](t2.readVersion(100L).count())

    // a txn append takes its pin, schema and watermark from one replay
    val (_, appendReads) = counted(t2.append(s.range(1).toDF("id"), txn = Some(("appB", 1L))))
    assert(t2.lastTxnBatchId("appB").contains(1L) && t2.read.count() == 12L)
    assert(appendReads <= 30, s"a txn append cost $appendReads metadata reads")

    graft.GraftSession.deleteRec(new java.io.File(dir))
  }

  test("legacy checkpoint without txns: probes fall back, cleanLog refuses, the next checkpoint self-heals the FULL map") {
    val s = graft.SharedSpark.spark
    val dir = Files.createTempDirectory("graft-legacycp").toString
    VersionedTable.create(s, s.range(5).toDF("id"), s"$dir/t") // v0
    val t = VersionedTable.forPath(s, s"$dir/t")
    t.append(s.range(1).toDF("id"), txn = Some(("appL", 3L))) // v1: the ONLY commit record of appL
    val schemaJson = t.read.schema.json
    def drive(to: Long): Unit =
      ((t.currentVersion + 1) to to).foreach { v =>
        t.commit(LogEntry(v, System.currentTimeMillis(), "WRITE", schemaJson,
          Seq.empty, Seq.empty, Seq.empty, Map("numFiles" -> "0")))
      }
    drive(10L) // checkpoint 10 written (with txns)
    // simulate a checkpoint from BEFORE the txns field existed
    val cp10 = new java.io.File(s"$dir/t/_graft_log/00000000000000000010.checkpoint.json")
    assert(cp10.isFile)
    val json = new String(java.nio.file.Files.readAllBytes(cp10.toPath), "UTF-8")
    val stripped = json.replaceAll(""","txns":\{[^}]*\}""", "")
    assert(stripped != json, "fixture must actually strip the txns field")
    java.nio.file.Files.write(cp10.toPath, stripped.getBytes("UTF-8"))
    // the raw rewrite bypassed ChecksumFileSystem — drop the stale sidecar
    new java.io.File(cp10.getParent, s".${cp10.getName}.crc").delete()

    // a txns-less checkpoint cannot bound the probe: the fallback legacy
    // full scan must still find the true watermark below it
    assert(t.lastTxnBatchId("appL").contains(3L))
    // ...and cleanLog must REFUSE to anchor on it: truncating here would
    // destroy commit 1, the only record of appL's watermark
    assert(t.cleanLog(retainVersions = 1) == 0,
      "cleanLog must not truncate behind a pre-txns legacy checkpoint")

    drive(20L) // checkpoint 20: must self-heal by folding the WHOLE prefix
    assert(t.cleanLog(retainVersions = 1) > 0,
      "a txns-bearing checkpoint is a safe anchor")
    assert(!new java.io.File(s"$dir/t/_graft_log/00000000000000000001.json").exists,
      "the legacy watermark's commit is physically gone")
    val fresh = VersionedTable.forPath(s, s"$dir/t")
    assert(fresh.lastTxnBatchId("appL").contains(3L),
      "the watermark must survive truncation via the healed checkpoint map")
    assert(fresh.read.count() == 6L)
    graft.GraftSession.deleteRec(new java.io.File(dir))
  }
}
