package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Test view of [[VersionedTable.pruneFiles]] over a table's live files. */
object Candidates extends AdaptiveSparkPlanHelper {
  /** @return (candidates after stats and bloom, count after stats alone,
    *         live file count) for the one bound `c` ∈ [lo, hi] */
  def apply(t: VersionedTable, c: String, lo: Any, hi: Any): (Seq[FileEntry], Int, Int) = {
    val files = t.liveEntries
    val (cand, afterStats) = t.pruneFiles(files, t.schema, Seq((c, lo, hi)))
    (cand, afterStats, files.size)
  }

  /** Runs `df` and returns how many table data files its executed scans
    * read: the `numFiles` metric of every scan over a [[LogFileIndex]]
    * (a deletion-vector sidecar scan is not one). */
  def scanned(df: DataFrame): Long = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[LogFileIndex] =>
        s.metrics("numFiles").value
    }.sum
  }
}
