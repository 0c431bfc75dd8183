package graft.tables

/** Test view of [[VersionedTable.pruneFiles]] over a table's live files. */
object Candidates {
  /** @return (candidates after stats and bloom, count after stats alone,
    *         live file count) for the one bound `c` ∈ [lo, hi] */
  def apply(t: VersionedTable, c: String, lo: Any, hi: Any): (Seq[FileEntry], Int, Int) = {
    val files = t.liveEntries
    val (cand, afterStats) = t.pruneFiles(files, t.schema, Seq((c, lo, hi)))
    (cand, afterStats, files.size)
  }
}
