package graft.tables

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** The file list of one pinned read, straight from the log, as Delta's
  * log-backed file index: sizes and partition values come from the
  * [[FileEntry]]s and their paths, so planning a scan makes no
  * filesystem call. [[listFiles]] keeps the partitions the partition
  * filters select (Spark does not re-apply partition-only predicates
  * above a file scan), then — unless `skipping` is off because the
  * caller already pruned `entries` for the same filter — skips files by
  * [[VersionedTable.pruneFiles]] on the bounds of the pushed data
  * filters, so every filtered read prunes by footer stats and blooms.
  * Partition values are the path's unescaped `k=v` directories, as
  * Spark infers them (not the logged map, which older logs wrote
  * URL-decoded: `a+1` as `a 1`), cast to the partition types;
  * `__HIVE_DEFAULT_PARTITION__` reads as NULL. Two indexes listing the
  * same files are equal, as two parquet indexes over the same paths are,
  * so the cache manager matches two reads of one snapshot. */
private[tables] final class LogFileIndex(table: VersionedTable,
                                         entries: Seq[FileEntry],
                                         schema: StructType,
                                         override val partitionSchema: StructType,
                                         skipping: Boolean) extends FileIndex {
  private val paths: Seq[Path] = entries.map(table.qualified)
  private lazy val pathSet = paths.toSet

  override def rootPaths: Seq[Path] = paths
  override def inputFiles: Array[String] = paths.map(_.toUri.toString).toArray
  override def sizeInBytes: Long = entries.map(_.sizeBytes).sum
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val byPartition = entries.zip(paths).groupBy { case (fe, _) =>
      val pv = VersionedTable.partitionValuesOf(fe.path)
      partitionSchema.map(f => pv.get(f.name))
    }.toSeq.map { case (pv, files) => (partitionRow(pv), files) }
    val selected = partitionFilters.reduceOption(And).fold(byPartition) { f =>
      val p = Predicate.createInterpreted(f.transform { case a: AttributeReference =>
        val i = partitionSchema.fieldIndex(a.name)
        BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      byPartition.filter { case (row, _) => p.eval(row) }
    }
    val listed = selected.flatMap(_._2.map(_._1))
    val kept = (if (skipping) table.pruneFiles(listed, schema, table.boundsOf(dataFilters, schema))._1
      else listed).map(_.path).toSet
    selected.map { case (row, files) =>
      PartitionDirectory(row, files.collect { case (fe, p) if kept(fe.path) =>
        FileStatusWithMetadata(new FileStatus(fe.sizeBytes, false, 0, 0, 0L, p))
      })
    }
  }

  private def partitionRow(values: Seq[Option[String]]): InternalRow = {
    val tz = table.spark.sessionState.conf.sessionLocalTimeZone
    InternalRow.fromSeq(partitionSchema.zip(values).map { case (f, v) =>
      v.filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
        .map(s => Cast(Literal(s), f.dataType, Some(tz)).eval()).orNull
    })
  }

  override def equals(other: Any): Boolean = other match {
    case i: LogFileIndex => pathSet == i.pathSet
    case _ => false
  }
  override def hashCode(): Int = pathSet.hashCode
}
