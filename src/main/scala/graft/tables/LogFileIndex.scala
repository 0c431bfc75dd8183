package graft.tables

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, FileStatusWithMetadata, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructType}

/** The file list of one read, straight from the log, as Delta's
  * log-backed file index: sizes and partition values come from the
  * [[FileEntry]]s and their paths, so planning a scan makes no
  * filesystem call. Unpinned (`pinned` None), it lists the newest
  * version each time Spark lists it. [[listFiles]] keeps the partitions
  * the partition filters select (Spark does not re-apply partition-only
  * predicates above a file scan), then — unless `skipping` is off
  * because the caller already pruned the entries for the same filter —
  * skips files by [[VersionedTable.pruneFiles]] on the bounds of the
  * pushed data filters, so every filtered read prunes by footer stats
  * and blooms. A kept file with a deletion vector carries its deleted
  * row indexes as per-file metadata.
  * Partition values are the path's unescaped `k=v` directories, as
  * Spark infers them (not the logged map, which older logs wrote
  * URL-decoded: `a+1` as `a 1`), cast to the partition types;
  * `__HIVE_DEFAULT_PARTITION__` reads as NULL. Two pinned indexes
  * listing the same files with the same deletion vectors are equal, so
  * the cache manager matches two reads of one snapshot and never one
  * from before a DV delete. No root path: an INSERT into the relation
  * needs exactly one, so it fails instead of writing past the log. */
private[tables] final class LogFileIndex(table: VersionedTable,
                                         pinned: Option[Seq[FileEntry]],
                                         schema: StructType,
                                         override val partitionSchema: StructType,
                                         skipping: Boolean) extends FileIndex {
  private def entries: Seq[FileEntry] = pinned.getOrElse(table.liveEntries)

  def hasDeletionVectors: Boolean = entries.exists(_.dv.nonEmpty)

  override def rootPaths: Seq[Path] = Nil
  override def inputFiles: Array[String] = entries.map(table.qualified(_).toUri.toString).toArray
  override def sizeInBytes: Long = entries.map(_.sizeBytes).sum
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val byPartition = entries.groupBy { fe =>
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
    val listed = selected.flatMap(_._2)
    val kept = (if (skipping) table.pruneFiles(listed, schema, table.boundsOf(dataFilters, schema))._1
      else listed).map(_.path).toSet
    val deleted = table.deletedRows(listed.filter(fe => kept(fe.path)))
    selected.map { case (row, files) =>
      PartitionDirectory(row, files.filter(fe => kept(fe.path)).map { fe =>
        FileStatusWithMetadata(new FileStatus(fe.sizeBytes, false, 0, 0, 0L, table.qualified(fe)),
          deleted.get(fe.path).map(VersionedTable.DeletedRows -> _).toMap)
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

  private lazy val files = pinned.map(_.map(fe => (table.qualified(fe), fe.dv)).toSet)
  override def equals(other: Any): Boolean = other match {
    case i: LogFileIndex => (this eq i) || (files.isDefined && files == i.files)
    case _ => false
  }
  override def hashCode(): Int = files.fold(System.identityHashCode(this))(_.hashCode)
}

/** The parquet format of every [[LogFileIndex]] relation, and the one
  * place a deletion vector is applied: per file, inside the scan, as
  * Delta applies it. The reader takes the parquet row index from the
  * parent (the column Spark reads for `_metadata.row_index`, or one it
  * adds) and drops the rows in the file's [[VersionedTable.DeletedRows]].
  * A relation holding a DV'd file reads rows, any other reads exactly
  * as plain parquet. */
private[tables] final class DeletionVectorParquetFormat(@transient index: LogFileIndex)
    extends ParquetFileFormat {
  override def supportBatch(spark: SparkSession, schema: StructType): Boolean =
    !index.hasDeletionVectors && super.supportBatch(spark, schema)

  override def buildReaderWithPartitionValues(
      spark: SparkSession, dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    def reader(required: StructType) = super.buildReaderWithPartitionValues(
      spark, dataSchema, partitionSchema, required, filters, options, hadoopConf)
    // an unpinned index lists the newest version: a DV delete can land
    // between planning a scan to read batches and building or listing it
    def changed = new IllegalStateException(
      "a file gained a deletion vector after this scan was planned; run the query again")
    if (!index.hasDeletionVectors) {
      val read = reader(requiredSchema)
      file => {
        if (file.otherConstantMetadataColumnValues.contains(VersionedTable.DeletedRows)) throw changed
        read(file)
      }
    } else if (options.get(FileFormat.OPTION_RETURNING_BATCH).contains("true")) throw changed
    else {
      val rowIndex = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
      val requested = requiredSchema.fieldNames.contains(rowIndex)
      val withIndex = if (requested) requiredSchema else requiredSchema.add(rowIndex, LongType)
      val at = withIndex.fieldIndex(rowIndex)
      val read = reader(withIndex)
      // rows leave as requiredSchema ++ partitionSchema: skip an added index
      val out = (requiredSchema ++ partitionSchema).zipWithIndex.map { case (f, i) =>
        BoundReference(if (i < at) i else i + 1, f.dataType, f.nullable)
      }
      file => {
        val live = file.otherConstantMetadataColumnValues.get(VersionedTable.DeletedRows)
          .fold(read(file)) { case deleted: Array[Long] =>
            read(file).filter(r => java.util.Arrays.binarySearch(deleted, r.getLong(at)) < 0)
          }
        if (requested) live else live.map(UnsafeProjection.create(out))
      }
    }
  }
}
