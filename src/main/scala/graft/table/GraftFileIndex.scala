package graft.table

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference,
  Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  PartitionDirectory}
import org.apache.spark.sql.types.{StructField, StructType}

/** Spark's `FileIndex` over a snapshot's live files, built from the log
  * alone — the Delta Lake (VLDB 2020) read shape: the scan is planned from
  * the log's file list and per-file stats, never from a directory listing.
  *
  *  - `FileStatus`es come from each AddFile's `size` and
  *    `modificationTime`, so building a frame touches no filesystem and
  *    starts no Spark listing job, however many files the version has.
  *  - Partition values come from `partitionValues`, cast to the declared
  *    partition types in the session time zone, `__HIVE_DEFAULT_PARTITION__`
  *    reading as null — for a shallow clone's escaped "../src/…" files
  *    too.
  *  - `listFiles` prunes when Spark plans the scan: partition filters are
  *    evaluated EXACTLY on each file's partition row (Spark drops them from
  *    the post-scan filter), data filters go through the table's stats
  *    pruning (min/max, null counts, bucket, bloom), which is conservative
  *    and re-checked row by row. So a `.filter` on any version's frame
  *    prunes files, and only the kept files' deletion vectors are ever
  *    decoded (by the tasks that read them).
  *  - A kept file whose legacy DV sidecar entry cannot be attributed
  *    refuses here, on the driver, before any task runs
  *    ([[GraftTable.requireAttributableDv]]).
  *
  * The relation's attributes carry PHYSICAL names under column mapping;
  * data filters are renamed to logical names before the stats pruning,
  * which keys stats by logical name. Two indexes over the same files are
  * equal, so Spark's exchange reuse and cache lookup see equal scans. */
private[table] final class GraftFileIndex(table: GraftTable, snapshot: Snapshot,
    files: Seq[AddFile]) extends FileIndex {

  /** (logical, physical) partition fields, in schema order. */
  private val partFields: Seq[(StructField, StructField)] =
    snapshot.schema.fields.toSeq
      .zip(ColumnMapping.physicalSchema(snapshot.schema).fields)
      .filter { case (lf, _) => snapshot.metaData.partitionColumns.contains(lf.name) }

  override val partitionSchema: StructType =
    StructType(partFields.map { case (_, pf) => pf.copy(nullable = true) })

  private val timeZone = table.spark.conf.get("spark.sql.session.timeZone")

  private lazy val fs =
    new Path(table.path).getFileSystem(table.spark.sparkContext.hadoopConfiguration)

  private lazy val root: Path = qualify(table.path)

  /** The path a listing would report: scheme-qualified and normalized,
    * so a shallow clone's "../src/…" reference names the source file. */
  private def qualify(p: String): Path =
    new Path(p).makeQualified(fs.getUri, fs.getWorkingDirectory)

  private def partitionRow(f: AddFile): InternalRow =
    InternalRow.fromSeq(partFields.map { case (lf, pf) =>
      f.partitionValues.get(pf.name).orElse(f.partitionValues.get(lf.name)) match {
        case None | Some(ExternalCatalogUtils.DEFAULT_PARTITION_NAME) => null
        case Some(v) => Cast(Literal(v), pf.dataType, Some(timeZone)).eval()
      }
    })

  /** Each file with its partition row and status, built once per index. */
  private lazy val entries: Seq[(AddFile, InternalRow, FileStatus)] =
    files.map(f => (f,
      if (partFields.isEmpty) InternalRow.empty else partitionRow(f),
      new FileStatus(f.size, false, 0, 0L, f.modificationTime,
        qualify(s"${table.path}/${f.path}"))))

  override def rootPaths: Seq[Path] = Seq(root)

  override def inputFiles: Array[String] = entries.map(_._3.getPath.toString).toArray

  override def sizeInBytes: Long = files.map(_.size).sum

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val partNames = partitionSchema.fieldNames.toSet
    val byPartition = partitionFilters
      .filter(_.references.forall(a => partNames.contains(a.name)))
      .reduceOption(And) match {
        case None => entries
        case Some(p) =>
          val bound = Predicate.createInterpreted(p.transform {
            case a: AttributeReference =>
              val i = partitionSchema.fieldIndex(a.name)
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
          entries.filter(e => bound.eval(e._2))
      }
    val kept = dataFilters.reduceOption(And) match {
      case None => byPartition
      case Some(p) =>
        val survivors = table.pruneResolved(snapshot, logical(p), byPartition.map(_._1))
          .map(_.path).toSet
        byPartition.filter(e => survivors(e._1.path))
    }
    table.requireAttributableDv(snapshot, kept.map(_._1))
    val groups = mutable.LinkedHashMap.empty[InternalRow, mutable.ArrayBuffer[FileStatusWithMetadata]]
    kept.foreach { case (_, row, st) =>
      groups.getOrElseUpdate(row, mutable.ArrayBuffer.empty) += FileStatusWithMetadata(st)
    }
    groups.map { case (row, fs) => PartitionDirectory(row, fs.toSeq) }.toSeq
  }

  private lazy val physToLog: Map[String, String] =
    if (ColumnMapping.active(snapshot.schema)) ColumnMapping.physToLog(snapshot.schema)
    else Map.empty

  private def logical(e: Expression): Expression =
    if (physToLog.isEmpty) e
    else e.transform {
      case a: AttributeReference if physToLog.contains(a.name) => a.withName(physToLog(a.name))
    }

  private lazy val key: (String, Seq[String]) = (table.path, files.map(_.path))

  override def equals(other: Any): Boolean = other match {
    case g: GraftFileIndex => g.key == key
    case _ => false
  }

  private lazy val keyHash = key.hashCode

  override def hashCode(): Int = keyHash
}
