package graft.sources

import graft.table.{AddFile, GraftTable, Snapshot}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.types.StructType

/** Storage-partitioned-join scan for Hive-partitioned graft tables: a native
  * DSv2 `Batch` whose input partitions carry their partition-value key
  * (`HasPartitionKey`) and whose `outputPartitioning` reports
  * `KeyGroupedPartitioning` over identity transforms of the table's
  * partition columns — Spark 4's public SPJ surface (the Iceberg pattern).
  *
  * The payoff at 100 TB: a fact-fact equi-join of two graft tables
  * partitioned on the join key plans with ZERO ShuffleExchange — Catalyst
  * groups each side's files by partition value and zips matching groups
  * into co-located join tasks (`spark.sql.sources.v2.bucketing.enabled`,
  * default on in Spark 4; mismatched partition-value sets are handled by
  * `pushPartValues`). Same-key aggregation (`GROUP BY` the partition
  * columns) also elides its exchange, because the reported partitioning
  * already satisfies the required clustering.
  *
  * Decoding reuses the proven executor-side machinery the streaming source
  * and the row-level rewrite scan run on (`GraftParquetReaderFactory`:
  * vectorized parquet, columnar hand-off when no deletion vector interleaves,
  * Hive partition values as constant vectors, column-mapping physical names,
  * evolved-in columns as nulls). Eligibility is decided per scan in
  * `GraftScanBuilder.build` — ineligible shapes (unpartitioned tables,
  * nested/decimal schemas, `_file`/`_row_id` metadata columns, CDF) keep the
  * V1 bridge path unchanged.
  *
  * File pruning composes: `prunePred` (the pushed filters) narrows the
  * planned files through the same stats/bloom/partition skipping as the V1
  * path, and the reported statistics shrink with it so Catalyst can still
  * auto-broadcast a well-pruned side.
  */
class GraftKeyGroupedScan(table: GraftTable, snap: Snapshot,
    required: StructType, prunePred: Option[Column],
    options: Map[String, String] = Map.empty)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsReportStatistics {

  graft.streaming.GraftTableStream.validateSchema(required)

  private val partCols: Seq[String] = snap.metaData.partitionColumns
  /** Hash bucketing (`bucket(N, col)` — graft.table.Bucketing): the key is
    * the file's bucket id and the reported transform is the bucket
    * function served by GraftCatalog (a FunctionCatalog), which is how two
    * bucketed tables join exchange-free on a HIGH-CARDINALITY key. */
  private val bucketSpec: Option[(String, Int)] =
    graft.table.Bucketing.spec(snap.metaData)
  require(partCols.nonEmpty || bucketSpec.isDefined,
    "key-grouped scan requires a partitioned or bucketed table")

  // resolved once: partition-column fields in declared order (key layout)
  private val keyFields = partCols.map(c => snap.schema(c))

  private lazy val files: Seq[AddFile] = prunePred match {
    case Some(p) => scala.util.Try(table.prunedFiles(snap, p)).getOrElse(snap.files)
    case None => snap.files
  }

  /** Partition key of one file: its Hive partition values, Catalyst-encoded
    * in partition-column declaration order (the same order the reported
    * partitioning's identity transforms use). AddFile.partitionValues is
    * keyed by PHYSICAL name (it mirrors the directory names); fall back to
    * the logical name for files logged before the key space was unified —
    * the exact lookup the reader factory's constant row performs. */
  private def keyOf(f: AddFile): InternalRow = {
    // key layout = partition values in declared order, then (when
    // bucketed) the bucket id — matching the transform order reported in
    // outputPartitioning. Bucket-only tables get a one-int key; the
    // partition-by-day-bucket-by-key layout gets (day, bucket).
    val partVals = keyFields.map { fld =>
      val phys = graft.table.ColumnMapping.physicalName(fld)
      val v = f.partitionValues.getOrElse(phys, f.partitionValues(fld.name))
      graft.streaming.GraftTableStream.castPartitionValue(v, fld.dataType)
    }
    val bucketVal = bucketSpec.map(_ =>
      f.partitionValues(graft.table.Bucketing.BucketCol).toInt: Any)
    new GenericInternalRow((partVals ++ bucketVal).toArray[Any])
  }

  private lazy val planned: Array[InputPartition] = {
    // collision verdict over the snapshot's FULL live set, never the
    // pruned subset (a pruned basename twin must still force the refusal
    // for its surviving twin)
    val dv = graft.table.FileOps.dvRefs(table.path, files, snap.files)
    files.map { f =>
      val abs = java.nio.file.Paths.get(table.path, f.path).toString
      GraftKeyedFilePartition(
        graft.streaming.GraftFilePartition(abs, f.partitionValues, f.numRecords,
          dv.get(f.path)),
        keyOf(f)): InputPartition
    }.toArray
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def outputPartitioning(): Partitioning = {
    // identity transforms for the Hive partition columns, then the bucket
    // transform — the same order keyOf encodes the key fields in
    val transforms: Array[org.apache.spark.sql.connector.expressions.Expression] =
      (partCols.map(c =>
        Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression) ++
        bucketSpec.map { case (c, n) =>
          Expressions.bucket(n, c): org.apache.spark.sql.connector.expressions.Expression
        }).toArray
    new KeyGroupedPartitioning(transforms,
      planned.map(_.asInstanceOf[GraftKeyedFilePartition].partitionKey())
        .distinct.length)
  }

  override def planInputPartitions(): Array[InputPartition] = planned

  override def createReaderFactory(): PartitionReaderFactory =
    // columnar is scan-uniform (Spark refuses mixed row/columnar
    // partitions): one DV-carrying file drops the whole scan to the row
    // path, same rule as the group-rewrite scan
    new graft.streaming.GraftParquetReaderFactory(required, partCols,
      files.forall(_.dvPath.isEmpty))

  // log-derived, pruning-aware statistics — identical contract to
  // GraftV1Scan's: without them a small graft side can never auto-broadcast
  private lazy val stats: (Long, Long) =
    (files.map(_.size).sum, files.map(_.liveRecords).sum)

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(stats._1)
      override def numRows(): java.util.OptionalLong =
        // stats-less foreign adds (numRecords = -1) poison the sum —
        // report "unknown" rather than a wrong row count to the optimizer
        if (files.exists(_.numRecords < 0)) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(stats._2)
    }

  override def description(): String =
    s"GraftKeyGroupedScan ${table.path} v${snap.version} " +
      s"keys=${partCols.mkString(",")}"

  /** `readStream` resolves through the same ScanBuilder — serve the exact
    * MicroBatchStream the V1 bridge scan serves (offsets are commit
    * versions; the key grouping is a batch-plan concern only). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    graft.streaming.GraftTableStream.validateSchema(required)
    new graft.streaming.GraftMicroBatchStream(table.path, required, partCols,
      options)
  }
}

/** One data file plus its partition-value key. Wraps (rather than extends)
  * the shared `GraftFilePartition` so the streaming/rewrite scans — whose
  * partitions must NOT advertise `HasPartitionKey` — keep their exact
  * class; `GraftParquetReaderFactory` unwraps either shape. */
case class GraftKeyedFilePartition(file: graft.streaming.GraftFilePartition,
    key: InternalRow) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = file.preferredLocations()
}
