package graft.sources

import java.nio.file.{Files, Paths}
import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.table.{AddFile, FileOps, GraftTable, Snapshot}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.types._

/** Executor-side parquet write for the SQL row-level rewrite (UPDATE /
  * MERGE INTO): the DSv2 `BatchWrite` counterpart of the streaming
  * source's reader — parquet-mr's public Example API, no Spark-internal
  * writer. Each task writes UUID-named files straight into the table
  * directory (Hive partition subdirs for partitioned tables — files are
  * invisible until the commit lands, so no staging is needed), harvests
  * footer stats into AddFiles, and the driver commits one atomic version:
  * scanned files removed + written files added. Native bloom filters are
  * re-enabled per the table's `bloom.columns` property, so DML through
  * SQL keeps the point-lookup index like every other write path. */
class GraftGroupBatchWrite(table: GraftTable, scannedSnap: () => Option[Snapshot],
    plannedFiles: () => Option[Seq[AddFile]],
    schema: StructType, op: String) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val meta = table.snapshot.metaData
    val bloomNdv = meta.properties.getOrElse("bloom.ndv", "100000").toLong
    val blooms = meta.properties.get("bloom.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(c => c -> bloomNdv).toMap
    GraftParquetWriterFactory(table.path,
      GraftWriteSchemas.withTableNullability(schema, table.snapshot.schema),
      meta.partitionColumns, blooms, graft.table.Bucketing.spec(meta))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val snap = scannedSnap().getOrElse(table.snapshot)
    // stats-column cap: executors harvest every footer column in their one
    // pass; the driver drops the log's share here (dataSkipping.numIndexedCols)
    val adds = FileOps.capAddStats(snap.metaData,
      messages.flatMap { case m: GraftWriteMessage => m.adds }.toSeq)
    val constraints = snap.metaData.constraints
    if (constraints.nonEmpty && adds.nonEmpty) {
      // CHECK constraints are enforced on every write path; here the rows
      // were produced by Spark's rewrite plan, so validate the written
      // files before the commit makes them visible.
      val spark = table.spark
      val written = spark.read
        .schema(graft.table.ColumnMapping.physicalSchema(snap.schema))
        .parquet(adds.map(a => s"${table.path}/${a.path}"): _*)
        .select(snap.schema.fields
          .map(graft.table.ColumnMapping.logicalColumn).toSeq: _*)
      constraints.foreach { case (name, expr) =>
        val bad = written.filter(!org.apache.spark.sql.functions.expr(expr)).count()
        if (bad > 0) {
          adds.foreach(a => Files.deleteIfExists(Paths.get(table.path, a.path)))
          throw new IllegalStateException(
            s"CHECK constraint $name ($expr) violated by $bad rewritten row(s)")
        }
      }
    }
    // runtime group filtering narrowed the scan to the matched files —
    // remove exactly those; unmatched files stay live untouched
    table.commitReplace(snap, plannedFiles().getOrElse(snap.files), adds, op)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: GraftWriteMessage =>
        m.adds.foreach(a => Files.deleteIfExists(Paths.get(table.path, a.path)))
      case _ => ()
    }
}

case class GraftWriteMessage(adds: Seq[AddFile]) extends WriterCommitMessage

object GraftWriteSchemas {
  /** The V2 write info hands the QUERY's schema, which Spark marks
    * all-nullable for most sources — the TABLE's nullability is the
    * invariant the executor-side writers must enforce, so overlay it by
    * field name before building a writer factory. */
  def withTableNullability(write: StructType, table: StructType): StructType =
    StructType(write.fields.map(f =>
      table.find(_.name == f.name)
        .map(tf => f.copy(nullable = tf.nullable)).getOrElse(f)))
}

/** `writeStream.format("graft")` / `.toTable("graft.ns.t")`: each epoch's
  * rows land as one atomic APPEND commit (the micro-batch transaction
  * Delta's streaming sink performs). Exactly-once across checkpoint
  * replays: the commit records (queryId, epochId), and a replayed epoch
  * that already committed is skipped — the idempotent-txn pattern, driver
  * side. Files are written executor-side by the same parquet-mr writers
  * the SQL rewrite uses; a failed epoch's files are deleted on abort and
  * were never visible (nothing references them until the commit). */
class GraftStreamingWrite(table: GraftTable, schema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    // the sink's executor-side writers persist the stream's rows verbatim —
    // they cannot (re)compute generation expressions or allocate identity
    // ids, so refuse loudly rather than break the invariant; foreachBatch
    // + append conforms/assigns
    val gen = graft.table.GeneratedColumns.names(table.snapshot.schema) ++
      graft.table.IdentityColumns.names(table.snapshot.schema)
    require(gen.isEmpty,
      s"streaming sink cannot maintain generated/identity columns ${gen.toSeq.sorted.mkString(", ")}; " +
        "stream via foreachBatch { (batch, _) => table.append(batch) } instead")
    require(!table.rowTrackingEnabled(table.snapshot.metaData),
      "streaming sink cannot allocate row ids (rowTracking.enabled); " +
        "stream via foreachBatch { (batch, _) => table.append(batch) } instead")
    // writer-feature gate, once per stream start (the per-epoch commit
    // path deliberately skips the snapshot fold)
    table.gateWrite()
    val meta = table.snapshot.metaData
    val bloomNdv = meta.properties.getOrElse("bloom.ndv", "100000").toLong
    val blooms = meta.properties.get("bloom.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(c => c -> bloomNdv).toMap
    GraftStreamingWriterFactory(table.path,
      GraftWriteSchemas.withTableNullability(schema, table.snapshot.schema),
      meta.partitionColumns, blooms, graft.table.Bucketing.spec(meta))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // the factory-time guards (generated/identity/rowTracking + writer
    // features) re-check at EVERY epoch commit against the current head
    // snapshot — a mid-stream ALTER that enables row tracking or adds a
    // generated/identity column must fail the stream loudly, not commit
    // epochs whose rows lack row-id stamps / identity values. One fold
    // serves these guards, the exactly-once probe below and the commit
    // (whose writer-feature gate reads its protocol).
    val head = table.snapshot
    val headMeta = head.metaData
    val genNow = graft.table.GeneratedColumns.names(head.schema) ++
      graft.table.IdentityColumns.names(head.schema)
    if (genNow.nonEmpty || table.rowTrackingEnabled(headMeta)) {
      messages.foreach {
        case m: GraftWriteMessage =>
          m.adds.foreach(a => Files.deleteIfExists(Paths.get(table.path, a.path)))
        case _ => ()
      }
      throw new IllegalStateException(
        "graft streaming sink: table evolved mid-stream to require " +
          "engine-maintained columns (generated/identity/rowTracking) — " +
          "restart the stream via foreachBatch { (b, _) => table.append(b) }")
    }
    // exactly-once epoch guard: the snapshot's folded SetTransaction map
    // (appId -> latest committed epoch) — O(1) per epoch, bounded by
    // checkpoints, instead of re-parsing every commit file of the log.
    // Tables written before Txn actions existed recorded (txnAppId, epoch)
    // only in commitInfo operationMetrics — when the map has no entry for
    // this query, fall back to that scan ONCE (a restart on a legacy table
    // must not re-commit its last epoch); every new commit writes a Txn,
    // so the fallback stops firing after the first post-upgrade epoch.
    val alreadyCommitted =
      head.transactions.get(queryId) match {
        case Some(last) => last >= epochId
        case None => table.log.commitInfos.exists(c =>
          c.operationMetrics.get("txnAppId").contains(queryId) &&
          c.operationMetrics.get("epoch").exists(_.toLong >= epochId))
      }
    val adds = FileOps.capAddStats(headMeta,
      messages.flatMap { case m: GraftWriteMessage => m.adds }.toSeq)
    if (alreadyCommitted)
      adds.foreach(a => Files.deleteIfExists(Paths.get(table.path, a.path)))
    else table.commitStreamingAppend(head, adds, queryId, epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: GraftWriteMessage =>
        m.adds.foreach(a => Files.deleteIfExists(Paths.get(table.path, a.path)))
      case _ => ()
    }
}

case class GraftStreamingWriterFactory(tablePath: String, schema: StructType,
    partitionCols: Seq[String], bloomColumns: Map[String, Long],
    bucket: Option[(String, Int)] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(tablePath, schema, partitionCols, bloomColumns, bucket)
}

case class GraftParquetWriterFactory(tablePath: String, schema: StructType,
    partitionCols: Seq[String], bloomColumns: Map[String, Long],
    bucket: Option[(String, Int)] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(tablePath, schema, partitionCols, bloomColumns, bucket)
}

class GraftParquetDataWriter(tablePath: String, schema: StructType,
    partitionCols: Seq[String], bloomColumns: Map[String, Long],
    bucket: Option[(String, Int)] = None)
    extends DataWriter[InternalRow] {

  private val dataFields = schema.fields.filterNot(f => partitionCols.contains(f.name))
  /** Files spell columns by their PHYSICAL names under column mapping,
    * with the mapping's parquet field ids attached (write-side schema:
    * id-mode readers bind new files through the ids). */
  private val dataSchema =
    graft.table.ColumnMapping.physicalWriteSchema(StructType(dataFields))
  private val partIdx = partitionCols.map(c => c -> schema.fieldIndex(c)).toMap
  private def physPart(c: String): String =
    graft.table.ColumnMapping.physicalOf(schema, c)

  // one open file per partition-value combination this task sees
  private val writers = mutable.LinkedHashMap[Map[String, String],
    (ParquetWriter[InternalRow], String)]()

  /** The group-based rewrite prepends metadata columns the logical write
    * schema doesn't mention (`__row_operation` in the ReplaceData plan);
    * the table's columns are the TRAILING fields. Resolved from the first
    * row — the offset is constant for the write. */
  private var fieldOffset = -1
  private def ord(row: InternalRow, schemaIndex: Int): Int = {
    if (fieldOffset < 0) {
      fieldOffset = row.numFields - schema.fields.length
      require(fieldOffset >= 0,
        s"write rows carry ${row.numFields} fields for schema ${schema.fieldNames.mkString(",")}")
    }
    fieldOffset + schemaIndex
  }

  /** Incoming-row view exposing exactly the data columns in file order:
    * ParquetWriteSupport consumes ordinals 0..n-1 of the write schema, the
    * incoming rewrite rows interleave partition columns and may carry
    * leading metadata fields. Built on the first write (needs fieldOffset). */
  private var projected: graft.streaming.RemappedRow = _

  /** pmod(hash(bucketCol), n) bound to this write's row layout — built on
    * the first row (needs fieldOffset), null for unbucketed tables. */
  private var bucketEval: org.apache.spark.sql.catalyst.expressions.Expression = _

  /** Spark's own parquet WriteSupport (ParquetWriteSupport): InternalRow
    * goes straight into the parquet column writers — no per-row Group
    * materialization, the same encode path a batch `df.write.parquet`
    * uses — wrapped in a plain parquet-mr ParquetWriter for executor-side
    * UUID-named file writes. */
  private class RowWriterBuilder(p: HPath)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](p) {
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    override def self(): RowWriterBuilder = this
  }

  private def writeConf(): Configuration = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    import org.apache.spark.sql.internal.SQLConf
    val conf = new Configuration()
    ParquetWriteSupport.setSchema(dataSchema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    // stamp parquet field ids exactly when the write schema carries them
    // (mapped tables — the delta columnMapping contract); id-less schemas
    // keep the converter id-free either way
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      graft.table.ColumnMapping.hasFieldIds(dataSchema).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")
    conf
  }

  private def open(pv: Map[String, String]): (ParquetWriter[InternalRow], String) = {
    // Hive-compatible percent-escaping (the SAME function Spark's own file
    // writer uses) — URLEncoder's '+' for space would read back as a
    // literal '+' on the basePath partition-reconstruction path.
    // pv is keyed by PHYSICAL name — the one key space every write path
    // stores in AddFile.partitionValues (it matches the directory names);
    // readers translate to logical via the schema's mapping metadata.
    // bucketed tables land in the hidden __bucket=<id> dir (nested
    // inside the Hive partition dirs when both are declared), exactly
    // like the batch write paths —
    // losing the dir here would silently flip every future scan to the
    // V1 fallback (spjOk requires every live file to carry its bucket id)
    val dirKeys = partitionCols.map(physPart) ++
      (if (bucket.isDefined) Seq(graft.table.Bucketing.BucketCol) else Nil)
    val dir = dirKeys.map(c =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(c, pv(c))).mkString("/")
    val rel = (if (dir.isEmpty) "" else s"$dir/") + s"part-${UUID.randomUUID()}.parquet"
    Files.createDirectories(Paths.get(tablePath, rel).getParent)
    var b = new RowWriterBuilder(new HPath(Paths.get(tablePath, rel).toString))
      .withConf(writeConf())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
    bloomColumns.foreach { case (c0, ndv) =>
      val c = graft.table.ColumnMapping.physicalOf(schema, c0)
      if (dataSchema.fieldNames.contains(c)) {
        b = b.withBloomFilterEnabled(c, true).withBloomFilterNDV(c, ndv)
      }
    }
    (b.build(), rel)
  }

  private def partitionValue(row: InternalRow, c: String): String = {
    val i = ord(row, partIdx(c))
    schema.fields(partIdx(c)).dataType match {
      case StringType => row.getUTF8String(i).toString
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case DoubleType => row.getDouble(i).toString
      case BooleanType => row.getBoolean(i).toString
      case DateType => java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
      case other => throw new UnsupportedOperationException(
        s"unsupported partition column type for SQL row-level write: $other")
    }
  }

  // NOT NULL column invariant on the raw executor-side write path (the
  // batch paths enforce it in the conform projection; these rows bypass
  // conform) — index check per row, no boxing
  private val notNullIdx =
    schema.fields.zipWithIndex.collect { case (f, i) if !f.nullable => (f.name, i) }

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < notNullIdx.length) {
      val (name, si) = notNullIdx(i)
      if (row.isNullAt(ord(row, si)))
        throw new IllegalStateException(
          s"NOT NULL constraint violated: column '$name' " +
            "(declared nullable = false) received a null")
      i += 1
    }
    val pv0 = partitionCols.map(c => physPart(c) -> partitionValue(row, c)).toMap
    val pv = bucket match {
      case Some((c, n)) =>
        // the SAME computation as Bucketing.idExpr (pmod(hash(col), n),
        // Murmur3 seed 42) evaluated on the incoming internal row — bucket
        // purity is a pure function of the row, preserved by every write
        // path including this executor-side rewrite
        if (bucketEval == null) {
          import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Murmur3Hash, Pmod}
          val si = schema.fieldIndex(c)
          bucketEval = Pmod(
            new Murmur3Hash(Seq(BoundReference(ord(row, si),
              schema.fields(si).dataType, nullable = true))),
            Literal(n))
        }
        pv0 + (graft.table.Bucketing.BucketCol ->
          bucketEval.eval(row).asInstanceOf[Int].toString)
      case None => pv0
    }
    val (w, _) = writers.getOrElseUpdate(pv, open(pv))
    if (projected == null) {
      val map = dataFields.map(f => ord(row, schema.fieldIndex(f.name)))
      projected = new graft.streaming.RemappedRow(map, dataSchema)
    }
    w.write(projected.set(row))
  }

  override def commit(): WriterCommitMessage = {
    val adds = writers.toSeq.flatMap { case (pv, (w, rel)) =>
      w.close()
      val abs = Paths.get(tablePath, rel)
      val (rows, mins, maxs, nulls) = FileOps.footerStats(abs)
      if (rows == 0L) { Files.delete(abs); None }
      else Some(AddFile(rel, Files.size(abs), System.currentTimeMillis(),
        rows, mins, maxs, pv, nullCounts = nulls))
    }
    writers.clear()
    GraftWriteMessage(adds)
  }

  override def abort(): Unit = writers.foreach { case (_, (w, rel)) =>
    try w.close() catch { case _: Exception => () }
    Files.deleteIfExists(Paths.get(tablePath, rel))
  }

  override def close(): Unit =
    writers.foreach { case (_, (w, _)) => try w.close() catch { case _: Exception => () } }
}
