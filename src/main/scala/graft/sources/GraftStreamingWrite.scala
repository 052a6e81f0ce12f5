package graft.sources

import java.nio.file.{Files, Paths}

import graft.table.{AddFile, Bucketing, ColumnMapping, DataFileWriter, FileOps, GraftTable, Snapshot}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.types._

case class GraftWriteMessage(adds: Seq[AddFile]) extends WriterCommitMessage

/** `writeStream.format("graft")` / `.toTable("graft.ns.t")`: each epoch's
  * rows land as one atomic APPEND commit (the micro-batch transaction
  * Delta's streaming sink performs); an epoch with no rows commits no
  * version. Exactly-once across checkpoint
  * replays: the commit records (queryId, epochId), and a replayed epoch
  * that already committed is skipped — the idempotent-txn pattern, driver
  * side. Files are written executor-side through [[DataFileWriter]]; a
  * failed epoch's files are deleted on abort and were never visible
  * (nothing references them until the commit). Each epoch folds the
  * table's snapshot once, when its writer factory is built; the commit
  * reuses that snapshot unless another commit landed in between. */
class GraftStreamingWrite(table: GraftTable, schema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  /** The running epoch's file target and the snapshot its factory was
    * built from. Cleared when the epoch commits, so a later abort can only
    * delete files no commit references. */
  private var epoch: Option[(DataFileWriter.Target, Snapshot)] = None

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = synchronized {
    val snap = table.snapshot
    // the sink's executor-side writers persist the stream's rows verbatim —
    // they cannot (re)compute generation expressions or allocate identity
    // ids, so refuse loudly rather than break the invariant; foreachBatch
    // + append conforms/assigns
    val gen = graft.table.GeneratedColumns.names(snap.schema) ++
      graft.table.IdentityColumns.names(snap.schema)
    require(gen.isEmpty,
      s"streaming sink cannot maintain generated/identity columns ${gen.toSeq.sorted.mkString(", ")}; " +
        "stream via foreachBatch { (batch, _) => table.append(batch) } instead")
    require(!table.rowTrackingEnabled(snap.metaData),
      "streaming sink cannot allocate row ids (rowTracking.enabled); " +
        "stream via foreachBatch { (batch, _) => table.append(batch) } instead")
    // writer-feature gate, before any executor writes a file
    table.gateWrite(snap)
    val spec = fileSpec(snap)
    epoch = Some((spec.target, snap))
    GraftStreamingWriterFactory(spec)
  }

  /** The epoch's file target: files spell the data columns by their
    * physical names with the mapping's field ids, bloom filters per the
    * table's properties. The V2 write info hands the QUERY's schema, which
    * Spark marks all-nullable for most sources — the TABLE's nullability
    * is the invariant the executor-side writers must enforce, so it is
    * overlaid by field name. */
  private def fileSpec(snap: Snapshot): GraftFileWriteSpec = {
    val meta = snap.metaData
    val writeSchema = StructType(schema.fields.map(f =>
      snap.schema.find(_.name == f.name).map(tf => f.copy(nullable = tf.nullable)).getOrElse(f)))
    val fileSchema = ColumnMapping.physicalWriteSchema(
      StructType(writeSchema.fields.filterNot(f => meta.partitionColumns.contains(f.name))))
    val t = DataFileWriter.target(table.spark, table.path, fileSchema,
      options = GraftTable.bloomWriteOptions(meta, ColumnMapping.physicalOf(writeSchema, _)))
    GraftFileWriteSpec(t, writeSchema, meta.partitionColumns, Bucketing.spec(meta),
      table.spark.sessionState.conf.sessionLocalTimeZone)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = synchronized {
    // An epoch that wrote no file commits no version and checks nothing:
    // the no-data batches Spark runs to advance a watermark would otherwise
    // publish an empty version each, and replaying one has nothing to
    // re-commit.
    val written = messages.flatMap { case m: GraftWriteMessage => m.adds }.toSeq
    if (written.nonEmpty) commitEpoch(epochId, written)
    epoch = None
  }

  private def commitEpoch(epochId: Long, written: Seq[AddFile]): Unit = {
    // the factory-time guards (generated/identity/rowTracking + writer
    // features) re-check at EVERY epoch commit against the current head
    // snapshot — a mid-stream ALTER that enables row tracking or adds a
    // generated/identity column must fail the stream loudly, not commit
    // epochs whose rows lack row-id stamps / identity values. One
    // snapshot serves these guards, the exactly-once probe below and the
    // commit (whose writer-feature gate reads its protocol): the
    // factory's, while it is still the head.
    val latest = table.latestVersion
    val head = epoch.map(_._2).filter(_.version == latest)
      .getOrElse(table.log.snapshotAt(latest))
    val headMeta = head.metaData
    val genNow = graft.table.GeneratedColumns.names(head.schema) ++
      graft.table.IdentityColumns.names(head.schema)
    if (genNow.nonEmpty || table.rowTrackingEnabled(headMeta))
      throw new IllegalStateException(
        "graft streaming sink: table evolved mid-stream to require " +
          "engine-maintained columns (generated/identity/rowTracking) — " +
          "restart the stream via foreachBatch { (b, _) => table.append(b) }")
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
    val adds = FileOps.capAddStats(headMeta, written)
    if (alreadyCommitted)
      adds.foreach(a => Files.deleteIfExists(Paths.get(table.path, a.path)))
    else table.commitStreamingAppend(head, adds, queryId, epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = synchronized {
    epoch.foreach { case (t, _) => DataFileWriter.deleteWrite(t) }
    epoch = None
  }
}

/** What each task of a V2 write needs: the write's file target, the
  * table-nullability write schema, and the table's partition and bucket
  * layout. Built once per epoch on the driver. */
case class GraftFileWriteSpec(target: DataFileWriter.Target, schema: StructType,
    partitionCols: Seq[String], bucket: Option[(String, Int)], timeZone: String)

case class GraftStreamingWriterFactory(spec: GraftFileWriteSpec)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = new GraftParquetDataWriter(spec)
}

/** One task of the streaming sink's write: routes each incoming row to
  * its partition's file through [[DataFileWriter.TaskFiles]] (one open
  * file per partition value, spelled exactly as batch writes spell it)
  * after checking the table's NOT NULL columns. Rows carry `schema`'s
  * fields in order. */
class GraftParquetDataWriter(spec: GraftFileWriteSpec) extends DataWriter[InternalRow] {
  import spec._

  /** Opened at the first row: an empty task builds no projection. */
  private var files: DataFileWriter.TaskFiles = _
  /** Incoming-row view exposing exactly the data columns in file order. */
  private val view = new graft.streaming.RemappedRow(
    schema.fields.filterNot(f => partitionCols.contains(f.name))
      .map(f => schema.fieldIndex(f.name)), target.fileSchema)

  private def open(): DataFileWriter.TaskFiles = {
    def ref(c: String): Expression = {
      val i = schema.fieldIndex(c)
      BoundReference(i, schema(i).dataType, nullable = true)
    }
    // partition values keyed by PHYSICAL name, as every write path stores
    // them; bucketed tables add the hidden __bucket=<id> dir, the SAME
    // computation as Bucketing.idExpr (pmod(hash(col), n), Murmur3 seed 42)
    val keys = partitionCols.map(c => ColumnMapping.physicalOf(schema, c) -> ref(c)) ++
      bucket.map { case (c, n) => Bucketing.BucketCol -> (Pmod(new Murmur3Hash(Seq(ref(c))),
        Literal(n)): Expression) }
    new DataFileWriter.TaskFiles(target, keys, timeZone, oneOpen = false)
  }

  // NOT NULL column invariant on the raw executor-side write path (the
  // batch paths enforce it in the conform projection; these rows bypass
  // conform) — index check per row, no boxing
  private val notNullIdx =
    schema.fields.zipWithIndex.collect { case (f, i) if !f.nullable => (f.name, i) }

  override def write(row: InternalRow): Unit = {
    if (files == null) files = open()
    var i = 0
    while (i < notNullIdx.length) {
      val (name, si) = notNullIdx(i)
      if (row.isNullAt(si))
        throw new IllegalStateException(
          s"NOT NULL constraint violated: column '$name' " +
            "(declared nullable = false) received a null")
      i += 1
    }
    files.write(row, view.set(row))
  }

  override def commit(): WriterCommitMessage =
    GraftWriteMessage(if (files == null) Nil else files.commit().map(_.add))

  override def abort(): Unit = if (files != null) files.abort()

  override def close(): Unit = ()
}
