package graft.streaming

import java.nio.file.Paths


import graft.table.{AddFile, CommitChanges, GraftLog, MetaData, RemoveFile}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Structured-Streaming SOURCE over a GraftTable — `readStream
  * .format("graft").load(path)` (and `readStream.table("graft.ns.t")`),
  * mirroring Delta's streamable-table property (the reference's tables are
  * Delta and therefore streamable; ours now are too). Built ONLY on the
  * public DSv2 `MicroBatchStream` API + parquet-hadoop:
  *
  *  - OFFSETS ARE COMMIT VERSIONS: offset v = "everything up to and
  *    including commit v consumed". Exactly-once follows from the commit
  *    log's immutability — a (start, end] range always resolves to the
  *    same files, so checkpoint replay re-plans identical batches.
  *  - The FIRST batch (offset -1 → v) serves the live snapshot at v (the
  *    initial load); every later batch serves exactly the files ADDED by
  *    commits in (start, end].
  *  - Each tailed commit is read through its [[graft.table.CommitChanges]]
  *    plan, the classification batch `changes()` uses too. DML that
  *    REWRITES rows (MERGE/DELETE/UPDATE) aborts the stream by default —
  *    appends-only is the contract, as in Delta; option `ignoreChanges`
  *    streams the added files anyway (re-emitting rewritten rows, Delta's
  *    documented semantic). Maintenance commits (OPTIMIZE, property and
  *    constraint changes, foreign `dataChange = false` reorganizations)
  *    are skipped wholesale.
  *  - Admission control (`maxFilesPerTrigger`, `maxBytesPerTrigger`) sums
  *    the same plans' read costs; the initial snapshot batch sizes from
  *    one live (files, bytes) fold.
  *  - `startingVersion` option starts the tail at a commit instead of the
  *    initial snapshot (the "only new data" shape).
  *
  * Scale: planInputPartitions is a DRIVER-side log fold (metadata only);
  * each file becomes one InputPartition read by executors through
  * parquet-hadoop — no driver data movement, parallelism = files per
  * batch. Rows are decoded straight to InternalRow (no Row round trip).
  */
class GraftMicroBatchStream(tablePath: String, schema: StructType,
    partitionCols: Seq[String], options: Map[String, String])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // streaming source log: same conf-selected store as the batch table layer
  private val log = new GraftLog(tablePath, graft.table.LogStore.resolveActive())
  private val ignoreChanges = options.get("ignorechanges").exists(_.toBoolean)

  /** Mid-stream schema evolution fails the batch and resumes on restart
    * (Delta's contract): the stream's read schema is PINNED at query start
    * — serving later files through it would silently project away an added
    * column (or keep emitting a renamed column under its stale name), so a
    * commit BEYOND the head-at-creation whose MetaData carries a different
    * schema aborts loudly; a restarted query re-resolves the table, adopts
    * the new schema, and the same commit (now ≤ the new creation head)
    * replays cleanly. Historical replay across old schema boundaries stays
    * legal: files written under a narrower schema read through the current
    * one (missing column → null; column mapping pins physical names, so a
    * past rename can never misbind). Property-only MetaData commits
    * (identity frontiers, tblproperties) share the schemaString and pass. */
  private val creationHead = log.latestVersion
  private val creationSchemaJson =
    if (creationHead < 0) "" else log.snapshotAt(creationHead).metaData.schemaString

  private def failOnMidStreamEvolution(v: Long, actions: Seq[graft.table.Action]): Unit =
    if (v > creationHead) actions.foreach {
      case m: MetaData if m.schemaString != creationSchemaJson =>
        throw new IllegalStateException(
          s"schema of $tablePath changed at version $v while the stream was " +
            "running; restart the query to adopt the new schema " +
            "(streams pin their schema at start — Delta-parity fail-and-resume)")
      case _ => ()
    }

  /** Change-data-feed mode (`readChangeFeed`): instead of table rows, the
    * stream emits row-level deltas (`_change_type`, `_commit_version`) —
    * per commit, either the `_cdc/` sidecars CDF-enabled DML wrote, or the
    * added files as inserts for pure-append commits. Rewrite commits FEED
    * the stream (their sidecars carry the deltas) instead of aborting it;
    * only a rewrite that predates `changeDataFeed.enabled` errors. */
  private val cdfMode = options.get("readchangefeed").exists(_.toBoolean)

  /** `startingVersion`: replay the commit TAIL from this version (0 means
    * "from the very first commit" — the full append history, NOT a folded
    * snapshot: a rewrite anywhere in the covered range triggers the same
    * append-only abort as a live rewrite, per the Delta contract). Absent:
    * the first batch is the folded live snapshot. `startingTimestamp`
    * (exclusive with it) resolves to the first commit at or after the
    * instant — Delta's option pair, same "yyyy-MM-dd HH:mm:ss" format as
    * the batch timestampAsOf. */
  private val startingVersion: Option[Long] = {
    val byVersion = options.get("startingversion").map(_.toLong)
    val byTs = options.get("startingtimestamp").map { ts =>
      require(byVersion.isEmpty,
        "specify at most one of startingVersion / startingTimestamp")
      val ms = java.sql.Timestamp.valueOf(ts).getTime
      // commit timestamps are monotone — binary search reads O(log
      // history) commit files at stream start, not the whole log
      log.firstVersionAtOrAfter(ms).getOrElse(
        throw new IllegalArgumentException(
          s"startingTimestamp $ts is after the last commit of $tablePath"))
    }
    byVersion.orElse(byTs)
  }

  /** Trigger.AvailableNow: pin the end version at query start so the run
    * drains exactly the commits that existed then, and stops. */
  private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(log.latestVersion)

  /** Admission control: `maxFilesPerTrigger` caps each micro-batch's file
    * count (at commit granularity — offsets are whole versions, and a
    * batch always advances at least one version so the stream makes
    * progress). This is what keeps a catch-up read of a long commit
    * backlog from planning one giant batch. */
  override def getDefaultReadLimit: ReadLimit =
    options.get("maxfilespertrigger").map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  /** `maxBytesPerTrigger`: the byte-denominated twin of maxFilesPerTrigger
    * (file counts under-measure when file sizes vary 100×). Applied inside
    * latestOffset — Spark's ReadLimit vocabulary has no maxBytes, so the
    * cap composes with whatever ReadLimit is in force (min of both ends). */
  private val maxBytesPerTrigger: Option[Long] =
    options.get("maxbytespertrigger").map(_.toLong)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cap = availableNowTarget.getOrElse(log.latestVersion)
    val s = start.asInstanceOf[GraftStreamOffset].version
    val maxFiles = limit match {
      case mf: ReadMaxFiles => Some(mf.maxFiles.toLong)
      case _ => None
    }
    if (maxFiles.isEmpty && maxBytesPerTrigger.isEmpty) return GraftStreamOffset(cap)
    var v = s
    if (s < 0 && startingVersion.isEmpty) {
      // the initial snapshot batch sizes from the live (files, bytes) after
      // each version, advancing at least to version 0
      v = 0L
      def fits(live: (Long, Long)) =
        maxFiles.forall(live._1 <= _) && maxBytesPerTrigger.forall(live._2 <= _)
      while (v < cap && fits(liveAfter(v + 1))) v += 1
    } else {
      // tail mode: sum the commits' read costs; a cap binds only once the
      // batch holds something, so each batch admits at least one commit
      var files, bytes = 0L
      var stop = false
      while (!stop && v < cap) {
        val (f, b) = changesAt(v + 1).readCost(cdfMode)
        stop = maxFiles.exists(m => files > 0 && files + f > m) ||
          maxBytesPerTrigger.exists(m => bytes > 0 && bytes + b > m)
        if (!stop) { files += f; bytes += b; v += 1 }
      }
    }
    GraftStreamOffset(v)
  }

  /** Each commit's classified changes, planned once: admission control and
    * the batch that serves the commit share one plan. Spark's `commit`
    * drops the plans of consumed versions. */
  private val planned = scala.collection.mutable.Map[Long, CommitChanges]()
  private def changesAt(v: Long): CommitChanges = synchronized {
    planned.getOrElseUpdate(v, CommitChanges.of(log, v))
  }

  /** Live (files, bytes) after commit v, folded strictly forward once
    * through a path → size map (a re-add replaces its path) — sizes the
    * initial snapshot batch. */
  private val liveCache = scala.collection.mutable.Map[Long, (Long, Long)](-1L -> (0L, 0L))
  private val liveSizeByPath = scala.collection.mutable.Map[String, Long]()
  private var liveFrontier = -1L
  private def liveAfter(v: Long): (Long, Long) = synchronized {
    while (liveFrontier < v) {
      val nv = liveFrontier + 1
      var bytes = liveCache(liveFrontier)._2
      log.readVersion(nv).foreach {
        case r: RemoveFile => liveSizeByPath.remove(r.path).foreach(sz => bytes -= sz)
        case a: AddFile =>
          liveSizeByPath.put(a.path, a.size).foreach(old => bytes -= old)
          bytes += a.size
        case _ => ()
      }
      liveCache(nv) = (liveSizeByPath.size.toLong, bytes)
      liveFrontier = nv
    }
    liveCache(v)
  }

  override def reportLatestOffset(): Offset = GraftStreamOffset(log.latestVersion)

  override def initialOffset(): Offset =
    GraftStreamOffset(startingVersion.map(_ - 1).getOrElse(-1L))

  override def latestOffset(): Offset = GraftStreamOffset(log.latestVersion)

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset("""-?\d+""".r.findFirstIn(json).get.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].version
    val e = end.asInstanceOf[GraftStreamOffset].version
    if (cdfMode) return planCdfPartitions(s, e)
    val files: Seq[AddFile] =
      // initial load without startingVersion: the folded live snapshot.
      // With startingVersion (including 0) the TAIL replays from that
      // commit — rewrite detection applies to the whole covered range.
      if (s < 0 && startingVersion.isEmpty) {
        // a schema change racing between stream creation and the first
        // batch must fail the same way a tailed one does
        ((creationHead + 1) to e).foreach(v =>
          failOnMidStreamEvolution(v, log.readVersion(v)))
        log.snapshotAt(e).files
      }
      else ((s + 1) to e).flatMap { v =>
        failOnMidStreamEvolution(v, log.readVersion(v))
        val c = changesAt(v)
        if (c.rewrites && !ignoreChanges)
          throw new IllegalStateException(
            s"commit $v of $tablePath rewrites files (${c.operation}); " +
              "streaming reads are append-only — set option(\"ignoreChanges\", " +
              "\"true\") to stream added files anyway (rewritten rows re-emit)")
        c.adds
      }
    plannedColumnarOk = files.forall(_.dvPath.isEmpty)
    val dv = graft.table.FileOps.dvRefs(tablePath, files, files)
    files.map(f => GraftFilePartition(
      Paths.get(tablePath, f.path).toString, f.partitionValues,
      f.numRecords, dv.get(f.path)): InputPartition).toArray
  }

  /** CDF planning: the initial batch (no startingVersion) emits the folded
    * snapshot as inserts stamped with the snapshot version; each tailed
    * commit emits its `_cdc/` sidecars when present, else its added files
    * as inserts (appends). All constants ride as per-partition overrides
    * decoded by the shared reader factory. */
  private def planCdfPartitions(s: Long, e: Long): Array[InputPartition] = {
    val parts = scala.collection.mutable.ArrayBuffer[GraftFilePartition]()
    def stamps(c: CommitChanges): Seq[(String, String)] =
      Seq("_commit_version" -> c.version.toString,
        "_commit_timestamp" -> c.info.map(_.timestamp).getOrElse(0L).toString)
    def insertParts(files: Seq[AddFile], c: CommitChanges): Unit = {
      val dv = graft.table.FileOps.dvRefs(tablePath, files, files)
      files.foreach { f =>
        parts += GraftFilePartition(
          Paths.get(tablePath, f.path).toString, f.partitionValues, f.numRecords,
          dv.get(f.path), constOverrides = ("_change_type" -> "insert") +: stamps(c))
      }
    }
    if (s < 0 && startingVersion.isEmpty) {
      // same creation-race guard as the main source's initial load: a
      // schema change landing between stream creation and the first batch
      // must fail loudly, not serve evolved files through the pinned schema
      ((creationHead + 1) to e).foreach(v =>
        failOnMidStreamEvolution(v, log.readVersion(v)))
      insertParts(log.snapshotAt(e).files, changesAt(e))
    }
    else ((s + 1) to e).foreach { v =>
      failOnMidStreamEvolution(v, log.readVersion(v))
      changesAt(v) match {
        case _: CommitChanges.Maintenance => ()
        case c: CommitChanges.Sidecars =>
          // a physically spelled file (foreign, compat or Delta-shaped)
          // takes the reader's physical-name branch, or column mapping
          // would decode NULLs; a Delta-shaped file's partition columns
          // come from the action through the constant row
          c.files.foreach(f => parts += GraftFilePartition(
            Paths.get(tablePath, f.file.path).toString, f.file.partitionValues,
            f.file.numRecords, None, constOverrides = stamps(c),
            partitionColsInFile = !f.physical))
        case c: CommitChanges.Appends => insertParts(c.adds, c)
        case c: CommitChanges.Rewrite => throw new IllegalStateException(
          s"commit $v of $tablePath rewrites files without change data " +
            s"(${c.operation}); set changeDataFeed.enabled=true before " +
            "row-level DML so the change feed can stream its deltas")
      }
    }
    plannedColumnarOk = parts.forall(_.dv.isEmpty) &&
      parts.map(p => (p.constOverrides.map(_._1), p.partitionColsInFile))
        .distinct.size <= 1
    parts.toArray.map(p => p: InputPartition)
  }

  /** Columnar hand-off is a SCAN-uniform decision (Spark refuses mixed
    * row/columnar partitions): any DV-carrying file — or, in CDF mode,
    * a batch mixing sidecar and add-file layouts — drops the whole batch
    * to the row path. */
  @volatile private var plannedColumnarOk = true

  override def createReaderFactory(): PartitionReaderFactory =
    // evaluated AFTER planInputPartitions (Spark materializes the
    // partitions before asking the factory about columnar support)
    new GraftParquetReaderFactory(schema, partitionCols, plannedColumnarOk)

  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[GraftStreamOffset].version
    planned.keys.filter(_ <= e).foreach(planned.remove)
  }
  override def stop(): Unit = ()
}

/** Offset = last fully-consumed commit version (-1: nothing consumed). */
case class GraftStreamOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** One file to decode. `dv` is the file's deletion vector, if it has one
  * ([[graft.table.FileOps.dvRefs]]). `constOverrides` are extra
  * per-partition constant columns (name → string value, cast by the
  * reader to the schema type) — the CDF stream uses them for
  * `_change_type`/`_commit_version`. `partitionColsInFile` marks files
  * (CDC sidecars) that store the table's partition columns as ordinary
  * data columns instead of Hive paths. */
case class GraftFilePartition(absPath: String,
    partitionValues: Map[String, String], numRecords: Long,
    dv: Option[graft.table.FileOps.DvRef] = None,
    constOverrides: Seq[(String, String)] = Nil,
    partitionColsInFile: Boolean = false) extends InputPartition

/** Decodes table files with Spark's VECTORIZED parquet reader — the same
  * columnar decoder the batch parquet scan uses (column-at-a-time page
  * decode into ColumnVectors, no per-row object materialization). Two
  * hand-off shapes:
  *
  *  - COLUMNAR (`supportColumnarReads`): whole `ColumnarBatch`es flow into
  *    the scan exec — zero row conversion. Available when the file carries
  *    no deletion vector and the scan schema's constant columns (partition
  *    values + `_file`) trail the data columns (the vectorized reader
  *    appends constants after the file's columns).
  *  - ROW: the reader's batch-backed row cursor, still vectorized page
  *    decode underneath. Used when a DV row-index skip must interleave
  *    (merge-on-read) or the scan schema interleaves constant columns
  *    (a `RemappedRow` view restores the requested field order — O(1),
  *    no copy).
  *
  * Partition columns come from the AddFile's partition values (they are
  * not stored in the file); evolved-in columns a file predates decode as
  * null vectors (parquet missing-column semantics). Flat primitive
  * schemas only — validated at stream construction. */
class GraftParquetReaderFactory(schema: StructType, partitionCols: Seq[String],
    columnarOk: Boolean = true)
    extends PartitionReaderFactory {

  /** Per-partition column layout: which of the scan schema's fields are
    * decoded from the file vs supplied as constants (Hive partition
    * values, `_file`, and any per-partition overrides). Batch layout =
    * dataFields ++ constFields; when that equals `schema` order (constants
    * trail) rows/batches need no remap at all. */
  private case class Layout(dataFields: Array[StructField],
      constFields: Array[StructField], remap: Array[Int], trailing: Boolean)

  private def layoutFor(p: GraftFilePartition): Layout = {
    val overrideKeys = p.constOverrides.map(_._1).toSet
    val constName: String => Boolean = n =>
      overrideKeys.contains(n) || n == "_file" ||
        (!p.partitionColsInFile && partitionCols.contains(n))
    val dataFields  = schema.fields.filterNot(f => constName(f.name))
    val constFields = schema.fields.filter(f => constName(f.name))
    val batchOrder = (dataFields ++ constFields).map(_.name)
    Layout(dataFields, constFields,
      schema.fields.map(f => batchOrder.indexOf(f.name)),
      schema.fields.map(_.name).sameElements(batchOrder))
  }

  /** The SPJ scan wraps file partitions with their partition key
    * (sources.GraftKeyedFilePartition); decode the underlying file either
    * way. */
  private def unwrap(partition: InputPartition): GraftFilePartition =
    partition match {
      case k: graft.sources.GraftKeyedFilePartition => k.file
      case p: GraftFilePartition => p
    }

  override def supportColumnarReads(partition: InputPartition): Boolean = {
    val p = unwrap(partition)
    columnarOk && p.dv.isEmpty && layoutFor(p).trailing
  }

  private def openVectorized(p: GraftFilePartition, lay: Layout)
      : org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = {
    // under column mapping the parquet DATA files carry PHYSICAL names; the
    // requested schema must ask for them (output stays positional, so the
    // logical scan schema is untouched). Graft-native CDC sidecars are the
    // exception: writeCdcFiles emits them from a LOGICAL-named frame, so
    // their partitions (partitionColsInFile) must request logical names or
    // a renamed column silently decodes as null.
    val dataSchema =
      if (p.partitionColsInFile)
        StructType(lay.dataFields.map(f =>
          f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
      else graft.table.ColumnMapping.physicalSchema(StructType(lay.dataFields))
    graft.table.FileOps.openVectorized(p.absPath, dataSchema,
      StructType(lay.constFields), constRow(p, lay))
  }

  /** Per-file constant column values, Catalyst-encoded. */
  private def constRow(p: GraftFilePartition, lay: Layout): InternalRow = {
    val overrides = p.constOverrides.toMap
    new GenericInternalRow(lay.constFields.map { f =>
      if (overrides.contains(f.name)) castPartitionValue(overrides(f.name), f.dataType)
      else if (f.name == "_file") UTF8String.fromString(p.absPath)
      else {
        // AddFile.partitionValues is keyed by PHYSICAL name on every write
        // path (it mirrors the Hive directory names); fall back to the
        // logical name for files logged before the key space was unified.
        val phys = graft.table.ColumnMapping.physicalName(f)
        val v = p.partitionValues.getOrElse(phys, p.partitionValues(f.name))
        castPartitionValue(v, f.dataType)
      }
    }.asInstanceOf[Array[Any]])
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = unwrap(partition)
    val rdr = openVectorized(p, layoutFor(p))
    rdr.enableReturningBatches()
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = rdr.nextBatch()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = rdr.resultBatch()
      override def close(): Unit = rdr.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = unwrap(partition)
    val lay = layoutFor(p)
    // count-only projection over constants (no data columns): synthesize
    // rows from the AddFile's row count — zero file IO
    if (lay.dataFields.isEmpty && lay.constFields.nonEmpty || schema.isEmpty) {
      val deleted = p.dv.map(graft.table.FileOps.dvBitsFor).orNull
      val row = constRow(p, lay)
      val out = if (lay.trailing) row else new RemappedRow(lay.remap, schema).set(row)
      return new PartitionReader[InternalRow] {
        // a foreign (delta-spark) add without stats carries numRecords = -1
        // (unknown): recover the true count from the parquet footer —
        // executor-side, one footer read, only on the stats-less path
        private var remaining =
          if (p.numRecords >= 0) p.numRecords
          else graft.table.FileOps.footerStats(Paths.get(p.absPath))._1
        private var rowIdx = -1L
        override def next(): Boolean = {
          while (remaining > 0) {
            remaining -= 1; rowIdx += 1
            if (deleted == null || !deleted.get(rowIdx.toInt)) return true
          }
          false
        }
        override def get(): InternalRow = out
        override def close(): Unit = ()
      }
    }
    val rdr = openVectorized(p, lay)
    /** DV tombstones of THIS file (merge-on-read), applied as a row-index
      * skip over the vectorized cursor. Null when the file has no DV. */
    val deleted = p.dv.map(graft.table.FileOps.dvBitsFor).orNull
    val wrapper = if (lay.trailing) null else new RemappedRow(lay.remap, schema)
    new PartitionReader[InternalRow] {
      private var rowIdx = -1L
      override def next(): Boolean = {
        while (rdr.nextKeyValue()) {
          rowIdx += 1
          if (deleted == null || !deleted.get(rowIdx.toInt)) return true
        }
        false
      }
      override def get(): InternalRow = {
        val r = rdr.getCurrentValue.asInstanceOf[InternalRow]
        if (wrapper == null) r else wrapper.set(r)
      }
      override def close(): Unit = rdr.close()
    }
  }

  private def castPartitionValue(v: String, dt: DataType): Any =
    GraftTableStream.castPartitionValue(v, dt)
}

/** Zero-copy field-order view: presents an underlying row whose columns
  * are laid out batch-style (data ++ constants) in the scan schema's
  * requested order. Read-only; `copy()` materializes. */
final class RemappedRow(map: Array[Int], schema: StructType) extends InternalRow {
  private var row: InternalRow = _
  def set(r: InternalRow): RemappedRow = { row = r; this }

  override def numFields: Int = map.length
  override def isNullAt(i: Int): Boolean = row.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = row.getBoolean(map(i))
  override def getByte(i: Int): Byte = row.getByte(map(i))
  override def getShort(i: Int): Short = row.getShort(map(i))
  override def getInt(i: Int): Int = row.getInt(map(i))
  override def getLong(i: Int): Long = row.getLong(map(i))
  override def getFloat(i: Int): Float = row.getFloat(map(i))
  override def getDouble(i: Int): Double = row.getDouble(map(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    row.getDecimal(map(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = row.getUTF8String(map(i))
  override def getBinary(i: Int): Array[Byte] = row.getBinary(map(i))
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    row.getInterval(map(i))
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    row.getVariant(map(i))
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    row.getGeometry(map(i))
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    row.getGeography(map(i))
  override def getStruct(i: Int, numFields: Int): InternalRow = row.getStruct(map(i), numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    row.getArray(map(i))
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData = row.getMap(map(i))
  override def get(i: Int, dataType: DataType): AnyRef = row.get(map(i), dataType)
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("RemappedRow is read-only")
  override def update(i: Int, value: Any): Unit =
    throw new UnsupportedOperationException("RemappedRow is read-only")
  override def copy(): InternalRow = {
    val values = new Array[Any](map.length)
    var i = 0
    while (i < map.length) {
      values(i) =
        if (isNullAt(i)) null
        else InternalRow.copyValue(get(i, schema.fields(i).dataType))
      i += 1
    }
    new GenericInternalRow(values)
  }
}

object GraftTableStream {
  /** Hive partition value (string) → Catalyst-encoded value of the column's
    * type. Shared by the reader factory's constant row and the key-grouped
    * scan's driver-side `HasPartitionKey` rows — both MUST encode
    * identically or storage-partitioned join key grouping would diverge
    * from the decoded column values. */
  def castPartitionValue(v: String, dt: DataType): Any = dt match {
    // the Hive null-partition sentinel decodes to NULL for every type —
    // the same mapping Spark's basePath dir inference applies, so the V1
    // scan, the SPJ keys and the streaming constant row always agree
    case _ if v == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .DEFAULT_PARTITION_NAME => null
    case StringType => UTF8String.fromString(v)
    // Two producers feed timestamp decode, with disjoint encodings: CDF
    // `_commit_timestamp` constants ship epoch-MILLIS digit strings, and
    // Hive partition DIRS ship the formatted form Spark writes
    // ("2021-04-01 12:00:00[.SSSSSS]", session-timezone — the colon
    // percent-escaping is already undone by the dir-name unescape). Pure
    // digits are unambiguously millis (a formatted timestamp always
    // carries '-' and ':'); anything else parses as the Hive form with
    // Spark's own parser, the same one the V1 basePath inference uses —
    // so SPJ keys and V1 reads of one table can never disagree.
    case TimestampType =>
      if (v.nonEmpty && v.forall(_.isDigit)) v.toLong * 1000L
      else {
        val zone = scala.util.Try(
          org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
            org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
          .getOrElse(java.time.ZoneId.systemDefault())
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToTimestamp(UTF8String.fromString(v), zone)
          .getOrElse(throw new IllegalArgumentException(
            s"cannot parse timestamp partition value '$v'"))
      }
    // NTZ is zone-LESS: the dir string "yyyy-MM-dd HH:mm:ss[.f]" IS the
    // value — local micros, no session-zone involvement (round 15, the
    // executor-side twin of GraftTable's pruning decode)
    case TimestampNTZType =>
      val ldt = java.time.LocalDateTime.parse(v.replace(' ', 'T'))
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
    case IntegerType => v.toInt
    case LongType => v.toLong
    case DoubleType => v.toDouble
    case BooleanType => v.toBoolean
    case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
    case other => throw new UnsupportedOperationException(
      s"unsupported partition column type for streaming: $other")
  }

  /** Types the SPJ scan can decode into partition keys — including
    * TimestampType since the decoder above learned the Hive dir form: an
    * event-time-partitioned fact table (the most common partitioning
    * scheme of all) gets the zero-shuffle fact-fact join path. */
  def partitionKeyTypeSupported(dt: DataType): Boolean = dt match {
    // the StringType SINGLETON deliberately: a COLLATED partition column
    // must not pass — partition values co-locate by BYTE equality, so
    // SPJ over collation-equal-but-byte-distinct keys would join
    // partition-wise and miss matches (such tables keep the V1 scan)
    case StringType | IntegerType | LongType | DoubleType |
         BooleanType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Flat-schema validation at stream construction — fail fast, not on an
    * executor mid-batch. */
  def validateSchema(schema: StructType): Unit = schema.fields.foreach { f =>
    f.dataType match {
      case _: ArrayType | _: MapType | _: StructType | _: DecimalType =>
        throw new UnsupportedOperationException(
          s"graft streaming source supports flat primitive schemas; " +
            s"column ${f.name} has type ${f.dataType}")
      case _ => ()
    }
  }
}
