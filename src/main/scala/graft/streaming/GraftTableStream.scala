package graft.streaming

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import graft.table.{AddFile, CommitInfo, GraftLog, MetaData, RemoveFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
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
  *  - DML that REWRITES files (MERGE/DELETE/UPDATE) aborts the stream by
  *    default — appends-only is the contract, as in Delta; option
  *    `ignoreChanges` streams the added files anyway (re-emitting
  *    rewritten rows, Delta's documented semantic). OPTIMIZE/CLONE/
  *    RESTORE-style maintenance commits that add no new rows are skipped
  *    wholesale (our equivalent of Delta's dataChange=false).
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
  /** Lazy one-time provenance probe (foreign delta log?) — feeds the
    * malformed-cdc refusal in planCdfPartitions; fixed for a running
    * stream, so one fold at the creation head, never per commit. */
  private lazy val foreignProvenance: Boolean =
    creationHead >= 0 && log.snapshotAt(creationHead).metaData
      .properties.contains(graft.table.Actions.DeltaReadMarker)

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
    val initial = s < 0 && startingVersion.isEmpty
    val fileEnd = limit match {
      case mf: ReadMaxFiles =>
        if (initial) {
          // initial snapshot batch: size from the FOLDED live-file count
          // (per-commit add sums overcount files later removed); advance
          // at least to version 0 so the stream makes progress
          var v = 0L
          while (v < cap && liveFileCount(v + 1) <= mf.maxFiles) v += 1
          v
        } else {
          // tail mode: cap the sum of per-commit added files; commits are
          // immutable, so counts are cached across triggers instead of
          // re-reading the whole backlog every time (ADVICE r5)
          var v = s
          var total = 0L
          var stop = false
          while (!stop && v < cap) {
            val n = filesAddedIn(v + 1)
            if (total > 0 && total + n > mf.maxFiles) stop = true
            else { total += n; v += 1 }
          }
          v
        }
      case _ => cap
    }
    val end = maxBytesPerTrigger match {
      case None => fileEnd
      case Some(maxB) =>
        val byteEnd =
          if (initial) {
            var v = 0L
            while (v < cap && liveByteCount(v + 1) <= maxB) v += 1
            v
          } else {
            var v = s
            var total = 0L
            var stop = false
            while (!stop && v < cap) {
              val b = bytesAddedIn(v + 1)
              if (total > 0 && total + b > maxB) stop = true
              else { total += b; v += 1 }
            }
            v
          }
        math.min(fileEnd, byteEnd)
    }
    GraftStreamOffset(end)
  }

  private val byteCountCache = scala.collection.mutable.Map[Long, Long]()
  private def bytesAddedIn(v: Long): Long = synchronized {
    byteCountCache.getOrElseUpdate(v, {
      val actions = log.readVersion(v)
      val op = actions.collectFirst { case c: CommitInfo => c.operation }
      if (op.exists(nonDataOps.contains) || foreignReorg(actions)) 0L
      else {
        // CDF admission sizes what the batch will actually READ: a commit
        // with `_cdc/` sidecars plans those, not its add files. A legacy
        // sidecar (logged before sizes existed) deserializes to size 0 —
        // summing zeros would FAIL OPEN (the byte loop would admit the
        // whole backlog in one batch), so an unknown-size commit costs a
        // large sentinel instead: it still rides the ≥1-commit/trigger
        // progress guarantee, and nothing else joins its batch.
        val cdc = actions.collect { case c: graft.table.CdcFile => c }
        if (cdfMode && cdc.nonEmpty) {
          val sz = cdc.map(_.size).sum
          if (sz == 0L) Long.MaxValue / 4 else sz
        }
        else actions.collect { case a: AddFile if dataChanging(a) => a.size }.sum
      }
    })
  }

  /** Live BYTES after commit v, folded strictly forward once (a path→size
    * map resolves removed files' sizes; re-adds replace) — the byte twin
    * of liveFileCount for sizing the initial snapshot batch. */
  private val liveBytesCache = scala.collection.mutable.Map[Long, Long](-1L -> 0L)
  private val liveSizeByPath = scala.collection.mutable.Map[String, Long]()
  private var bytesFrontier = -1L
  private def liveByteCount(v: Long): Long = synchronized {
    while (bytesFrontier < v) {
      val nv = bytesFrontier + 1
      var running = liveBytesCache(bytesFrontier)
      log.readVersion(nv).foreach {
        case r: RemoveFile =>
          liveSizeByPath.remove(r.path).foreach(sz => running -= sz)
        case a: AddFile =>
          liveSizeByPath.put(a.path, a.size).foreach(old => running -= old)
          running += a.size
        case _ => ()
      }
      liveBytesCache(nv) = running
      bytesFrontier = nv
    }
    liveBytesCache(v)
  }

  private val addCountCache = scala.collection.mutable.Map[Long, Long]()
  private def filesAddedIn(v: Long): Long = synchronized {
    addCountCache.getOrElseUpdate(v, {
      val actions = log.readVersion(v)
      val op = actions.collectFirst { case c: CommitInfo => c.operation }
      if (op.exists(nonDataOps.contains) || foreignReorg(actions)) 0L
      else {
        // CDF mode: the batch plans the commit's `_cdc/` sidecars when
        // present (rewrites), else its add files (appends) — size the cap
        // on what planInputPartitions will emit
        val cdc = actions.count(_.isInstanceOf[graft.table.CdcFile]).toLong
        if (cdfMode && cdc > 0) cdc
        else actions.collect { case a: AddFile if dataChanging(a) => a }.size.toLong
      }
    })
  }

  /** Exact live-file count after commit v, folded incrementally (adds −
    * removes per commit; every rewrite pairs its removes with adds, so the
    * running difference equals the snapshot's live-file count) — O(1)
    * amortized per trigger vs re-folding the snapshot. */
  private val liveCountCache = scala.collection.mutable.Map[Long, Long](-1L -> 0L)
  private def liveFileCount(v: Long): Long = synchronized {
    if (!liveCountCache.contains(v)) {
      var base = v - 1
      while (!liveCountCache.contains(base)) base -= 1
      (base + 1 to v).foreach { i =>
        val actions = log.readVersion(i)
        liveCountCache(i) = liveCountCache(i - 1) +
          actions.count(_.isInstanceOf[AddFile]) -
          actions.count(_.isInstanceOf[RemoveFile])
      }
    }
    liveCountCache(v)
  }

  override def reportLatestOffset(): Offset = GraftStreamOffset(log.latestVersion)

  /** Maintenance operations that reorganize files without changing table
    * CONTENT — skipped entirely by the tail reader. */
  private val nonDataOps = Set("OPTIMIZE", "VACUUM", "SET TBLPROPERTIES",
    "UNSET TBLPROPERTIES", "ADD CONSTRAINT", "DROP CONSTRAINT")

  /** An add carrying NEW rows (vs a foreign `dataChange = false`
    * reorganization add — delta OPTIMIZE/clustering output). Graft's own
    * maintenance is recognized by operation name above; the tag is the
    * PROTOCOL-level signal for foreign logs, where commitInfo is
    * free-form (optional fields, engine-specific operation names). */
  private def dataChanging(a: AddFile): Boolean =
    !a.tags.contains(graft.table.Actions.DataChangeFalseTag)

  /** True when the commit is a foreign reorganization: it has adds, none
    * of which carry new data, every remove is ALSO flagged as a
    * reorganization, and no change-data file is present — skip it
    * wholesale (its removes pair with the compacted files, not with
    * deleted rows). The remove/cdc guards matter because the add-side
    * flag alone is ambiguous: a DV DELETE whose touched files all came
    * out of a prior OPTIMIZE re-adds only previously-compacted paths, but
    * its removes carry dataChange=true (and CDF mode ships a cdc file) —
    * that commit changes data and must NOT be skipped. */
  private def foreignReorg(actions: Seq[graft.table.Action]): Boolean = {
    val adds = actions.collect { case a: AddFile => a }
    adds.nonEmpty && !adds.exists(dataChanging) &&
      actions.collect { case r: graft.table.RemoveFile => r }
        .forall(!_.dataChange) &&
      !actions.exists(_.isInstanceOf[graft.table.CdcFile])
  }

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
        val actions = log.readVersion(v)
        failOnMidStreamEvolution(v, actions)
        val op = actions.collectFirst { case c: CommitInfo => c.operation }
        if (op.exists(nonDataOps.contains) || foreignReorg(actions)) Nil
        else {
          // dataChange=false removes pair with a reorganization's compacted
          // files (the rows MOVED, delta's OPTIMIZE shape) — only
          // data-changing removes break the append-only contract
          val removes = actions.collect {
            case r: RemoveFile if r.dataChange => r }
          if (removes.nonEmpty && !ignoreChanges)
            throw new IllegalStateException(
              s"commit $v of $tablePath rewrites files (${op.getOrElse("?")}); " +
                "streaming reads are append-only — set option(\"ignoreChanges\", " +
                "\"true\") to stream added files anyway (rewritten rows re-emit)")
          // a MIXED commit (new data + dataChange=false reorg adds) plans
          // only the data-changing files — same filter as the admission
          // counters, or compacted rows would re-serve as appends
          actions.collect { case a: AddFile if dataChanging(a) => a }
        }
      }
    plannedColumnarOk = files.forall(_.dvPath.isEmpty)
    val dv = graft.table.FileOps.dvRefs(tablePath, files, files)
    files.map(f => GraftFilePartition(
      Paths.get(tablePath, f.path).toString, f.partitionValues,
      f.numRecords, dv.get(f.path)): InputPartition).toArray
  }

  /** CDF planning: the initial batch (no startingVersion) emits the folded
    * snapshot as inserts stamped with the snapshot version; each tailed
    * commit emits its `_cdc/` sidecars when present (rewrites), else its
    * added files as inserts (appends). All constants ride as per-partition
    * overrides decoded by the shared reader factory. */
  private def planCdfPartitions(s: Long, e: Long): Array[InputPartition] = {
    val parts = scala.collection.mutable.ArrayBuffer[GraftFilePartition]()
    def tsOf(v: Long): String = log.readVersion(v)
      .collectFirst { case c: CommitInfo => c.timestamp }.getOrElse(0L).toString
    def insertParts(files: Seq[AddFile], v: Long): Unit = {
      val dv = graft.table.FileOps.dvRefs(tablePath, files, files)
      files.foreach { f =>
        parts += GraftFilePartition(
          Paths.get(tablePath, f.path).toString, f.partitionValues, f.numRecords,
          dv.get(f.path),
          constOverrides = Seq("_change_type" -> "insert", "_commit_version" -> v.toString,
            "_commit_timestamp" -> tsOf(v)))
      }
    }
    if (s < 0 && startingVersion.isEmpty) {
      // same creation-race guard as the main source's initial load: a
      // schema change landing between stream creation and the first batch
      // must fail loudly, not serve evolved files through the pinned schema
      ((creationHead + 1) to e).foreach(v =>
        failOnMidStreamEvolution(v, log.readVersion(v)))
      insertParts(log.snapshotAt(e).files, e)
    }
    else ((s + 1) to e).foreach { v =>
      val actions = log.readVersion(v)
      failOnMidStreamEvolution(v, actions)
      val op = actions.collectFirst { case c: CommitInfo => c.operation }
      val commitTs = actions.collectFirst { case c: CommitInfo => c.timestamp }
        .getOrElse(0L).toString
      if (!op.exists(nonDataOps.contains) && !foreignReorg(actions)) {
        val cdc = actions.collect { case c: graft.table.CdcFile => c }
        val adds = actions.collect { case a: AddFile => a }
        val removes = actions.collect {
          case r: RemoveFile if r.dataChange => r }
        // Per-file cdc shape, told by the ACTION's partitionValues: a map
        // covering the partition columns is delta's AddCDCFile (partition
        // columns OMITTED from the file — foreign delta DML and graft's
        // compat sidecars), served through the reader factory's constant
        // row exactly like data files; an empty map is graft-native
        // (columns IN the file). A partitioned FOREIGN cdc action without
        // values is malformed — refuse loudly, never stream silent NULLs.
        if (cdc.nonEmpty) {
          // compat-written sidecars spell PHYSICAL names like foreign
          // delta cdc files (round 16) — per-VERSION dispatch by the
          // governing metaData, so mixed histories (compat enabled
          // mid-life) stream each sidecar in its written spelling
          val compatV = graft.table.DeltaWriteCompat
            .enabled(log.snapshotAt(v).metaData)
          cdc.foreach { c =>
          val colsFromAction = graft.table.ColumnMapping
            .cdcPartitionValues(schema, partitionCols, c.partitionValues)
            .isDefined
          if (partitionCols.nonEmpty && !colsFromAction && foreignProvenance)
            throw new graft.table.GraftProtocolException(
              s"cdc action of PARTITIONED foreign Delta table $tablePath at " +
                s"version $v carries no partitionValues; the change feed " +
                "cannot reconstitute its partition columns")
          parts += GraftFilePartition(
            Paths.get(tablePath, c.path).toString, c.partitionValues,
            c.numRecords, None,
            constOverrides = Seq("_commit_version" -> v.toString,
              "_commit_timestamp" -> commitTs),
            // partitionColsInFile also selects the requested NAME SPACE:
            // graft-native sidecars are logical-named; foreign delta and
            // graft-compat cdc files spell physical names (+ field ids in
            // id mode), so those take the physical branch or column
            // mapping would decode silent NULLs
            partitionColsInFile = !colsFromAction && !foreignProvenance &&
              !compatV)
        }
        }
        else if (removes.isEmpty) insertParts(adds.filter(dataChanging), v)
        else throw new IllegalStateException(
          s"commit $v of $tablePath rewrites files without change data " +
            s"(${op.getOrElse("?")}); set changeDataFeed.enabled=true before " +
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

  override def commit(end: Offset): Unit = ()
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
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport, VectorizedParquetRecordReader}
    import org.apache.spark.sql.internal.SQLConf
    val conf = new Configuration(graft.table.FileOps.baseConf)
    // under column mapping the parquet DATA files carry PHYSICAL names; the
    // requested schema must ask for them (output stays positional, so the
    // logical scan schema is untouched). CDC sidecars are the exception:
    // writeCdcFiles emits them from a LOGICAL-named frame, so their
    // partitions (partitionColsInFile) must request logical names or a
    // renamed column silently decodes as null.
    val dataSchema =
      if (p.partitionColsInFile)
        StructType(lay.dataFields.map(f =>
          f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
      else graft.table.ColumnMapping.physicalSchema(StructType(lay.dataFields))
    // the same read-path conf Spark's ParquetFileFormat sets: requested
    // schema + the semantics flags the schema converter consults
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, dataSchema.json)
    ParquetWriteSupport.setSchema(dataSchema, conf)
    // id-mode column mapping: the physical schema carries parquet field
    // ids — Spark's read support resolves those fields by id when the
    // flag is on (fields without ids keep name resolution, so this is a
    // no-op for every non-id table)
    if (graft.table.ColumnMapping.hasFieldIds(dataSchema))
      conf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, true)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, true)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")
    // mapred.FileSplit (extends the mapreduce one) — the concrete class
    // Spark's reader base casts the split to
    val split = new org.apache.hadoop.mapred.FileSplit(
      new HPath(p.absPath), 0, Long.MaxValue, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    // graft data files are written by Spark with CORRECTED (proleptic
    // Gregorian) datetimes — no rebase, no INT96 conversion zone
    val rdr = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    try {
      rdr.initialize(split, ctx)
      rdr.initBatch(StructType(lay.constFields), constRow(p, lay))
      rdr
    } catch { case e: Throwable => rdr.close(); throw e }
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
