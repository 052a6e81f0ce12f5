package graft.table

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Data-file plumbing: write a DataFrame as table files (through
  * [[DataFileWriter]], which lands every file at its final name from the
  * task — the log commit, not the file system, makes it visible), harvest
  * per-file footer stats (row count + column min/max) into AddFile actions
  * for data skipping, and graft's own parquet footer and sidecar reads.
  *
  * Every parquet open here shares one JVM-wide Hadoop conf ([[baseConf]])
  * and passes read options built from it: a fresh `Configuration` re-parses
  * the default XML resources, which costs more than the footer read itself.
  */
// Serializable: the distributed footer harvest in harvestStats ships a
// closure over this module's methods to executors (deserializes back to
// the singleton — no state crosses the wire)
object FileOps extends Serializable {

  /** The JVM's one Hadoop conf for graft's own parquet opens, built once.
    * Callers that set keys copy it (`new Configuration(baseConf)`). */
  lazy val baseConf: Configuration = new Configuration()

  /** Read options for one parquet open under `conf` (each open gets its
    * own: a reader releases its options' codec factory on close). */
  def readOptions(conf: Configuration): ParquetReadOptions =
    HadoopReadOptions.builder(conf).build()

  /** Opens one parquet file for footer or row-group reads. */
  def openParquet(file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file.toString), baseConf),
      readOptions(baseConf))

  /** Opens one parquet file with Spark's vectorized reader, decoding the
    * columns of `requested` (as the file spells them) followed by the
    * constant `partitionSchema` columns valued by `partitionValues`. The
    * conf is the one Spark's ParquetFileFormat sets on its read path; a
    * schema carrying parquet field ids resolves by id. Files are read as
    * Spark writes them: CORRECTED (proleptic Gregorian) datetimes, no
    * rebase, no INT96 conversion zone. */
  def openVectorized(file: String, requested: StructType,
      partitionSchema: StructType = new StructType(),
      partitionValues: InternalRow = InternalRow.empty): VectorizedParquetRecordReader = {
    val conf = new Configuration(baseConf)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    ParquetWriteSupport.setSchema(requested, conf)
    if (ColumnMapping.hasFieldIds(requested))
      conf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, true)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, true)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")
    // mapred.FileSplit (extends the mapreduce one): the concrete class
    // Spark's reader base casts the split to
    val split = new org.apache.hadoop.mapred.FileSplit(
      new HPath(file), 0, Long.MaxValue, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val rdr = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    try {
      rdr.initialize(split, ctx)
      rdr.initBatch(partitionSchema, partitionValues)
      rdr
    } catch { case e: Throwable => rdr.close(); throw e }
  }

  /** Table property capping how many leading schema columns carry min/max/
    * null-count stats in the log — Delta's `dataSkippingNumIndexedCols`,
    * same default (32). Without a cap, a 1,000-column feature table puts
    * ~3,000 stat entries into EVERY AddFile: at 1M files that is the log
    * bloat the 32-char string truncation exists to prevent, arriving by
    * column count instead of value width. Negative = index every column. */
  val NumIndexedColsProp = "dataSkipping.numIndexedCols"
  val NumIndexedColsDefault = 32

  /** Stat keys the cap keeps for `meta`, or None = keep everything.
    * First-N schema columns plus the columns pruning lives by regardless
    * of position — partition and clustering columns — in both logical and
    * physical (column-mapping) spellings; `__shred_*` keys (variant shred
    * stats, materialized expressly for skipping) are always kept by
    * [[capAddStats]] itself. */
  private def statKeepSet(meta: MetaData): Option[Set[String]] = {
    val n = meta.properties.get(NumIndexedColsProp)
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(NumIndexedColsDefault)
    if (n < 0) return None
    val schema =
      try org.apache.spark.sql.types.DataType.fromJson(meta.schemaString)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      catch { case _: Exception => return None } // unparseable → no capping
    val firstN = schema.fields.take(n)
    val cluster = meta.properties.get("clustering.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    // identity columns always keep their max stat: bumpedProps REQUIREs it
    // to advance the allocation frontier — capping it would brick appends
    val identity = IdentityColumns.names(schema).toSeq
    val always = (meta.partitionColumns ++ cluster ++ identity).flatMap(c =>
      Seq(c) ++ schema.fields.find(_.name == c).map(ColumnMapping.physicalName))
    Some((firstN.map(_.name) ++ firstN.map(ColumnMapping.physicalName) ++
      always).toSet)
  }

  /** Apply the stats-column cap to freshly-harvested AddFiles. Driver-side
    * and O(files × stat entries) — the harvest itself still reads every
    * footer column (one pass, no extra IO); only what the LOG records is
    * capped. Dropping a stat can only disable skipping on that column
    * (conservative), never mis-prune. */
  def capAddStats(meta: MetaData, adds: Seq[AddFile]): Seq[AddFile] =
    statKeepSet(meta) match {
      case None => adds
      case Some(keep) =>
        def f[V](m: Map[String, V]): Map[String, V] =
          m.filter { case (k, _) => keep(k) || k.startsWith("__shred_") }
        adds.map(a => a.copy(minValues = f(a.minValues),
          maxValues = f(a.maxValues), nullCounts = f(a.nullCounts)))
    }

  /** Write `df` as parquet files inside `tablePath` (Hive-style partition
    * dirs when `partitionCols` is non-empty) through [[DataFileWriter]],
    * returning AddFiles with the files' footer stats and partition values. */
  def writeDataFiles(df: DataFrame, tablePath: String,
                     partitionCols: Seq[String] = Nil,
                     writeOptions: Map[String, String] = Map.empty): Seq[AddFile] =
    DataFileWriter.write(df, tablePath, partitionCols = partitionCols,
      options = writeOptions).map(_.add)

  /** Footer stats for a relative file list under `root` — THE shared
    * distributed-harvest shape (writeDataFiles for large commits,
    * GraftTable.convert for large imports): per-file footer open+parse
    * round-trips must not serialize on the driver at 1M-file scale, so
    * beyond a small threshold the harvest runs as one executor job. The
    * root ships as an ABSOLUTE path (executors may have a different
    * working directory), and every footer open shares the JVM's
    * [[baseConf]] (a fresh one per file would re-parse the default XML
    * resources — a large fraction of per-file cost at the motivating
    * scale). Small lists keep the no-job driver loop.
    *
    * DEPLOYMENT REQUIREMENT — shared filesystem: the executor closure
    * touches the data plane through `java.nio.Files` (and the
    * Hadoop-wrapped local path), so every executor must see `root` at the
    * same path the driver does — a POSIX/NFS/FUSE-mounted shared
    * filesystem, the same assumption Spark's own `file:` scheme reads
    * make. This is a DATA-plane constraint only and is deliberately
    * narrower than the log's [[LogStore]] seam: commit ATOMICITY rides the
    * LogStore; the harvest is plain bulk reads, where Delta likewise goes
    * straight to the filesystem API. An object-store deployment mounts
    * (s3-fuse/NFS gateways) or swaps this one function for its native
    * client — the signature (rel → narrow stat tuple) is the seam.
    * `GraftTable.vacuum`'s distributed listing/delete shares the same
    * requirement. */
  def harvestStats(spark: org.apache.spark.sql.SparkSession, root: String,
      rels: Seq[String]): Seq[(String, Long, Long, Long, Map[String, String],
      Map[String, String], Map[String, Long])] = {
    val absRoot = Paths.get(root).toAbsolutePath.toString
    def one(rel: String): (String, Long, Long, Long,
        Map[String, String], Map[String, String], Map[String, Long]) = {
      val p = Paths.get(absRoot, rel)
      val (rows, mins, maxs, nulls) = footerStats(p)
      // real mtime rides along (one extra stat in the same executor pass):
      // CONVERT records each imported file's actual modification time, the
      // audit metadata reference Delta keeps — never a synthetic commit-time
      (rel, rows, Files.size(p), Files.getLastModifiedTime(p).toMillis,
        mins, maxs, nulls)
    }
    if (rels.size <= 256) rels.map(one)
    else {
      import spark.implicits._
      spark.createDataset(rels).mapPartitions(_.map(one)).collect().toSeq.sortBy(_._1)
    }
  }

  /** Row count + min/max per top-level primitive column from the parquet
    * footer. Only stat types with a total order both here and in predicate
    * literals are kept: int32/int64/float/double and UTF-8 binary. */
  def footerStats(file: Path): (Long, Map[String, String], Map[String, String], Map[String, Long]) =
    footerStats(HadoopInputFile.fromPath(new HPath(file.toString), baseConf), baseConf)

  def footerStats(in: InputFile, conf: Configuration): (Long, Map[String, String], Map[String, String], Map[String, Long]) = {
    val reader = ParquetFileReader.open(in, readOptions(conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val mins = scala.collection.mutable.Map[String, String]()
      val maxs = scala.collection.mutable.Map[String, String]()
      val undecided = scala.collection.mutable.Set[String]()
      val stringCols = scala.collection.mutable.Set[String]()
      // null counts track independently of min/max: an all-null column has
      // no min/max but a perfectly valid (and useful) null count; a single
      // row group without the stat poisons the column to "unknown"
      val nulls = scala.collection.mutable.Map[String, Long]()
      val nullsUnknown = scala.collection.mutable.Set[String]()
      for (block <- blocks; col <- block.getColumns.asScala) {
        if (col.getPath.size == 1) {
          val name = col.getPath.iterator().next()
          val st = col.getStatistics
          if (st != null && !st.isEmpty && st.isNumNullsSet && !nullsUnknown(name))
            nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
          else { nullsUnknown += name; nulls.remove(name) }
        }
      }
      for (block <- blocks; col <- block.getColumns.asScala) {
        if (col.getPath.size == 1) {
          val name = col.getPath.iterator().next()
          val st = col.getStatistics
          val pt = col.getPrimitiveType
          if (st == null || st.isEmpty || !st.hasNonNullValue || undecided(name)) {
            undecided += name; mins.remove(name); maxs.remove(name)
          } else {
            val isString = pt.getLogicalTypeAnnotation != null &&
              pt.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            // INT32/INT64 stats are raw storage values — sound to compare
            // only when the logical annotation says the storage value IS
            // the Catalyst value (plain signed int, epoch-day date), or
            // after normalizing timestamps to the micros DataSkipping
            // compares against (hashProbe below does the same for blooms).
            // A convert()-imported foreign file can carry MILLIS/NANOS;
            // recording those raw would let skipping unsoundly prune
            // matching files and MetadataOnlyCount serve 1000×-off MIN/MAX.
            // Anything else (decimal, time, unsigned) → no stats.
            import LogicalTypeAnnotation._
            val ann = pt.getLogicalTypeAnnotation
            def plainInt: Boolean = ann match {
              case null => true
              case i: IntLogicalTypeAnnotation => i.isSigned
              case _: DateLogicalTypeAnnotation => true
              case _ => false
            }
            def toMicros(raw: Long, u: TimeUnit): Option[Long] = u match {
              case TimeUnit.MICROS => Some(raw)
              case TimeUnit.MILLIS => Some(Math.multiplyExact(raw, 1000L))
              // NANOS: the only way Spark materializes a NANOS column is as
              // LongType holding RAW NANOS (legacy nanosAsLong conf) — there
              // is no readable representation for which a micros
              // normalization is correct, so record no stats at all
              case _ => None
            }
            val mm: Option[(String, String)] = pt.getPrimitiveTypeName match {
              case INT32 if plainInt =>
                Some((st.genericGetMin.toString, st.genericGetMax.toString))
              case INT64 => ann match {
                case ts: TimestampLogicalTypeAnnotation =>
                  try for {
                    lo <- toMicros(st.genericGetMin.asInstanceOf[java.lang.Long], ts.getUnit)
                    hi <- toMicros(st.genericGetMax.asInstanceOf[java.lang.Long], ts.getUnit)
                  } yield (lo.toString, hi.toString)
                  catch { case _: ArithmeticException => None } // micros overflow
                case _ if plainInt =>
                  Some((st.genericGetMin.toString, st.genericGetMax.toString))
                case _ => None
              }
              case FLOAT | DOUBLE =>
                Some((st.genericGetMin.toString, st.genericGetMax.toString))
              case BINARY if isString =>
                Some((st.minAsString, st.maxAsString))
              case _ => None
            }
            mm match {
              case Some((lo, hi)) =>
                if (isString) stringCols += name
                mins(name) = mins.get(name).map(m => minOf(m, lo, isString || pt.getPrimitiveTypeName == BINARY)).getOrElse(lo)
                maxs(name) = maxs.get(name).map(m => maxOf(m, hi, isString || pt.getPrimitiveTypeName == BINARY)).getOrElse(hi)
              case None =>
                undecided += name
            }
          }
        }
      }
      // Long-string stats TRUNCATE before entering the log (Delta's
      // dataSkippingStringPrefixLength shape): a document-text column must
      // not put kilobytes of min/max into EVERY AddFile — at millions of
      // files that bloats the log/checkpoint by orders of magnitude and
      // every snapshot fold pays it. A 32-char prefix keeps the bounds
      // sound: prefix(min) <= min, and max's prefix with its last
      // non-￿ char incremented-and-cut is > max (pruning only ever
      // widens). If no char can be incremented (astronomically unlikely),
      // the column's stats drop entirely — DataSkipping treats absent
      // bounds as "keep".
      for (name <- stringCols) {
        mins.get(name).filter(_.length > StatsTruncateLen)
          .foreach(m => mins(name) = m.substring(0, StatsTruncateLen))
        maxs.get(name).filter(_.length > StatsTruncateLen).foreach { m =>
          truncateUpper(m) match {
            // pad to the truncation length: a widened bound must stay
            // DETECTABLE as widened (metadataMinMax refuses length >= 32)
            // even when the increment position cut it short; appending
            // padding keeps it an upper bound (equal-prefix-longer sorts
            // higher), so pruning soundness is unchanged
            case Some(u) => maxs(name) = u.padTo(StatsTruncateLen, ' ')
            case None    => mins.remove(name); maxs.remove(name)
          }
        }
      }
      (rows, mins.toMap, maxs.toMap, nulls.toMap)
    } finally reader.close()
  }

  /** Max length of a string min/max stat persisted into the log. */
  val StatsTruncateLen = 32

  /** Sound UPPER bound for any string with prefix `s.take(len)`: the
    * prefix with its rightmost incrementable char bumped, rest cut. */
  private[table] def truncateUpper(s: String, len: Int = StatsTruncateLen): Option[String] = {
    val p = s.substring(0, len)
    val i = p.lastIndexWhere(_ != Char.MaxValue)
    if (i < 0) None else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  private def minOf(a: String, b: String, str: Boolean): String =
    if (str) { if (a <= b) a else b }
    else { if (BigDecimal(a) <= BigDecimal(b)) a else b }

  private def maxOf(a: String, b: String, str: Boolean): String =
    if (str) { if (a >= b) a else b }
    else { if (BigDecimal(a) >= BigDecimal(b)) a else b }

  /** Absolute DV reference: a legacy sidecar resolves against the table
    * root; a descriptor rides whole (the root rides inside, see
    * DeltaDeletionVectors.packAbs). */
  private def dvAbs(tableRoot: String, dvPath: String): String =
    if (DeltaDeletionVectors.isDescriptor(dvPath))
      DeltaDeletionVectors.packAbs(tableRoot, dvPath)
    else java.nio.file.Paths.get(tableRoot, dvPath).toString

  /** One data file's deletion vector as a scan task loads it: `dv` is the
    * absolute DV reference, `fname` the file's table-relative path and
    * `fileAbs` its absolute path (`<table root>/<fname>`).
    * `requireQualified` is the planner's verdict
    * ([[dvBasenameCollisions]]) that this file shares (legacy sidecar,
    * basename) with another live file: a bare-basename entry is then
    * genuinely unattributable and must refuse, never silently tombstone
    * both twins. */
  final case class DvRef(dv: String, fname: String, fileAbs: String,
      requireQualified: Boolean)

  /** The [[DvRef]] of each file of `files` that carries a DV, keyed by
    * its table-relative path: the one place a scan, the streaming source,
    * the SPJ scan and the row-level write build one. `live` must hold
    * every live file sharing a legacy sidecar with `files` (see
    * [[dvBasenameCollisions]]). Driver metadata only, no file is opened. */
  def dvRefs(tableRoot: String, files: Seq[AddFile],
      live: Seq[AddFile]): Map[String, DvRef] = {
    val withDv = files.filter(_.dvPath.isDefined)
    if (withDv.isEmpty) Map.empty
    else {
      val strict = dvBasenameCollisions(live)
      withDv.map(f => f.path -> DvRef(dvAbs(tableRoot, f.dvPath.get), f.path,
        java.nio.file.Paths.get(tableRoot, f.path).toString, strict(f.path))).toMap
    }
  }

  /** Tombstone BitSet of one file's DV — the ONLY code that turns a
    * deletion vector into skipped rows, for every scan: the batch reads
    * ([[LiveRows]]), the row-level prior-tombstone merge, the streaming
    * source, the SQL group scan and the SPJ scan. Dispatches between the
    * Delta descriptor and the legacy parquet sidecar. */
  def dvBitsFor(ref: DvRef): java.util.BitSet =
    if (DeltaDeletionVectors.isDescriptorAbs(ref.dv))
      DeltaDeletionVectors.bitsAbs(ref.dv)
    else dvPositions(java.nio.file.Paths.get(ref.dv), ref.fname, ref.fileAbs,
      ref.requireQualified)

  /** Table-relative paths of the files in `files` that share (legacy
    * sidecar, basename) with another file in `files` — for those, a LEGACY
    * bare-basename sidecar entry is unattributable and [[dvBitsFor]] must
    * be asked to refuse it. Sidecars since round 15 spell the relative
    * path, so healthy shared sidecars never set the refusal off, and a
    * descriptor is per file, so it never does.
    *
    * CONTRACT: `files` must contain every live file sharing a sidecar
    * with the planned set — the snapshot's full live set for batch scans
    * (a pruned twin must still force the refusal for its survivor), or a
    * single commit's adds for the streaming tail (complete by
    * construction: a sidecar-writing DV commit re-added every file of its
    * sidecar in that same commit, and a shallow clone lands all source
    * references in one commit). */
  private def dvBasenameCollisions(files: Seq[AddFile]): Set[String] =
    files.filter(_.dvPath.exists(p => !DeltaDeletionVectors.isDescriptor(p)))
      .groupBy(f => (f.dvPath.get,
        f.path.substring(f.path.lastIndexOf('/') + 1)))
      .collect { case (_, fs) if fs.size > 1 => fs.map(_.path) }
      .flatten.toSet

  /** The scheme prefix Spark's `_metadata.file_path` carries and graft's
    * provenance keys drop (`regexp_replace(file_path, FileScheme, "/")`). */
  val FileScheme = "^file:/+"

  /** The batch scans' deletion-vector state for one scan: `dvOf` maps
    * each DV file's provenance key (`_metadata.file_path` without its
    * [[FileScheme]]) to its [[DvRef]]; a file not in the map keeps every
    * row. Each task holds its own copy and decodes a
    * file's DV through [[dvBitsFor]] when the first row of that file
    * reaches it, so only the files a scan keeps are ever decoded, and no
    * sidecar is read on the driver. Rows of one file arrive together, so a
    * row costs one comparison of its `file_path` bytes with the previous
    * row's. */
  final class LiveRows(dvOf: Map[String, DvRef])
      extends Serializable {
    @transient private lazy val loaded =
      scala.collection.mutable.HashMap.empty[String, java.util.BitSet]
    @transient private var lastKey: UTF8String = _
    @transient private var lastBits: java.util.BitSet = _

    def live(key: UTF8String, pos: Long): Boolean = {
      if (key != lastKey) {
        val k = key.toString.replaceFirst(FileScheme, "/")
        lastBits = dvOf.get(k).map(ref => loaded.getOrElseUpdate(k, dvBitsFor(ref))).orNull
        lastKey = key.clone()
      }
      lastBits == null || !lastBits.get(pos.toInt)
    }
  }

  /** `dv_live(file_path, row_index)`: whether [[LiveRows]] keeps the row
    * — the filter a batch scan applies in its parquet leaf when some of
    * its files carry a DV. A Catalyst expression rather than a UDF: its
    * generated code is one call, with no per-row string conversion. */
  final case class LiveRow(left: Expression, right: Expression, rows: LiveRows)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(key: Any, pos: Any): Any =
      rows.live(key.asInstanceOf[UTF8String], pos.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val r = ctx.addReferenceObj("liveRows", rows)
      defineCodeGen(ctx, ev, (key, pos) => s"$r.live($key, $pos)")
    }
    override def prettyName: String = "dv_live"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): LiveRow =
      copy(left = l, right = r)
  }

  /** Load one data file's deletion-vector tombstones from a legacy `_dv/`
    * sidecar (columns fname/pos, written sorted by releases before the
    * Delta descriptor became the one format) as a BitSet over row
    * indexes — parquet-mr only, reached through [[dvBitsFor]]. A file's
    * positions are bounded by its row count (~1M for 128 MB), so the
    * bitmap is ≤ ~128 KB. */
  def dvPositions(sidecar: Path, fname: String, fileAbs: String,
      requireQualified: Boolean = false): java.util.BitSet = {
    val bits = new java.util.BitSet()
    val reader = openParquet(sidecar)
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      // round-16 sidecars carry the `rel` FORMAT MARKER column: every
      // entry stores the full path relative to the root of the table that
      // wrote it (the parent of the sidecar's `_dv/`), so a bare basename
      // is a genuine root-level file and the legacy-ambiguity refusal
      // never applies. An entry matches when it is the reader's `fname`
      // or, resolved against that root, names the same file as `fileAbs`:
      // a shallow clone reads its source's sidecar with an escaped fname
      // ("../src/p=b1/part-0.parquet"), and only the entry that resolves
      // to that file binds, never a same-named file elsewhere. The marker
      // is explicit format metadata, not inferred from '/' presence: a
      // root-level file's round-16 entry IS a bare basename.
      val markedRel = schema.containsField("rel")
      lazy val sidecarRoot = sidecar.toAbsolutePath.normalize.getParent.getParent
      lazy val file = java.nio.file.Paths.get(fileAbs).toAbsolutePath.normalize
      // LEGACY sidecars: PATH-SUFFIX matching, one direction only —
      // round-15 entries store the table-relative path, pre-round-15 the
      // bare basename, and a shallow CLONE's reader passes an escaped
      // spelling ("../src/p=b1/part-0.parquet"); the STORED spelling is
      // never more qualified than the reader's `fname`, so only `stored`
      // may be a '/'-bounded suffix of `fname`.
      def matchesNow(stored: String): Boolean =
        if (markedRel) stored == fname || sidecarRoot.resolve(stored).normalize == file
        else stored == fname || fname.endsWith("/" + stored)
      // entries are sorted by file name: one path resolution per file
      var lastStored: String = null
      var lastMatch = false
      def matches(stored: String): Boolean = {
        if (stored != lastStored) { lastStored = stored; lastMatch = matchesNow(stored) }
        lastMatch
      }
      var rg = Option(reader.readNextRowGroup())
      while (rg.isDefined) {
        val rr = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
          .getRecordReader(rg.get,
            new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(schema))
        (0L until rg.get.getRowCount).foreach { _ =>
          val g = rr.read()
          val stored = g.getBinary("fname", 0).toStringUsingUTF8
          if (matches(stored)) {
            if (!markedRel && requireQualified && !stored.contains('/'))
              throw new GraftProtocolException(
                s"a legacy deletion-vector sidecar entry ('$stored' in " +
                  s"$sidecar) names more than one live file — the entry " +
                  "cannot be attributed; rewrite the files (OPTIMIZE after " +
                  "a copy-on-write DELETE) to clear the ambiguous state")
            bits.set(g.getLong("pos", 0).toInt)
          }
        }
        rg = Option(reader.readNextRowGroup())
      }
      bits
    } finally reader.close()
  }

  /** Point-lookup check against the file's native parquet bloom filters
    * (written via `parquet.bloom.filter.enabled#col` on the table's bloom
    * columns). `probes` maps column → candidate equality values (Catalyst
    * internal literals); returns false only when SOME probe column has a
    * bloom in every row group and NO candidate value can be present —
    * i.e. the file provably contains no matching row. Conservative on any
    * gap: missing bloom, unknown physical type, or value-conversion
    * mismatch keeps the file.
    *
    * This runs on the DRIVER over footer metadata only (a few KB per
    * file), and only for files that survive min/max skipping — the same
    * cost class as Delta's stats read, and what makes a needle-in-100-TB
    * point lookup read one file instead of every file whose [min,max]
    * straddles the key. */
  def bloomMayMatch(file: Path, probes: Map[String, Seq[Any]]): Boolean = {
    if (probes.isEmpty) return true
    val reader = openParquet(file)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      // the file may match iff SOME row group may satisfy ALL probe columns
      blocks.exists { block =>
        probes.forall { case (name, values) =>
          block.getColumns.asScala.find(c =>
            c.getPath.size == 1 && c.getPath.iterator().next() == name) match {
            case None => true
            case Some(chunk) =>
              val bf = try reader.getBloomFilterDataReader(block).readBloomFilter(chunk)
                       catch { case _: Exception => null }
              if (bf == null) true // no bloom written → cannot skip
              else {
                val isString = chunk.getPrimitiveType.getLogicalTypeAnnotation != null &&
                  chunk.getPrimitiveType.getLogicalTypeAnnotation
                    .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
                values.exists { v =>
                  hashProbe(bf, chunk.getPrimitiveType, isString, v)
                    .forall(bf.findHash)
                }
              }
          }
        }
      }
    } finally reader.close()
  }

  /** Type-faithful bloom hash of a Catalyst literal: the overload must match
    * the PHYSICAL type parquet hashed at write time, AND the stored VALUE must
    * equal the Catalyst value. The second condition is where logical type
    * annotations matter: an INT64 column annotated TIMESTAMP(MILLIS) stores
    * millis while the Catalyst literal is micros — hashing micros would make
    * every probe miss and wrongly prune files that DO contain the key. So for
    * INT32/INT64 we hash only when the annotation is absent, a plain int, or a
    * date (Catalyst date literals are the same epoch-day ints parquet stores),
    * convert timestamps to the stored unit, and return None (may-match) for
    * anything else (decimal, time, unsigned reinterpretations). */
  private def hashProbe(bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
                        primType: org.apache.parquet.schema.PrimitiveType,
                        isString: Boolean, v: Any): Option[Long] = {
    import LogicalTypeAnnotation._
    val pt = primType.getPrimitiveTypeName
    val ann = primType.getLogicalTypeAnnotation
    def plainInt: Boolean = ann match {
      case null => true
      case i: IntLogicalTypeAnnotation => i.isSigned // unsigned reinterprets bits
      case _: DateLogicalTypeAnnotation => true      // epoch-day int == Catalyst
      case _ => false
    }
    try pt match {
      case INT32 => v match {
        case n: java.lang.Number if plainInt => Some(bf.hash(n.intValue()))
        case _ => None
      }
      case INT64 => (v, ann) match {
        case (n: java.lang.Number, ts: TimestampLogicalTypeAnnotation) =>
          // Catalyst timestamp literals are micros since epoch; convert to
          // the unit parquet actually stored before hashing.
          val micros = n.longValue()
          ts.getUnit match {
            case TimeUnit.MICROS => Some(bf.hash(micros))
            case TimeUnit.MILLIS => Some(bf.hash(Math.floorDiv(micros, 1000L)))
            case TimeUnit.NANOS  => Some(bf.hash(Math.multiplyExact(micros, 1000L)))
            case _ => None
          }
        case (n: java.lang.Number, _) if plainInt => Some(bf.hash(n.longValue()))
        case _ => None
      }
      case DOUBLE => v match {
        case n: java.lang.Number => Some(bf.hash(n.doubleValue()))
        case _ => None
      }
      case FLOAT => v match {
        case n: java.lang.Number => Some(bf.hash(n.floatValue()))
        case _ => None
      }
      case BINARY if isString =>
        Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(v.toString)))
      case _ => None
    } catch { case _: Exception => None }
  }
}
