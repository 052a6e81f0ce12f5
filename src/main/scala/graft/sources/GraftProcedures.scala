package graft.sources

import graft.table.GraftTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL stored procedures for table MAINTENANCE — the commands Delta
  * surfaces as custom parsed statements (OPTIMIZE / VACUUM / RESTORE),
  * expressed through Spark 4's public DSv2 procedure API instead (no
  * parser extension needed):
  *
  * {{{
  *   CALL graft.system.optimize(`table` => 'default.events', zorder_by => 'a,b')
  *   CALL graft.system.vacuum(`table` => 'default.events', retain_versions => 2)
  *   CALL graft.system.restore(`table` => 'default.events', version => 3)
  * }}}
  *
  * `table` accepts a catalog name ("ns.t") or a direct path ("/data/t").
  * Each procedure returns a one-row metrics result (a `LocalScan` — the
  * figures come from the driver-side log, no job runs to report them). */
object GraftProcedures {

  val names: Seq[String] =
    Seq("optimize", "vacuum", "restore", "convert", "import_delta",
        "adopt_delta", "generate_manifest", "cleanup_logs", "clone",
        "fsck", "drop_feature", "help")

  def load(catalog: GraftCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the `system` namespace, got ${ident.namespace.mkString(".")}")
    ident.name.toLowerCase match {
      case "optimize" => OptimizeProc(catalog)
      case "vacuum"   => VacuumProc(catalog)
      case "restore"  => RestoreProc(catalog)
      case "convert"  => ConvertProc(catalog)
      case "import_delta" => ImportDeltaProc(catalog)
      case "adopt_delta" => AdoptDeltaProc(catalog)
      case "generate_manifest" => GenerateManifestProc(catalog)
      case "cleanup_logs" => CleanupLogsProc(catalog)
      case "clone" => CloneProc(catalog)
      case "fsck" => FsckProc(catalog)
      case "drop_feature" => DropFeatureProc(catalog)
      case "help" => HelpProc(catalog)
      case other => throw new IllegalArgumentException(
        s"unknown procedure graft.system.$other (have: ${names.mkString(", ")})")
    }
  }

  /** Resolve the `table` argument: path if it looks like one, else a
    * (possibly namespace-qualified) name in this catalog. */
  private def resolve(catalog: GraftCatalog, table: String): GraftTable = {
    val spark = SparkSession.active
    if (table.contains("/")) GraftTable.forPath(spark, table)
    else {
      val parts = table.split('.')
      val ident =
        if (parts.length == 1) Identifier.of(Array("default"), parts(0))
        else Identifier.of(parts.init, parts.last)
      catalog.loadTable(ident) match {
        case g: GraftSqlTable => g.table
        case other => throw new IllegalArgumentException(s"not a graft table: $other")
      }
    }
  }

  private def row(values: Any*): InternalRow =
    new GenericInternalRow(values.toArray)

  private def resultScan(schema: StructType, rs: InternalRow*): java.util.Iterator[Scan] =
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = rs.toArray
    }).iterator()

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def paramD(name: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  abstract class GraftProc(name0: String) extends UnboundProcedure with BoundProcedure {
    override def name(): String = name0
    override def description(): String = s"graft table maintenance: $name0"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
  }

  case class OptimizeProc(catalog: GraftCatalog) extends GraftProc("optimize") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramD("target_file_bytes", LongType, (128L * 1024 * 1024).toString),
      paramD("zorder_by", StringType, "''"),
      paramD("cluster_by", StringType, "''"),
      // scope the rewrite to files that may hold matching rows — at 100 TB
      // you OPTIMIZE the hot partition after its ingest churn
      paramD("where", StringType, "''"),
      // Delta's `OPTIMIZE t FULL`: on a clustering-property table,
      // re-cluster every in-scope file, conforming or not
      paramD("full", BooleanType, "false"),
      // "column,count" — re-bucket the table to bucket(count, column):
      // the one legal full-rewrite escape from create-time bucketing
      // immutability (layout swaps in the same commit; standalone only)
      paramD("rebucket_to", StringType, "''"))

    private val out = StructType(Seq(
      StructField("files_before", LongType, nullable = false),
      StructField("files_after", LongType, nullable = false),
      StructField("version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val t = resolve(catalog, input.getUTF8String(0).toString)
      val target = if (input.isNullAt(1)) 128L * 1024 * 1024 else input.getLong(1)
      def cols(i: Int): Seq[String] =
        if (input.isNullAt(i)) Nil
        else input.getUTF8String(i).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val where =
        if (input.isNullAt(4)) None
        else Some(input.getUTF8String(4).toString.trim).filter(_.nonEmpty)
          .map(org.apache.spark.sql.functions.expr)
      val before = t.snapshot.files.size.toLong
      val full = !input.isNullAt(5) && input.getBoolean(5)
      val rebucket: Option[(String, Int)] =
        if (input.isNullAt(6)) None
        else Some(input.getUTF8String(6).toString.trim).filter(_.nonEmpty).map { s =>
          s.split(',').map(_.trim).filter(_.nonEmpty) match {
            case Array(c, n) if n.toIntOption.exists(_ > 0) => (c, n.toInt)
            case _ => throw new IllegalArgumentException(
              s"rebucket_to must be 'column,positive count', got '$s'")
          }
        }
      t.optimize(targetFileBytes = target, clusterBy = cols(3), zorderBy = cols(2),
        where = where, full = full, rebucketTo = rebucket)
      val s = t.snapshot
      resultScan(out, row(before, s.files.size.toLong, s.version))
    }
  }

  /** `CALL graft.system.fsck(`table` => ..., dry_run => true|false)` —
    * FSCK REPAIR TABLE: drop log entries whose physical data file (or DV
    * sidecar) is missing so the table reads again; dry_run audits without
    * committing. One row per missing file. */
  case class FsckProc(catalog: GraftCatalog) extends GraftProc("fsck") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramD("dry_run", BooleanType, "false"))

    private val out = StructType(Seq(
      StructField("missing_file", StringType, nullable = false),
      StructField("repaired", BooleanType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val t = resolve(catalog, input.getUTF8String(0).toString)
      val dry = !input.isNullAt(1) && input.getBoolean(1)
      val missing = t.fsck(dryRun = dry)
      resultScan(out, missing.map(m => row(
        org.apache.spark.unsafe.types.UTF8String.fromString(m), !dry)): _*)
    }
  }

  case class VacuumProc(catalog: GraftCatalog) extends GraftProc("vacuum") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramD("retain_versions", IntegerType, "0"),
      // -1: resolve the table's vacuum.retentionMs property (7d fallback);
      // the age guard keeps uncommitted in-flight executor files safe from
      // a user-invoked vacuum.
      paramD("retention_ms", LongType, "-1"),
      // dry run: report what WOULD be deleted, delete nothing — the audit
      // step before an irreversible retention sweep
      paramD("dry_run", BooleanType, "false"))

    private val out = StructType(Seq(
      StructField("deleted_files", LongType, nullable = false),
      StructField("dry_run", BooleanType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val t = resolve(catalog, input.getUTF8String(0).toString)
      val retain = if (input.isNullAt(1)) 0 else input.getInt(1)
      val retention = if (input.isNullAt(2)) -1L else input.getLong(2)
      val dry = !input.isNullAt(3) && input.getBoolean(3)
      val n = if (dry) t.vacuumDryRun(retain, retention).size
              else t.vacuum(retain, retention)
      resultScan(out, row(n.toLong, dry))
    }
  }

  /** `CALL graft.system.cleanup_logs(`table` => ..., retention_ms => ...)`
    * — Delta's metadata cleanup (logRetentionDuration): prune commit and
    * checkpoint files older than the retention window up to the newest
    * in-window checkpoint; time travel older than retention dies. */
  /** `CALL graft.system.help()` — the deployment-facing documentation
    * surface: every procedure, session conf, and table property the engine
    * reads, each with a one-line description. Optional `topic` substring
    * filter. Static driver-side rows — no table, no job. */
  case class HelpProc(catalog: GraftCatalog) extends GraftProc("help") {
    override def parameters(): Array[ProcedureParameter] = Array(
      paramD("topic", StringType, "''"))

    private val out = StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("description", StringType, nullable = false)))

    private val entries: Seq[(String, String, String)] = Seq(
      ("procedure", "optimize",
        "bin-pack small files (target_file_bytes; outputs land in [target, 2x target) for convergence); cluster_by/zorder_by re-cluster; full => true rewrites everything; where scopes files; rebucket_to => 'col,n' swaps the hash-bucket layout in one full rewrite"),
      ("procedure", "vacuum",
        "delete unreferenced data files past retention (retain_versions / retention_ms; dry_run => true lists only); listing/stat/delete distribute past 1024 candidates"),
      ("procedure", "restore", "roll the table head back to an earlier version as a NEW commit"),
      ("procedure", "convert", "import an existing parquet directory as commit 0 (footer-stat harvest distributes; real file mtimes recorded)"),
      ("procedure", "import_delta", "copy a REAL delta-spark table (read natively via the round-13 interop) into a fresh graft table, preserving schema and partitioning; optional version pins the source snapshot"),
      ("procedure", "adopt_delta", "take ownership of a REAL delta-spark table IN PLACE (zero copy at any size): one delta-shaped adopting commit enables compat.delta.write; graft DML/maintenance unlock while delta readers keep replaying the log; refuses protocols graft cannot continue"),
      ("procedure", "generate_manifest", "write a symlink-format manifest of the current snapshot"),
      ("procedure", "cleanup_logs", "drop expired commit files behind the checkpoint floor (log.retentionMs)"),
      ("procedure", "drop_feature",
        "remove a no-longer-used protocol feature (deletionVectors after an OPTIMIZE purge, changeDataFeed) via the checkpoint-protected drop: boundary checkpoint + delta.requireCheckpointProtectionBeforeVersion"),
      ("procedure", "clone", "shallow clone: new table referencing the source's files in place, optionally at an older version"),
      ("procedure", "fsck", "verify data files against the log; repair => true drops dangling references"),
      ("procedure", "help", "this listing (topic => substring filter)"),
      ("conf", "spark.graft.logStore.class",
        "LogStore implementation for the commit log (Scala object or zero-arg class); default PosixLogStore; resolved at table load — object stores plug a putIfAbsent shim here"),
      ("conf", "spark.graft.spj.enabled",
        "storage-partitioned joins: partitioned tables serve a KeyGroupedPartitioning DSv2 scan so co-partitioned fact joins plan zero shuffle; default true; false restores the V1 scan wholesale"),
      ("conf", "spark.sql.sources.v2.bucketing.enabled",
        "Spark's SPJ master switch (default true in Spark 4); joining on (partKey, extraKey) additionally wants spark.sql.requireAllClusterKeysForCoPartition=false"),
      ("property", "deletionVectors.enabled",
        "merge-on-read DML: DELETE/UPDATE/MERGE commit tombstone sidecars instead of rewriting files; OPTIMIZE purges the debt"),
      ("property", "changeDataFeed.enabled",
        "capture row-level change feeds (_cdc sidecars); read via table_changes / readChangeFeed"),
      ("property", "clustering.columns",
        "declared clustering (+ clustering.curve = zorder|range): bare OPTIMIZE maintains it incrementally, skipping conforming files"),
      ("property", "variant.shred.paths",
        "column:$.path:type triples: writes materialize try_variant_get as typed stat columns so try_variant_get predicates data-skip files"),
      ("property", "bloom.columns",
        "native parquet bloom filters on these columns (+ bloom.ndv); =/IN predicates consult them for file skipping"),
      ("property", "checkpoint.format",
        "json | parquet (+ checkpoint.partSize): checkpoint encoding; multipart parquet parts encode concurrently"),
      ("property", "log.retentionMs", "commit-file retention for cleanup_logs (default 30 days)"),
      ("property", "vacuum.retentionMs", "data-file retention for vacuum (default 7 days)"),
      ("property", "optimizeWrite.enabled",
        "pre-shuffle partitioned writes on the partition columns: one file per partition value instead of tasks x values"),
      ("property", "rowTracking.enabled", "stable row ids materialized through rewrites; SELECT _row_id"),
      ("property", "columnMapping.mode",
        "column mapping: RENAME/DROP COLUMN without rewriting data; name mode is enableable, id mode arrives via adopt_delta (mapped compat writes stamp parquet field ids)"),
      ("property", "delta.enableInCommitTimestamps",
        "in-commit timestamps under compat: commitInfo carries the authoritative inCommitTimestamp + the delta 4.x feature; enablement markers pinned at the enabling commit"),
      ("property", "appendOnly", "reject deletes/updates/truncates at the commit gate"),
      ("property", "dataSkipping.numIndexedCols",
        "min/max/null stats recorded for the first N schema columns only (default 32, Delta's default); partition/clustering/identity columns always kept; -1 indexes every column"),
      ("property", "compat.delta.write",
        "emit commits and checkpoints in genuine delta action shape so real Delta readers open the table; graft keeps writing it (ownership markers); DV/CDF/columnMapping/VARIANT/NTZ/rowTracking/ICT/typeWidening/column-defaults/clustering all emit standard spellings — only legacy `_dv/` DV sidecars refuse"),
      ("property", "clustering.columns",
        "incremental clustering maintained by OPTIMIZE (SQL: CREATE/ALTER TABLE ... CLUSTER BY); under compat the delta.clustering domain (physical-name spelling) rides every commit and checkpoint so foreign engines see the layout advice; adopt_delta folds a foreign domain back onto this property"),
      ("property", "graft.existenceDefaults",
        "columns added with ADD COLUMN ... DEFAULT whose EXISTS_DEFAULT is load-bearing (pre-add files fill it at scan); blocks compat.delta.write until OPTIMIZE materializes the values"),
      ("property", "bucketing.column",
        "hash bucketing (+ bucketing.count): files land in hidden __bucket dirs by pmod(hash(col), n); two same-shape bucketed CATALOG tables join with zero shuffle (bucket SPJ); create-time only"))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val topic =
        if (input.numFields < 1 || input.isNullAt(0)) ""
        else input.getUTF8String(0).toString.toLowerCase
      val rows = entries.filter { case (k, n, d) =>
        topic.isEmpty || s"$k $n $d".toLowerCase.contains(topic)
      }.map { case (k, n, d) =>
        row(UTF8String.fromString(k), UTF8String.fromString(n),
          UTF8String.fromString(d))
      }
      resultScan(out, rows: _*)
    }
  }

  /** `CALL graft.system.drop_feature(table => ..., feature => ...)` —
    * delta's ALTER TABLE ... DROP FEATURE as a procedure: remove a
    * no-longer-used protocol feature via the checkpoint-protected drop
    * (GraftTable.dropFeature). */
  case class DropFeatureProc(catalog: GraftCatalog) extends GraftProc("drop_feature") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("feature", StringType))

    private val out = StructType(Seq(
      StructField("dropped", StringType, nullable = false),
      StructField("protected_below_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val t = resolve(catalog, input.getUTF8String(0).toString)
      val feature = input.getUTF8String(1).toString
      t.dropFeature(feature)
      resultScan(out, row(UTF8String.fromString(feature), t.latestVersion))
    }
  }

  case class CleanupLogsProc(catalog: GraftCatalog) extends GraftProc("cleanup_logs") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramD("retention_ms", LongType, "-1")) // -1: table's log.retentionMs / 30d

    private val out = StructType(Seq(
      StructField("deleted_files", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val t = resolve(catalog, input.getUTF8String(0).toString)
      val retention = if (input.isNullAt(1)) -1L else input.getLong(1)
      resultScan(out, row(t.cleanupExpiredLogs(retention).toLong))
    }
  }

  /** `CALL graft.system.clone(`table` => ..., target => '/path',
    * version => n?)` — Delta's SHALLOW CLONE as a procedure: a new table
    * whose commit 0 references the source's data files in place (zero
    * copy at any size), optionally pinned to a historical version. */
  case class CloneProc(catalog: GraftCatalog) extends GraftProc("clone") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("target", StringType),
      paramD("version", LongType, "-1")) // -1: clone the head

    private val out = StructType(Seq(
      StructField("cloned_version", LongType, nullable = false),
      StructField("target_path", StringType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val t = resolve(catalog, input.getUTF8String(0).toString)
      val target = input.getUTF8String(1).toString
      val v = if (input.isNullAt(2) || input.getLong(2) < 0) t.latestVersion
              else input.getLong(2)
      t.cloneTo(target, asOfVersion = Some(v))
      resultScan(out, row(v,
        org.apache.spark.unsafe.types.UTF8String.fromString(target)))
    }
  }

  /** `CALL graft.system.convert(path => '/data/existing-parquet')` —
    * Delta's CONVERT TO DELTA as a procedure: in-place import of a
    * parquet directory as commit 0 (files referenced where they are,
    * footer-harvested stats, Hive partition dirs auto-detected). */
  case class ConvertProc(catalog: GraftCatalog) extends GraftProc("convert") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("path", StringType))

    private val out = StructType(Seq(
      StructField("num_files", LongType, nullable = false),
      StructField("num_rows", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val t = GraftTable.convert(SparkSession.active, input.getUTF8String(0).toString)
      val s = t.snapshot
      resultScan(out, row(s.files.size.toLong, s.files.map(_.numRecords).sum))
    }
  }

  /** `CALL graft.system.import_delta(source => '/delta/t', dest => '/graft/t')`
    * — the MIGRATION path the foreign-log write refusal points at, as one
    * call: the source (a genuine delta-spark table, readable since the
    * round-13 interop) is copied into a fresh graft table at `dest`,
    * preserving schema and Hive partitioning; `version` pins an older
    * source snapshot. The source is never touched — foreign logs stay
    * read-only; the copy rewrites data (foreign adds reference the
    * SOURCE's directory, so an in-place log swap cannot be atomic). */
  case class ImportDeltaProc(catalog: GraftCatalog)
      extends GraftProc("import_delta") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("source", StringType),
      param("dest", StringType),
      paramD("version", LongType, "-1")) // -1: the source head

    private val out = StructType(Seq(
      StructField("rows_imported", LongType, nullable = false),
      StructField("source_version", LongType, nullable = false),
      StructField("dest_path", StringType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val src = GraftTable.forPath(spark, input.getUTF8String(0).toString)
      val dest = input.getUTF8String(1).toString
      val v = if (input.isNullAt(2) || input.getLong(2) < 0) src.latestVersion
              else input.getLong(2)
      val df = src.versionAsOf(v)
      // partitioning from the PINNED snapshot — the head's layout may have
      // diverged from the version being imported
      val t = GraftTable.create(spark, dest, df,
        partitionBy = src.snapshotAt(v).metaData.partitionColumns)
      val n = t.snapshot.files.map(_.numRecords).sum
      resultScan(out, row(n, v,
        org.apache.spark.unsafe.types.UTF8String.fromString(dest)))
    }
  }

  /** `CALL graft.system.adopt_delta(path => '/delta/t')` — ZERO-COPY
    * migration: take ownership of a foreign delta-spark table IN PLACE by
    * committing one delta-shaped metadata action (compat.delta.write +
    * the graft ownership markers) as its next version. No data file moves;
    * real delta readers keep replaying the continued log; graft DML and
    * maintenance unlock. Refuses (pointing at import_delta's copy) when
    * the table's protocol demands writer capabilities graft cannot honor
    * in delta spelling — see GraftTable.adoptDelta. */
  case class AdoptDeltaProc(catalog: GraftCatalog)
      extends GraftProc("adopt_delta") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("path", StringType))

    private val out = StructType(Seq(
      StructField("adopted_version", LongType, nullable = false),
      StructField("num_files", LongType, nullable = false),
      StructField("path", StringType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val t = GraftTable.adoptDelta(SparkSession.active, path)
      resultScan(out, row(t.latestVersion, t.snapshot.files.size.toLong,
        UTF8String.fromString(path)))
    }
  }

  /** `CALL graft.system.generate_manifest(`table` => ...)` — Delta's
    * GENERATE symlink_format_manifest: per-partition text manifests of the
    * current snapshot's files for Hive-symlink readers (Presto/Trino). */
  case class GenerateManifestProc(catalog: GraftCatalog)
      extends GraftProc("generate_manifest") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType))

    private val out = StructType(Seq(
      StructField("manifests_written", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val t = resolve(catalog, input.getUTF8String(0).toString)
      resultScan(out, row(t.generateManifest().toLong))
    }
  }

  case class RestoreProc(catalog: GraftCatalog) extends GraftProc("restore") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("version", LongType))

    private val out = StructType(Seq(
      StructField("restored_to_version", LongType, nullable = false),
      StructField("head_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val t = resolve(catalog, input.getUTF8String(0).toString)
      val v = input.getLong(1)
      t.restore(v)
      resultScan(out, row(v, t.latestVersion))
    }
  }
}
