package graft.table

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.GraftSqlShims.{columnOf, expressionIn, expressionOf}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.roaringbitmap.RoaringBitmap
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** A versioned, ACID, Parquet-backed table with snapshot reads, time travel
  * (by version and timestamp), commit history, MERGE upsert and predicate
  * DELETE — the full capability surface of the reference's Delta usage
  * (spark_project.py:17-38; api.py:63-107), built natively on Spark since no
  * Delta jar exists in this environment (SURVEY.md §7.1).
  *
  * All DML composes declarative DataFrame plans (joins + filters) that
  * Catalyst optimizes; the table layer only decides WHICH files participate
  * (touched-file pruning + stats-based data skipping) and appends the commit.
  *
  * Scale design: every read — any version, DML discovery, the V1 source —
  * is planned from the log through one [[GraftFileIndex]] leaf: no file
  * listing, and a filter on any version's frame prunes files by partition
  * values and stats when Spark plans the scan (split planning and parquet
  * pushdown stay Spark's). DML rewrites only files that provably
  * contain affected rows (semi-join file discovery), so a MERGE touching 1%%
  * of files rewrites 1%% of the table, not all of it. DELETE, UPDATE, MERGE
  * and replaceWhere each find their touched files and then hand them to
  * one step, `rewriteRows`, which alone chooses between tombstoning rows
  * with deletion vectors and rewriting the files.
  */
final class GraftTable private (val spark: SparkSession, val path: String)
    extends OptimisticCommit {

  val log = new GraftLog(path, LogStore.resolve(spark))

  def latestVersion: Long = log.latestVersion

  def snapshot: Snapshot = log.snapshotAt(latestVersion)

  def snapshotAt(v: Long): Snapshot = {
    val latest = latestVersion
    require(v >= 0 && v <= latest,
      s"Cannot time travel to version $v: table $path has versions [0, $latest]")
    log.snapshotAt(v)
  }

  /** DataFrame of a snapshot's live files (empty-but-typed when no files). */
  private def read(s: Snapshot): DataFrame = readFiles(s, s.files)

  /** Raw parquet scan of a file subset, no deletion-vector filtering,
    * planned from the log: one [[GraftFileIndex]] leaf supplies the file
    * statuses and partition values from the AddFiles (a shallow clone's
    * escaped "../src/…" files included), so building the frame lists no
    * directory and starts no Spark job, and a filter on it prunes files
    * when Spark plans the scan. */
  private def readFilesRaw(s: Snapshot, files: Seq[AddFile],
      withMaterializedRowId: Boolean = false): DataFrame = {
    // under column mapping the FILES carry physical column names; the scan
    // reads them and toLogical() renames at the end of each read helper.
    // With row tracking, the materialized `_row_id` column joins the read
    // schema — files written before it exists read null (parquet
    // missing-column semantics), exactly the fresh-row case.
    val physSchema0 = ColumnMapping.physicalSchema(s.schema)
    val physSchema =
      if (!withMaterializedRowId) physSchema0
      else physSchema0.add(StructField(GraftTable.RowIdCol, LongType, nullable = true))
    ensureFieldIdResolution(physSchema)
    // partition columns keep their schema position; the hidden
    // `__bucket` dir of a bucketed table is layout, never a column
    val index = new GraftFileIndex(this, s, files)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      physSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** id-mode column mapping: Spark resolves parquet columns by field id
    * only when this session conf is on. Flipping it is a no-op for
    * id-less schemas (name resolution unchanged), so EVERY read path that
    * builds its own parquet scan (readFilesRaw, the change feed) calls
    * this one chokepoint with its physical read schema; the vectorized V2
    * factory sets the equivalent per-task hadoop flag itself. */
  private def ensureFieldIdResolution(physSchema: StructType): Unit =
    if (ColumnMapping.hasFieldIds(physSchema))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Rename a physical-named frame back to the snapshot's logical names
    * (identity — and zero plan nodes — when mapping is inactive), keeping
    * any provenance columns the caller added. */
  private def toLogical(s: Snapshot, df: DataFrame, keep: Seq[String] = Nil): DataFrame =
    if (!ColumnMapping.active(s.schema)) df
    else df.select(s.schema.fields.map(ColumnMapping.logicalColumn).toSeq ++
      keep.map(col): _*)

  /** Read a subset of a snapshot's files with the snapshot schema, with
    * each file's deletion vector applied (merge-on-read) inside the one
    * scan leaf by [[dropTombstoned]]: no join, and each task decodes only
    * the DVs of the files it reads. A subset without DVs scans raw. */
  private[graft] def readFiles(s: Snapshot, files: Seq[AddFile]): DataFrame =
    toLogical(s, dropTombstoned(s, files, readFilesRaw(s, files)))

  /** readFiles variant carrying a `_file` column (the row's data file as a
    * plain absolute path) — the V1 scan's metadata column, derived from
    * `_metadata.file_path` in the leaf: `input_file_name()` is undefined
    * over a multi-source plan. */
  private[graft] def readFilesWithFileCol(s: Snapshot, files: Seq[AddFile]): DataFrame =
    toLogical(s, dropTombstoned(s, files, readFilesRaw(s, files))
      .withColumn("_file", scanFilePath), Seq("_file"))

  /** readFiles variant that keeps `__fname`/`__pos` provenance columns —
    * the DV delete path needs the surviving rows' positions. */
  private def readFilesMeta(s: Snapshot, files: Seq[AddFile]): DataFrame = {
    val rt = rowTrackingEnabled(s.metaData)
    val rid = if (rt) Seq(GraftTable.RowIdCol) else Nil
    val out = markProvenance(
      dropTombstoned(s, files, readFilesRaw(s, files, withMaterializedRowId = rt)))
    // resolve each row's STABLE id: materialized (survived a rewrite) or
    // baseRowId + physical position (born in this file). The base map is
    // bounded by file count and broadcasts.
    val withId =
      if (!rt) out
      else {
        val baseDf = broadcast(spark.createDataFrame(
          files.map(f => Row(canonPath(f.path), f.baseRowId.map(Long.box).orNull)).asJava,
          StructType(Seq(
            StructField("__bfname", StringType, nullable = false),
            StructField("__base", LongType, nullable = true)))))
        out.join(baseDf, col("__fname") === col("__bfname"), "left")
          .withColumn(GraftTable.RowIdCol,
            coalesce(col(GraftTable.RowIdCol), col("__base") + col("__pos")))
          .drop("__bfname", "__base")
      }
    toLogical(s, withId, Seq("__fname", "__pos") ++ rid)
  }

  /** Rows of the current snapshot with their stable `_row_id` (requires
    * `rowTracking.enabled`): ids survive copy-on-write DELETE/UPDATE/MERGE
    * and OPTIMIZE (materialized into the rewritten files) and are
    * position-derived for fresh rows — Delta's row tracking surface. */
  def scanWithRowIds(): DataFrame = {
    val s = snapshot
    require(rowTrackingEnabled(s.metaData),
      "row ids require setProperty(\"rowTracking.enabled\", \"true\")")
    readFilesMeta(s, s.files).drop("__fname", "__pos")
  }

  /** `scanWithRowIds` over an explicit file subset — the SQL metadata
    * column's read path (the catalog relation prunes files first). */
  private[graft] def readFilesWithIds(s: Snapshot, files: Seq[AddFile]): DataFrame =
    readFilesMeta(s, files).drop("__fname", "__pos")

  /** The scan-side spelling of a row's data-file key: Spark's
    * `_metadata.file_path` (URI-encoded absolute path) with the scheme
    * stripped by [[FileOps.FileScheme]]. [[canonPath]] is the DRIVER twin
    * — the two must stay byte-identical or every provenance lookup
    * silently mismatches, which is why both are defined once and every
    * consumer (markProvenance, the `_file` column, [[FileOps.LiveRows]])
    * applies the same rule. */
  private def scanFilePath: Column =
    regexp_replace(col("_metadata.file_path"), FileOps.FileScheme, "/")

  /** The `__fname`/`__pos` provenance of each row, from the single file
    * relation's `_metadata`. */
  private val markProvenance: DataFrame => DataFrame = df =>
    // keyed by the NORMALIZED absolute path, never the basename: graft's
    // own part files are UUID-named, but CONVERT-ed and foreign layouts
    // routinely hold one same-named file per partition dir — a basename
    // key would tombstone (or base-id) every name-collided file at once
    df.withColumn("__fname", scanFilePath)
      .withColumn("__pos", col("_metadata.row_index"))

  /** `scan` (a single-relation scan of `files`) without the rows whose
    * position the row's file's deletion vector tombstones: a `dv_live`
    * filter ([[FileOps.LiveRow]]) on the row's raw `_metadata.file_path`
    * and `row_index` (no per-row path rewrite: [[FileOps.LiveRows]]
    * applies the scan spelling once per file). `scan` itself when no file
    * of `files` carries a DV. The legacy-sidecar collision verdict is
    * taken over all of `s`'s live files, never a scanned subset: with one
    * basename twin pruned away, a subset-local verdict would attribute
    * the pruned twin's legacy entry to the surviving file. */
  private def dropTombstoned(s: Snapshot, files: Seq[AddFile], scan: DataFrame): DataFrame = {
    val refs = FileOps.dvRefs(path, files, s.files)
    if (refs.isEmpty) scan
    else scan.filter(columnOf(FileOps.LiveRow(expressionOf(col("_metadata.file_path")),
      expressionOf(col("_metadata.row_index")),
      new FileOps.LiveRows(refs.map { case (rel, ref) => canonPath(rel) -> ref }))))
  }

  /** Refuse to scan `scanned` when the sidecar of one of its files holds a
    * legacy bare-basename entry that names more than one live file: the
    * entry cannot be attributed, and tombstoning both files' rows would be
    * wrong. [[GraftFileIndex]] calls this on the files that survive
    * pruning, before Spark reads them, so a scan pruned away from those
    * files stays readable. Only the flagged files are decoded here, on
    * the driver; a healthy table decodes none. */
  private[table] def requireAttributableDv(s: Snapshot, scanned: Seq[AddFile]): Unit =
    FileOps.dvRefs(path, scanned, s.files).values.filter(_.requireQualified)
      .foreach(FileOps.dvBitsFor)

  /** Current-version DataFrame (reference: names_table.toDF(), api.py:74). */
  def toDF: DataFrame = read(snapshot)

  /** Time travel by exact version (api.py:77). */
  def versionAsOf(v: Long): DataFrame = read(snapshotAt(v))

  /** Time travel by wall-clock instant: latest commit with ts <= given;
    * error if the instant predates commit 0 (api.py:80 semantics). */
  def timestampAsOf(ts: Timestamp): DataFrame = versionAsOf(versionAt(ts.getTime))

  def versionAt(epochMillis: Long): Long =
    // binary search over the monotone commit timestamps — O(log history)
    // commit-file reads, not a full log parse
    log.lastVersionAtOrBefore(epochMillis).getOrElse(
      throw new IllegalArgumentException(
        s"Cannot time travel to $epochMillis: it predates commit 0 of $path"))

  /** Filtered scan at latest: `toDF.filter(pred)`, whose scan prunes the
    * files whose stats exclude `pred` when Spark plans it. */
  def scan(pred: Column): DataFrame = toDF.filter(pred)

  /** Dynamic file pruning (Delta's DFP): scan only the files that can
    * serve a JOIN against a small build side. The build side's DISTINCT
    * keys collect to the driver — bounded like a broadcast (`maxKeys`
    * caps it; a bigger build side falls back to the full scan, exactly
    * when DFP would stop paying anyway) — and prune fact files through
    * the ordinary IN machinery: min/max ranges first, parquet blooms for
    * scattered keys. The 100-TB shape this serves is incremental
    * reprocessing: "join the fact table to this ingest window's keys"
    * reads the handful of files that window landed in, not the table. */
  def scanForKeys(column: String, keys: DataFrame, maxKeys: Int = 100000): DataFrame = {
    val s = snapshot
    require(s.schema.fieldNames.contains(column),
      s"scanForKeys: unknown column '$column'")
    val vals = keys.select(col(column)).where(col(column).isNotNull)
      .distinct().limit(maxKeys + 1).collect().map(_.get(0)).toSeq
    if (vals.size > maxKeys) return toDF
    if (vals.isEmpty) return toDF.limit(0)
    // Small key sets ride the scan's own pruning (min/max + parquet
    // blooms). Big ones range-prune first with ONE binary search per file
    // over the sorted keys (O(files · log keys)); the per-row filter stays
    // an InSet hash probe either way.
    val keep =
      if (vals.size <= 256) s.files
      else sortedKeyPrune(s, column, vals).getOrElse(s.files)
    readFiles(s, keep).filter(col(column).isInCollection(vals))
  }

  private def sortedKeyPrune(s: Snapshot, column: String,
      vals: Seq[Any]): Option[Seq[AddFile]] =
    GraftTable.sortedKeyPruneOf(s, column, vals)


  /** COUNT(*) answered purely from the transaction log — no data file is
    * opened (the Delta "metadata-only query" path: every add action carries
    * its footer row count, so the snapshot total is a driver-side log fold.
    * At 100 TB this is a millisecond instead of a cluster-wide scan).
    * Foreign Delta adds may carry NO stats (numRecords = -1, the unknown
    * sentinel) — summing the sentinel would return a silently wrong
    * (negative) count, so those tables fall back to a real scan count,
    * the same degradation MetadataOnlyCount's rewrite gate applies. */
  def metadataCount(v: Long = latestVersion): Long = {
    val s = snapshotAt(v)
    if (s.files.exists(_.numRecords < 0)) readFiles(s, s.files).count()
    else s.files.map(_.liveRecords).sum
  }

  /** Column MIN/MAX answered purely from add-action footer stats, as the
    * stringified stat values the log stores. None when any live file lacks
    * stats for the column (never guess from partial coverage) — callers
    * fall back to a scan. Comparison is type-driven: lexicographic for
    * strings, numeric otherwise (same discipline as DataSkipping). */
  def metadataMinMax(column: String, v: Long = latestVersion): Option[(String, String)] =
    GraftTable.metadataMinMaxOf(snapshotAt(v), column)

  /** DESCRIBE DETAIL: one-row table summary from the log alone — version,
    * live file count, metadata row count, total bytes, partition columns,
    * constraint and property counts (the Delta `DESCRIBE DETAIL` surface;
    * zero data files opened). `numRows` is NULL when any foreign Delta add
    * lacks stats (numRecords = -1, the unknown sentinel) — a metadata-only
    * surface must say "unknown", never sum the sentinel into a wrong
    * number. */
  def detail(): DataFrame = {
    val s = snapshot
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("numFiles", LongType, nullable = false),
      StructField("numRows", LongType, nullable = true),
      StructField("sizeInBytes", LongType, nullable = false),
      StructField("partitionColumns", ArrayType(StringType), nullable = false),
      StructField("numConstraints", IntegerType, nullable = false),
      StructField("properties", MapType(StringType, StringType), nullable = false)))
    val numRows: Any =
      if (s.files.exists(_.numRecords < 0)) null
      else s.files.map(_.liveRecords).sum
    spark.createDataFrame(java.util.List.of(Row(
      s.version, s.files.size.toLong, numRows,
      s.files.map(_.size).sum, s.metaData.partitionColumns,
      s.metaData.constraints.size, s.metaData.properties)), schema)
  }

  /** GENERATE symlink_format_manifest (Delta parity): write text manifests
    * under `_symlink_format_manifest/` listing the CURRENT snapshot's live
    * data files as absolute `file:` URIs — the onramp for engines that read
    * Hive symlink tables (Presto/Trino/Athena) without understanding the
    * log. Partitioned tables get one manifest per partition directory
    * (mirroring the Hive layout those engines expect); the whole export is
    * a driver-side metadata fold — zero data files opened at any table
    * size. Stale manifests of partitions that no longer exist are removed.
    * Returns the number of manifest files written. */
  def generateManifest(): Int = {
    val s = snapshot
    val root = Paths.get(path, "_symlink_format_manifest")
    val byDir = s.files.groupBy(f =>
      f.path.lastIndexOf('/') match {
        case -1 => ""
        case i  => f.path.substring(0, i)
      })
    // External symlink readers are the feature's audience, so they must
    // never observe a missing or truncated manifest: each manifest writes
    // to a temp name and MOVEs into place (old or new listing, never a
    // hole), and stale partition directories are pruned only AFTER every
    // fresh manifest is live. A crash mid-export leaves the previous
    // export fully readable.
    byDir.foreach { case (dir, files) =>
      val out = if (dir.isEmpty) root.resolve("manifest")
                else root.resolve(dir).resolve("manifest")
      Files.createDirectories(out.getParent)
      val lines = files.map(f =>
        Paths.get(path, f.path).toUri.toString).sorted.mkString("", "\n", "\n")
      val tmp = out.resolveSibling(s".manifest-${UUID.randomUUID()}.tmp")
      Files.write(tmp, lines.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try Files.move(tmp, out, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, out, java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
    }
    // prune manifests of partitions that no longer exist (walk bottom-up so
    // emptied directories delete after their contents)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val live = byDir.keySet.map(dir =>
        (if (dir.isEmpty) root.resolve("manifest")
         else root.resolve(dir).resolve("manifest")).normalize())
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach { p =>
        if (Files.isRegularFile(p) && !live.contains(p.normalize()))
          Files.deleteIfExists(p)
        else if (Files.isDirectory(p) && p != root) {
          val st = Files.list(p)
          val empty = try !st.iterator().hasNext finally st.close()
          if (empty) Files.deleteIfExists(p)
        }
      }
    }
    byDir.size
  }

  /** Commit metadata as a DataFrame, newest-first (api.py:63,75). */
  def history(): DataFrame = {
    val rows = log.commitInfos.reverse.map(c =>
      Row(c.version, new Timestamp(c.timestamp), c.operation, c.operationMetrics))
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("timestamp", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("operationMetrics", MapType(StringType, StringType), nullable = false)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Align df to the table schema: same columns (by name, in order), cast to
    * the table's types. Rejects missing/extra columns — schema enforcement
    * on write (SURVEY.md §2-B.7). Generated columns are the one exception:
    * a writer may omit them, and either way the engine (re)computes them
    * from their declared expressions so the generation invariant holds by
    * construction on every write path (see GeneratedColumns).
    *
    * Data-quality invariants ride the same projection (Delta's "Column
    * Invariants" + ANSI store assignment, enforced at RUNTIME inside the
    * write job — codegen'd CASE WHEN per guarded column, no extra pass):
    *   - a value the cast cannot represent raises instead of silently
    *     becoming null OR wrapping (the non-ANSI `Cast` footguns:
    *     "12x" → int null, 300 → tinyint 44) — enforced via `try_cast`
    *     (ANSI evaluation, null where ANSI would raise) + raise-on-null;
    *   - a null (or null'd cast) bound for a `nullable = false` column
    *     raises instead of committing — every write path funnels through
    *     here (append, overwrite, MERGE images, UPDATE, COPY INTO, SQL
    *     group write), so a NOT NULL table can never hold a null.
    * `ALTER COLUMN ... DROP NOT NULL` (setNullability) is the escape
    * hatch; SET NOT NULL validates existing rows first. */
  private def conform(df: DataFrame, schema: StructType,
      keepRowId: Boolean = false): DataFrame = {
    val generated = GeneratedColumns.names(schema)
    // internal rewrite frames carry the materialized row-id through the
    // projection (keepRowId); a USER write with a `_row_id` column still
    // rejects as an extra column — row ids are engine-assigned, never
    // supplied
    val rid = if (keepRowId && df.columns.contains(GraftTable.RowIdCol))
      Seq(col(GraftTable.RowIdCol)) else Nil
    val have = df.columns.toSet -- (if (keepRowId) Set(GraftTable.RowIdCol) else Set.empty)
    val want = schema.fieldNames.toSet
    require((have -- want).isEmpty,
      s"schema mismatch: write has extra columns ${(have -- want).toSeq.sorted} " +
        s"(table has ${want.toSeq.sorted})")
    require((want -- have -- generated).isEmpty,
      s"schema mismatch: write lacks columns ${(want -- have -- generated).toSeq.sorted}")
    val filled = GeneratedColumns.fill(df, schema)
    GraftTable.guardedProjection(filled, schema, rid)
  }

  /** Enforce the table's CHECK constraints on rows about to be written
    * (Delta-style write-time data quality), INSIDE the write projection —
    * a lazy CASE WHEN per constraint that raises on the first violating
    * row (Delta's CheckDeltaInvariant shape). Zero extra jobs: the old
    * pre-count re-executed the ENTIRE input plan once per constraint (for
    * a MERGE, the join itself — twice the work at any scale); now the
    * check rides the single write pass and a violation fails the write
    * job before its commit is attempted (staged files are cleaned by the
    * caller's failure path / vacuum, and were never visible). */
  private def enforceConstraints(df: DataFrame, meta: MetaData): DataFrame =
    GraftTable.constrained(df, meta.constraints, path)

  /** ADD CONSTRAINT: validates all existing rows first, then commits the
    * new metaData (constraint enforcement history is itself versioned). */
  def addConstraint(name: String, checkExpr: String): Unit = {
    val s = snapshot
    require(!s.metaData.constraints.contains(name), s"constraint $name already exists")
    val bad = read(s).filter(!coalesce(expr(checkExpr), lit(false))).limit(1).count()
    require(bad == 0, s"cannot add constraint '$name': existing rows violate $checkExpr")
    val meta = s.metaData.copy(constraints = s.metaData.constraints + (name -> checkExpr))
    commit(s, TxnInfo.wholeTable(s), "ADD CONSTRAINT",
      Map("name" -> name, "expr" -> checkExpr))((_, _) => Seq(meta))
  }

  def dropConstraint(name: String): Unit = {
    val s = snapshot
    require(s.metaData.constraints.contains(name), s"no such constraint: $name")
    val meta = s.metaData.copy(constraints = s.metaData.constraints - name)
    commit(s, TxnInfo.wholeTable(s), "DROP CONSTRAINT", Map("name" -> name))(
      (_, _) => Seq(meta))
  }

  /** Append rows as a new commit. Blind appends never conflict
    * semantically, so a lost commit race is resolved by re-reading the
    * latest version and re-committing the same files (optimistic retry —
    * the write itself is not redone). */
  def append(df: DataFrame): Unit = append(df, mergeSchema = false)

  /** Append with optional schema evolution: with `mergeSchema`, columns the
    * table doesn't have yet are added (nullable) via a metaData update in
    * the same commit; existing files simply read the new columns as null
    * (parquet missing-column semantics). Dropping or retyping columns is
    * still rejected — evolution is additive, as in Delta. */
  def append(df: DataFrame, mergeSchema: Boolean): Unit = {
    val s0raw = snapshot
    val s0 =
      if (!mergeSchema) s0raw
      else {
        val evolved = GraftTable.mergedSchema(s0raw.schema, df.schema,
          columnMappingEnabled(s0raw.metaData))
        if (evolved == s0raw.schema) s0raw
        else {
          require(s0raw.schema.fieldNames.forall(df.columns.contains),
            "mergeSchema append must still supply every existing column")
          s0raw.copy(metaData = s0raw.metaData.copy(schemaString = evolved.json))
        }
      }
    // identity columns: GENERATED ALWAYS — reject explicit values (all-null
    // means "assign": the SQL-INSERT default-filled shape), assign fresh
    // ids above the frontier, and advance it in this same commit
    val (_, adds) = writeNew(s0, df)
    val metaBumped = s0.metaData.copy(
      properties = advancedProps(s0.metaData, s0.schema, adds))
    val metaAction: Seq[Action] =
      if (metaBumped != s0raw.metaData) Seq(metaBumped) else Nil
    // blind append: reads nothing, removes nothing — rebases past any data
    // commit; only a concurrent metadata/protocol change conflicts (the
    // rows were conformed to a schema that no longer governs). An identity
    // frontier bump is itself a metadata change, so two identity appends
    // can never both rebase from one frontier (one gets MetadataChanged).
    commit(s0raw, TxnInfo.Blind, "WRITE",
      Map("numOutputRows" -> adds.map(_.numRecords).sum.toString))(
      (_, _) => metaAction ++ adds)
    autoCompact(s0raw)
  }

  /** Idempotent batch append (Delta's `txnAppId`/`txnVersion` options —
    * the foreachBatch exactly-once pattern): if `(appId, version)` is at
    * or below the app's last committed transaction, the append is SKIPPED
    * (a replayed batch must not double-write); otherwise the commit
    * carries a Txn action folding into the snapshot for the O(1) replay
    * guard. Returns true when rows were written. */
  def appendIdempotent(df: DataFrame, appId: String, version: Long): Boolean = {
    val s0 = snapshot
    gateWriterFeatures(s0.protocol)
    if (s0.transactions.get(appId).exists(_ >= version)) return false
    val (_, adds) = writeNew(s0, df)
    val committed = commit(s0, TxnInfo.Blind, "WRITE",
      Map("numOutputRows" -> adds.map(_.numRecords).sum.toString,
          "txnAppId" -> appId, "epoch" -> version.toString),
      // a concurrent replay of the SAME app may have landed this epoch
      // while we raced — skip instead of double-writing
      onRaceRecheck = head =>
        log.snapshotAt(head).transactions.get(appId).exists(_ >= version))(
      (_, _) => Txn(appId, version) +: (identityMeta(s0, adds) ++ adds)).isDefined
    if (!committed) discard(adds)
    committed
  }

  /** COPY INTO (Delta/Databricks parity): idempotently ingest data files
    * from a directory — each source file loads EXACTLY ONCE, however many
    * times the command re-runs, because every ingested file is recorded as
    * a `Txn` action (`copyInto:<absolute path>` keyed by mtime) that folds
    * into the snapshot: the skip check is an O(1) map probe, no re-listing
    * of history. A file that CHANGES (newer mtime) re-ingests, matching
    * COPY INTO's modified-file semantics. The scheduled-ingestion onramp:
    * point it at a landing directory and re-run forever.
    * Supports parquet (schema from footers) and csv/json (table schema).
    * Returns rows ingested (0 when everything was already loaded). */
  def copyInto(sourceDir: String, format: String = "parquet"): Long = {
    val s0 = snapshot
    // writer-feature gate BEFORE any file is written — a gated protocol
    // must not orphan already-ingested data files in the table directory
    gateWriterFeatures(s0.protocol)
    val fmt = format.toLowerCase
    val ext = fmt match {
      case "parquet" => ".parquet"
      case "csv"     => ".csv"
      case "json" | "jsonl" => ".json"
      case other => throw new IllegalArgumentException(s"COPY INTO: unsupported format $other")
    }
    import scala.jdk.CollectionConverters._
    val src = Paths.get(sourceDir)
    require(Files.isDirectory(src), s"COPY INTO: $sourceDir is not a directory")
    val candidates = Files.walk(src).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(ext)
        && !p.getFileName.toString.startsWith("."))
      .toSeq.sortBy(_.toString)
    def txnKey(p: java.nio.file.Path): String =
      s"copyInto:${p.toAbsolutePath.normalize()}"
    val pending = candidates.filter(p =>
      !s0.transactions.get(txnKey(p))
        .exists(_ >= Files.getLastModifiedTime(p).toMillis))
    if (pending.isEmpty) return 0L
    val reader = fmt match {
      case "parquet" => spark.read
      case "csv" => spark.read.option("header", "true")
        .schema(StructType(s0.schema.fields.filterNot(f =>
          GeneratedColumns.names(s0.schema).contains(f.name) ||
          IdentityColumns.names(s0.schema).contains(f.name))))
      case _ => spark.read.schema(StructType(s0.schema.fields.filterNot(f =>
          GeneratedColumns.names(s0.schema).contains(f.name) ||
          IdentityColumns.names(s0.schema).contains(f.name))))
    }
    val df = reader.format(if (fmt == "jsonl") "json" else fmt)
      .load(pending.map(_.toString): _*)
    val (_, adds) = writeNew(s0, df)
    val txns = pending.map(p => Txn(txnKey(p), Files.getLastModifiedTime(p).toMillis))
    val committed = commit(s0, TxnInfo.Blind, "COPY INTO",
      Map("numSourceFiles" -> pending.size.toString,
          "numOutputRows" -> adds.map(_.numRecords).sum.toString),
      // a CONCURRENT copyInto may have won the race with some (or all) of
      // our source files — blindly rebasing would ingest them twice. Abort
      // when any pending file is now covered by the folded ledger; the
      // recursive retry re-lists and ingests only what is still missing.
      onRaceRecheck = head => {
        val ledger = log.snapshotAt(head).transactions
        pending.exists(p => ledger.get(txnKey(p))
          .exists(_ >= Files.getLastModifiedTime(p).toMillis))
      })((_, _) => identityMeta(s0, adds) ++ txns ++ adds).isDefined
    if (!committed) {
      discard(adds)
      return copyInto(sourceDir, fmt)
    }
    autoCompact(s0)
    adds.map(_.numRecords).sum
  }

  /** INSERT OVERWRITE / truncating rewrite as ONE atomic commit: every
    * current file removed and the new rows added in the same version —
    * readers see the old state or the new state, never the empty middle a
    * delete-then-append pair would expose. */
  def overwrite(df: DataFrame): Unit = {
    val s = snapshot
    requireNotAppendOnly(s.metaData, "OVERWRITE")
    val (_, adds) = writeNew(s, df)
    val cdc = writeCdcFiles(s, cdcDiff(s, read(s), readFiles(s, adds)))
    // overwrite logically replaces EVERYTHING as of its snapshot — a
    // concurrent append would be silently erased by a rebase, so it
    // conflicts (readWholeTable)
    commit(s, TxnInfo.wholeTable(s, removeAll = true), "OVERWRITE",
      Map("numOutputRows" -> adds.map(_.numRecords).sum.toString))(
      (_, _) => identityMeta(s, adds) ++ adds ++ cdc)
    autoCompact(s)
  }

  /** The one write-prep step of every write of fresh rows: identity ids
    * assigned, rows conformed to the table schema and checked against its
    * constraints, written as data files whose row ids are stamped. Returns
    * the prepared rows too, for the writes that log them as CDC. */
  private def writeNew(s: Snapshot, df: DataFrame): (DataFrame, Seq[AddFile]) = {
    val rows = enforceConstraints(conform(assignIdentity(df, s), s.schema), s.metaData)
    (rows, stampRowIds(s, writeDataMapped(rows, s.metaData)))
  }

  /** Delete the data files of a commit that lost its race and gave up. */
  private def discard(adds: Seq[AddFile]): Unit =
    adds.foreach(a => Files.deleteIfExists(Paths.get(path, a.path)))

  /** ALWAYS-generated identity handling shared by the overwrite family:
    * reject writer-supplied values, assign above the frontier. When CDF is
    * on, PIN the assigned frame — the data write and the CDC sidecar write
    * are separate jobs, and monotonically_increasing_id would otherwise
    * hand the sidecar different ids than the data it describes. */
  private def assignIdentity(df: DataFrame, s: Snapshot): DataFrame = {
    val idCols = IdentityColumns.names(s.schema)
    // an all-null identity column means "assign for me" — the shape SQL
    // INSERT produces after the analyzer fills the column's NULL default;
    // any NON-null value is an explicit supply, which GENERATED ALWAYS
    // rejects (Delta's exact UX). The rejection rides the assign
    // projection itself (raise_error on a non-null input) — a separate
    // pre-count would re-evaluate the whole input frame per write.
    val assigned = IdentityColumns.of(s.schema).foldLeft(df) { (d, spec) =>
      val fresh = IdentityColumns.assignExpr(spec,
        IdentityColumns.hwm(s.metaData.properties, spec))
      if (!d.columns.contains(spec.name)) d.withColumn(spec.name, fresh)
      else d.withColumn(spec.name,
        when(col(spec.name).isNotNull,
          expr(s"raise_error('identity column ${spec.name} is GENERATED ALWAYS" +
            " — explicit values are not supported (omit the column or insert" +
            " NULL)')").cast(org.apache.spark.sql.types.LongType))
          .otherwise(fresh))
    }
    if (idCols.nonEmpty && cdfEnabled(s.metaData)) assigned.localCheckpoint(true)
    else assigned
  }

  // ---- row tracking (Delta parity: stable row ids) ---------------------------
  // `rowTracking.enabled`: every row has a STABLE `_row_id` — fresh rows
  // get baseRowId(file) + physical position (zero storage: derived from
  // the AddFile and the parquet row index), and rows that survive a
  // copy-on-write rewrite carry their id in a MATERIALIZED `_row_id`
  // column of the new file. Reads coalesce(materialized, base + pos).
  private[graft] def rowTrackingEnabled(meta: MetaData): Boolean =
    meta.properties.get("rowTracking.enabled").exists(_.equalsIgnoreCase("true"))

  /** Stamp fresh base row ids onto a commit's new AddFiles, allocating
    * sequentially above the snapshot's high-water mark. Files already
    * carrying a base id (DV re-adds, RESTORE, CLONE) keep it — their rows
    * were identified when the file was first added — and so do files whose
    * footer counts no null materialized `_row_id` (rewritten rows that
    * carry their ids), so only fresh rows move the high-water mark. */
  private def stampRowIds(s: Snapshot, adds: Seq[AddFile]): Seq[AddFile] =
    if (!rowTrackingEnabled(s.metaData)) adds
    else {
      var hwm = s.metaData.properties.get(GraftTable.RowIdHwmKey)
        .map(_.toLong).getOrElse(-1L)
      adds.map { a =>
        if (a.baseRowId.isDefined || a.nullCounts.get(GraftTable.RowIdCol).contains(0L)) a
        else {
          val base = hwm + 1
          hwm += a.numRecords
          a.copy(baseRowId = Some(base))
        }
      }
    }

  /** Properties advanced by a commit's adds: identity frontiers + the
    * row-id high-water mark. ONE MetaData action carries all of them —
    * last-meta-wins replay would drop one of two separate actions. */
  private def advancedProps(meta: MetaData, schema: StructType,
      adds: Seq[AddFile]): Map[String, String] = {
    val p1 = IdentityColumns.bumpedProps(meta.properties, schema, adds)
      .getOrElse(meta.properties)
    if (!rowTrackingEnabled(meta)) p1
    else {
      val cur = p1.get(GraftTable.RowIdHwmKey).map(_.toLong).getOrElse(-1L)
      val next = adds.flatMap(a => a.baseRowId.map(_ + a.numRecords - 1))
        .foldLeft(cur)(math.max)
      if (next > cur) p1 + (GraftTable.RowIdHwmKey -> next.toString) else p1
    }
  }

  /** Engine-property bump (identity frontiers, row-id hwm) as a commit
    * action (empty when nothing moved). */
  private def identityMeta(s: Snapshot, adds: Seq[AddFile]): Seq[Action] = {
    val p = advancedProps(s.metaData, s.schema, adds)
    if (p != s.metaData.properties) Seq(s.metaData.copy(properties = p)) else Nil
  }

  /** Predicate-scoped overwrite (Delta's `replaceWhere`): atomically
    * replace exactly the rows matching `pred` with `df`'s rows, in one
    * commit. The standard backfill idiom on partitioned 100-TB tables —
    * recompute one partition (or any stats-prunable slice) while every
    * out-of-scope file survives BYTE-IDENTICAL: untouched files are never
    * read, rewritten, or moved; files mixing in- and out-of-scope rows are
    * rewritten keeping their out-of-scope rows.
    *
    * Every replacement row must itself satisfy `pred` (enforced, as Delta
    * does) — otherwise "replace WHERE lang='en'" could smuggle rows into
    * partitions the predicate promised not to touch. */
  def overwriteWhere(pred: Column, df: DataFrame): Unit = {
    val s = snapshot
    requireNotAppendOnly(s.metaData, "replaceWhere OVERWRITE")
    // CHECK constraints are enforced by rewriteRows' write
    val conformed = conform(assignIdentity(df, s), s.schema)
    val escapees = conformed.filter(!coalesce(pred, lit(false))).limit(1).count()
    require(escapees == 0,
      s"replaceWhere: replacement rows must all satisfy the predicate $pred")
    // files with at least one matching row are replaced; their non-matching
    // rows (partial overlap) are carried over
    val matched = coalesce(pred, lit(false))
    val candidates = prunedFiles(s, pred)
    val perFile = matchesPerFile(s, "OVERWRITE", candidates, matched)
    val touched = s.files.filter(f => perFile.contains(canonPath(f.path)))
    rewriteRows(s,
      TxnInfo(readWholeTable = false, Some(pred),
        candidates.map(_.path).toSet, touched.map(_.path).toSet),
      "OVERWRITE", s.metaData, touched, perFile, predicateRows(s, touched, matched, Map.empty),
      Some(conformed), deletesOnly = true, "numRewrittenFiles")(
      (adds, _) => Map("predicate" -> pred.toString,
        "numOutputRows" -> adds.map(_.numRecords).sum.toString))
    autoCompact(s)
  }

  /** Dynamic partition overwrite: atomically replace exactly the
    * partitions `df` carries rows for (Spark's
    * `partitionOverwriteMode=dynamic` semantics on a partitioned table).
    * Partitions absent from `df` survive byte-identical. The distinct
    * partition-combo collect is bounded by the partitions being written,
    * not table size. */
  def overwritePartitions(df: DataFrame): Unit = {
    val s = snapshot
    requireNotAppendOnly(s.metaData, "dynamic partition OVERWRITE")
    val parts = s.metaData.partitionColumns
    require(parts.nonEmpty, "dynamic partition overwrite requires a partitioned table")
    val (conformed, adds) = writeNew(s, df)
    // which partitions does the frame carry? Derived from the WRITTEN
    // files' own partitionValues — the same Hive directory encoding the
    // existing files use, so null (`__HIVE_DEFAULT_PARTITION__`) and
    // formatted timestamp/date values match EXACTLY by construction.
    // (A driver-side re-formatting of collected row values disagreed for
    // null and timestamp partitions, leaving the old generation alive
    // beside the new one.) The set is bounded by the partitions written.
    // a bucketed table's partitionValues also carry the hidden __bucket id
    // — strip it on BOTH sides: the overwrite unit is the Hive partition,
    // and keeping the bucket would spare old files in buckets the new
    // data happens to miss (a partial, wrong overwrite)
    def hiveOnly(pv: Map[String, String]): Map[String, String] =
      pv - Bucketing.BucketCol
    val combos = adds.map(a => hiveOnly(a.partitionValues)).toSet
    val touched = s.files.filter(f => combos.contains(hiveOnly(f.partitionValues)))
    // operator-level CDC: every row of a replaced partition is deleted,
    // every replacement row inserted
    val cdc = writeCdcFiles(s,
      readFiles(s, touched).withColumn("_change_type", lit("delete"))
        .unionByName(conformed.withColumn("_change_type", lit("insert"))))
    // conflict domain = the replaced partitions: a racing append INTO one
    // of them would be silently erased by a rebase, so it must conflict;
    // appends into other partitions rebase cleanly. Null partitions match
    // via isNull (an equality literal would never be true).
    val physOf = parts.map(c => c -> ColumnMapping.physicalOf(s.schema, c)).toMap
    val default = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .DEFAULT_PARTITION_NAME
    val comboPred = combos.toSeq
      .map(pv => parts.map { c =>
        val v = pv(physOf(c))
        if (v == default) col(c).isNull else col(c) === lit(v)
      }.reduce(_ && _))
      .reduceOption(_ || _).getOrElse(lit(false))
    commit(s,
      TxnInfo(readWholeTable = false, Some(comboPred),
        touched.map(_.path).toSet, touched.map(_.path).toSet),
      "OVERWRITE",
      Map("partitions" -> combos.size.toString,
          "numRewrittenFiles" -> touched.size.toString,
          "numOutputRows" -> adds.map(_.numRecords).sum.toString))(
      (_, _) => identityMeta(s, adds) ++ adds ++ cdc)
    autoCompact(s)
  }

  /** SET TBLPROPERTIES: commit a metaData with the property added/updated
    * (versioned like every other metadata change). Enabling a
    * protocol-gated capability (deletion vectors, column mapping) commits
    * the protocol upgrade IN THE SAME VERSION — a reader that predates the
    * feature fails loudly from the first version that could use it. */
  def setProperty(key: String, value: String): Unit = {
    val s = snapshot
    // bucketing is a PHYSICAL layout invariant: every live file already
    // sits in its __bucket dir (or none do) — flipping column/count later
    // would need a full rewrite, so the properties are create-time only
    require(key != Bucketing.ColumnProp && key != Bucketing.CountProp,
      s"$key is declared at CREATE (bucketBy / PARTITIONED BY bucket(n, col)) " +
        "and cannot change through SET TBLPROPERTIES — re-bucketing rewrites " +
        "every file: use optimize(rebucketTo = (column, n))")
    // id mode cannot be ENABLED on an existing table: its pre-mapping
    // files carry no parquet field ids, so an id-resolving reader could
    // never bind them (delta makes the same restriction — id mode exists
    // only from creation / conversion; it arrives here via adoptDelta)
    require(!(key == "columnMapping.mode" && value.equalsIgnoreCase("id")),
      "columnMapping.mode=id cannot be enabled on an existing table " +
        "(files written before it carry no field ids); use name mode, " +
        "or adopt an id-mode delta table in place")
    // the tombstone cap is read by every merge-on-read DML: a malformed
    // value must fail here, not in every later DELETE/UPDATE/MERGE
    require(key != "deletionVectors.maxTombstones" ||
        value.toLongOption.exists(_ >= 0),
      s"deletionVectors.maxTombstones must be a non-negative integer, got '$value'")
    val meta = s.metaData.copy(properties = s.metaData.properties + (key -> value))
    val feature: Option[String] = key match {
      case "deletionVectors.enabled" if value.equalsIgnoreCase("true") =>
        Some("deletionVectors")
      case "columnMapping.mode" if value.equalsIgnoreCase("name") =>
        Some("columnMapping")
      case "changeDataFeed.enabled" if value.equalsIgnoreCase("true") =>
        Some("changeDataFeed")
      case "rowTracking.enabled" if value.equalsIgnoreCase("true") =>
        Some("rowTracking")
      case _ => None
    }
    // writer-only protocol features: readers are unaffected (the data is
    // plain), but a writer that ignored the property would break the
    // contract — appendOnly's whole point is that a foreign writer can't
    // delete what it doesn't know is immutable.
    val writerOnly: Option[String] = key match {
      case "appendOnly" if value.equalsIgnoreCase("true") => Some("appendOnly")
      case _ => None
    }
    val upgrade: Seq[Action] = (feature, writerOnly) match {
      case (Some(f), _) if !s.protocol.readerFeatures.contains(f) =>
        Seq(s.protocol.copy(
          minReaderVersion = math.max(s.protocol.minReaderVersion, 2),
          minWriterVersion = math.max(s.protocol.minWriterVersion, 2),
          readerFeatures = s.protocol.readerFeatures :+ f,
          writerFeatures = (s.protocol.writerFeatures :+ f).distinct))
      case (_, Some(f)) if !s.protocol.writerFeatures.contains(f) =>
        Seq(s.protocol.copy(
          minWriterVersion = math.max(s.protocol.minWriterVersion, 2),
          writerFeatures = s.protocol.writerFeatures :+ f))
      case _ => Nil
    }
    // enabling row tracking BACKFILLS the live files in the same commit:
    // AddFiles lacking a base id re-commit with a fresh one (metadata-only
    // — O(files), no data touched) so existing rows have ids from
    // enablement onward, Delta's backfill semantics. Re-enablement RESUMES
    // from the preserved high-water mark and leaves already-stamped files
    // (and any materialized ids inside rewritten files) untouched — a
    // reset to -1 would re-issue ids that still live in materialized
    // columns.
    val (backfill, metaFinal): (Seq[Action], MetaData) =
      if (feature.contains("rowTracking") &&
          !rowTrackingEnabled(s.metaData)) {
        require(!s.schema.fieldNames.contains(GraftTable.RowIdCol),
          s"cannot enable row tracking: the table already has a column " +
            s"named ${GraftTable.RowIdCol}")
        var hwm = s.metaData.properties.get(GraftTable.RowIdHwmKey)
          .map(_.toLong).getOrElse(-1L)
        val stamped = s.files.filter(_.baseRowId.isEmpty).map { f =>
          val base = hwm + 1; hwm += f.numRecords; f.copy(baseRowId = Some(base))
        }
        (stamped,
         meta.copy(properties = meta.properties +
           (GraftTable.RowIdHwmKey -> hwm.toString)))
      } else (Nil, meta)
    // enabling compat RE-STATES the protocol action in the enabling
    // commit: a delta log must CONTAIN a protocol line (graft tables with
    // no writer features never committed one), and the compat serializer
    // derives the delta spelling from it — including the v7 graft-private
    // gates (graft.bucketing etc.) that lock foreign writers out of
    // engine-private layout invariants. Without this the protocol only
    // ever reached delta readers through a later checkpoint.
    val compatEnable: Seq[Action] =
      if ((value.equalsIgnoreCase("true") &&
          (key == DeltaWriteCompat.Prop ||
            // ICT is a compat-spelling feature: the enabling commit must
            // re-state the protocol so the serializer derives the
            // inCommitTimestamp writer feature delta 4.x readers gate on
            key == "delta.enableInCommitTimestamps")) ||
          // clustering advice changes the emitted protocol (clustering +
          // domainMetadata writer features) and starts the delta.clustering
          // domain emission — re-state so a delta reader sees the feature
          // in the enabling commit, not first at a checkpoint
          key == "clustering.columns")
        Seq(s.protocol)
      else Nil
    // ICT enabled post-creation pins the delta enablement markers the
    // spec requires (version + timestamp of the first ICT commit) so a
    // delta 4.x reader knows where the authoritative clock starts
    val pinsIct = key == "delta.enableInCommitTimestamps" &&
      value.equalsIgnoreCase("true") &&
      !metaFinal.properties.contains("delta.inCommitTimestampEnablementVersion")
    commit(s, TxnInfo.wholeTable(s), "SET TBLPROPERTIES", Map(key -> value)) {
      (v, ts) =>
        val metaIct =
          if (!pinsIct) metaFinal
          else metaFinal.copy(properties = metaFinal.properties ++ Map(
            "delta.inCommitTimestampEnablementVersion" -> v.toString,
            "delta.inCommitTimestampEnablementTimestamp" -> ts.toString))
        upgrade ++ compatEnable ++ Seq(metaIct) ++ backfill
    }
  }

  /** Atomic REPLACE TABLE (AS SELECT) commit: ONE log version carries the
    * fresh MetaData (new table id — a replace is a new logical table, as
    * in Delta), a RemoveFile for every file live in `s` (the snapshot the
    * replace was staged against), and the staged AddFiles. Readers see the
    * old table or the new one, never an empty or mixed middle; the staged
    * files were written into the table directory ahead of time and stay
    * invisible until this lands. History and time travel across the
    * replace boundary are preserved (the log keeps every prior commit).
    * The replace read and removes the whole table, so any concurrent data,
    * metadata or protocol commit since `s` is a typed conflict. */
  private[graft] def commitReplaceTable(s: Snapshot, adds: Seq[AddFile],
      newSchema: StructType, partitionCols: Seq[String],
      props: Map[String, String]): Unit = {
    // REPLACE drops every committed row — the exact thing appendOnly
    // forbids; unset the property first (the same escape hatch as DML)
    requireNotAppendOnly(s.metaData, "REPLACE TABLE AS SELECT")
    // constraint.* props land in metaData.constraints (enforced on
    // every later write), not as dead same-named properties — same
    // split the non-staged CREATE path performs via addConstraint
    val (chk, plain) = props.partition(_._1.startsWith("constraint."))
    val meta = MetaData(UUID.randomUUID().toString, newSchema.json,
      System.currentTimeMillis(), partitionCols,
      chk.map { case (k, v) => k.stripPrefix("constraint.") -> v }, plain)
    commit(s, TxnInfo.wholeTable(s, removeAll = true), "REPLACE TABLE AS SELECT",
      Map("numRemovedFiles" -> s.files.size.toString,
          "numOutputRows" -> adds.map(_.numRecords).sum.toString))(
      (_, _) => meta +: FileOps.capAddStats(meta, adds))
  }

  /** ALTER TABLE ADD COLUMN: additive schema evolution as a metadata-only
    * commit (the same evolution `append(mergeSchema = true)` performs
    * implicitly) — existing files read the new column as null via parquet
    * missing-column semantics (nested fields included), so no data
    * rewrites. The column is forced nullable for exactly that reason.
    *
    * Dotted names address INSIDE structs, Delta's `a.b.c` convention: the
    * outer segments must already exist as struct columns; the leaf is
    * appended to the innermost struct. Under column mapping the new leaf
    * gets a fresh physical name — so a re-added nested field can never
    * resurrect a dropped field's physical data — exactly as at top level. */
  def addColumn(name: String, dataType: DataType): Unit =
    addColumn(name, dataType, None)

  /** ADD COLUMN with a SQL DEFAULT (Spark's two-key contract): the new
    * field carries `CURRENT_DEFAULT` (what future writes that omit the
    * column receive — raw SQL, SET DEFAULT can change it later) and
    * `EXISTS_DEFAULT` (what rows written BEFORE the column existed read —
    * constant-FOLDED here, fixed forever: re-evaluating a non-literal like
    * CURRENT_DATE at read time would make old rows' values drift). The
    * scan applies EXISTS_DEFAULT for files that predate the column —
    * Spark's parquet readers fill missing columns from the schema
    * metadata — so the add stays metadata-only at any table size.
    * Top-level columns only (nested fields have no default contract). */
  def addColumn(name: String, dataType: DataType, default: Option[String]): Unit = {
    val s = snapshot
    require(default.isEmpty || !name.contains("."),
      s"ADD COLUMN $name: defaults are supported on top-level columns only")
    // fold the default ONCE: EXISTS_DEFAULT must be a literal (the value
    // old rows hold from now on); an unfoldable/mistyped expression must
    // fail the DDL loudly, never the first read that consults it
    val existsLiteral: Option[String] = default.map { sql =>
      val v = try spark.sql(s"SELECT CAST(($sql) AS ${dataType.sql})").head().get(0)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"ADD COLUMN $name: default ($sql) does not evaluate as " +
          s"${dataType.simpleString}: ${e.getMessage.linesIterator.next()}") }
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToCatalyst(v), dataType).sql
    }
    // under column mapping a NEW column gets a fresh physical name — if a
    // column of this logical name was ever dropped, its physical data
    // must not resurrect into the successor
    def fresh(f: StructField): StructField =
      if (columnMappingEnabled(s.metaData))
        ColumnMapping.withPhysical(f, s"col-${UUID.randomUUID()}")
      else f
    def withDefault(f: StructField): StructField = default match {
      case None => f
      case Some(sql) => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putString("CURRENT_DEFAULT", sql)
          .putString("EXISTS_DEFAULT", existsLiteral.get).build())
    }
    def insert(st: StructType, path: List[String]): StructType = path match {
      case leaf :: Nil =>
        require(!st.fieldNames.contains(leaf), s"column $name already exists")
        StructType(st.fields :+
          fresh(withDefault(StructField(leaf, dataType, nullable = true))))
      case head :: rest =>
        val idx = st.fieldNames.indexOf(head)
        require(idx >= 0, s"no such column: $head (adding $name)")
        st.fields(idx).dataType match {
          case inner: StructType => StructType(st.fields.updated(idx,
            st.fields(idx).copy(dataType = insert(inner, rest))))
          case other => throw new IllegalArgumentException(
            s"column $head is ${other.simpleString}, not a struct (adding $name)")
        }
      case Nil => throw new IllegalArgumentException(s"empty column name")
    }
    // Delta has NO spelling for existence defaults: its allowColumnDefaults
    // feature covers CURRENT_DEFAULT (future inserts) only, and delta
    // itself rejects ADD COLUMN ... DEFAULT for exactly this reason — a
    // delta reader fills a missing column with NULL where graft would fill
    // the default, silently diverging on every pre-add row. The
    // enabling-commit doctrine applies: refuse HERE on compat tables
    // (delta parity; ADD then SET DEFAULT covers future inserts), and on
    // NATIVE tables record the load-bearing columns in a marker property
    // so a LATER compat enable refuses until the old files are rewritten.
    if (default.isDefined && DeltaWriteCompat.enabled(s.metaData))
      throw new GraftProtocolException(
        s"${DeltaWriteCompat.Prop}: ADD COLUMN $name DEFAULT has no delta " +
          "spelling (rows written before the column would read the default " +
          "in graft but NULL in every delta reader; delta itself rejects " +
          "this DDL) — ADD the column, then ALTER COLUMN SET DEFAULT " +
          "(future inserts only)")
    val evolved = insert(s.schema, name.split('.').toList)
    val markedMeta =
      if (default.isEmpty) s.metaData.copy(schemaString = evolved.json)
      else {
        val prior = s.metaData.properties
          .get(GraftTable.ExistenceDefaultsProp).filter(_.nonEmpty)
        s.metaData.copy(schemaString = evolved.json,
          properties = s.metaData.properties +
            (GraftTable.ExistenceDefaultsProp ->
              (prior.map(_ + ",").getOrElse("") + name)))
      }
    commit(s, TxnInfo.wholeTable(s), "ADD COLUMNS",
      Map("column" -> s"$name ${dataType.simpleString}") ++
        default.map("default" -> _))((_, _) => Seq(markedMeta))
  }

  /** ALTER TABLE ... ALTER COLUMN ... SET / DROP NOT NULL. DROP NOT NULL
    * (tighten → relax) is metadata-only — always safe, the escape hatch
    * from the write-time invariant. SET NOT NULL validates EXISTING rows
    * first (one stats-assisted counting job: files whose footer stats
    * prove zero nulls could skip, but null counts aren't harvested yet,
    * so it scans the column — still a single-column scan, pruned to live
    * files) and then commits the tightened schema; every later write
    * enforces it in the conform projection. */
  def setNullability(name: String, nullable: Boolean): Unit = {
    val s = snapshot
    val idx = s.schema.fieldNames.indexOf(name)
    require(idx >= 0, s"no such column: $name")
    val f = s.schema.fields(idx)
    if (f.nullable == nullable) return
    if (!nullable) {
      // stats fast path: when every live file's footer PROVES zero nulls
      // (nullCounts harvested at write time; under column mapping the stat
      // keys are physical), the validation is a metadata fold — no scan.
      // DVs only remove rows, so a physical zero-null proof stays sound.
      val statKey = ColumnMapping.physicalOf(s.schema, name)
      val provenClean = s.files.forall(_.nullCounts.get(statKey).contains(0L))
      if (!provenClean) {
        val nulls = read(s).filter(col(name).isNull).limit(1).count()
        require(nulls == 0,
          s"cannot SET NOT NULL on '$name': existing rows contain nulls")
      }
    }
    val evolved = StructType(s.schema.fields.updated(idx, f.copy(nullable = nullable)))
    commit(s, TxnInfo.wholeTable(s), "ALTER COLUMN",
      Map("column" -> name,
          "nullability" -> (if (nullable) "DROP NOT NULL" else "SET NOT NULL")))(
      (_, _) => Seq(s.metaData.copy(schemaString = evolved.json)))
  }

  /** ALTER COLUMN ... SET / DROP DEFAULT — metadata-only. Spark's
    * two-key contract: `CURRENT_DEFAULT` is what FUTURE writes that omit
    * the column receive (changes with SET DEFAULT), `EXISTS_DEFAULT` is
    * what rows written BEFORE the column existed read (fixed at ADD
    * COLUMN; never touched here) — so altering a default can never
    * rewrite or reinterpret a single existing row. */
  def setColumnDefault(name: String, sql: Option[String]): Unit = {
    val s = snapshot
    val idx = s.schema.fieldNames.indexOf(name)
    require(idx >= 0, s"no such column: $name")
    val f = s.schema.fields(idx)
    require(!f.metadata.contains(GeneratedColumns.MetadataKey) &&
      !f.metadata.contains(IdentityColumns.StartKey),
      s"column '$name' is generated/identity — its value is always engine-assigned")
    val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
    sql match {
      case Some(q) => mb.putString("CURRENT_DEFAULT", q)
      case None    => mb.remove("CURRENT_DEFAULT")
    }
    val evolved = StructType(s.schema.fields.updated(idx, f.copy(metadata = mb.build())))
    // feature-enabling under compat: SET DEFAULT puts CURRENT_DEFAULT in
    // the emitted schemaString, which delta's allowColumnDefaults writer
    // feature governs — re-state the protocol so the serializer declares
    // it in this very commit (foreign writers that predate defaults then
    // refuse instead of silently dropping them)
    val proto: Seq[Action] =
      if (sql.isDefined && DeltaWriteCompat.enabled(s.metaData))
        Seq(s.protocol) else Nil
    commit(s, TxnInfo.wholeTable(s), "ALTER COLUMN",
      Map("column" -> name, "default" -> sql.getOrElse("DROP DEFAULT")))(
      (_, _) => proto :+ s.metaData.copy(schemaString = evolved.json))
  }

  /** ALTER COLUMN ... COMMENT — column documentation as a versioned
    * metadata commit (Spark's standard `comment` field-metadata key, so
    * DESCRIBE shows it). */
  def setColumnComment(name: String, comment: Option[String]): Unit = {
    val s = snapshot
    val idx = s.schema.fieldNames.indexOf(name)
    require(idx >= 0, s"no such column: $name")
    val f = s.schema.fields(idx)
    val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
    comment match {
      case Some(c) => mb.putString("comment", c)
      case None    => mb.remove("comment")
    }
    val evolved = StructType(s.schema.fields.updated(idx, f.copy(metadata = mb.build())))
    commit(s, TxnInfo.wholeTable(s), "ALTER COLUMN",
      Map("column" -> name, "comment" -> comment.getOrElse("")))(
      (_, _) => Seq(s.metaData.copy(schemaString = evolved.json)))
  }

  /** ALTER TABLE ... ALTER COLUMN ... TYPE — type WIDENING as a
    * metadata-only commit (Delta's type-widening table feature): the
    * schema changes, zero data files rewrite, and files written under the
    * narrower type keep reading through the scan's declared schema (the
    * parquet vectorized reader upcasts int32→int64, int32/int64→double,
    * float→double, and decimal precision natively — verified by
    * TypeWideningSpec). Narrowing, and any conversion the reader cannot
    * serve, rejects loudly: on an unrewritable 100 TB table the ONLY
    * affordable type lifecycle is the widening lattice below.
    * Generated/identity columns are pinned (their types are part of the
    * engine contract). */
  def alterColumnType(name: String, newType: DataType): Unit = {
    val s = snapshot
    val idx = s.schema.fieldNames.indexOf(name)
    require(idx >= 0, s"no such column: $name")
    val f = s.schema.fields(idx)
    if (f.dataType == newType) return
    require(!GeneratedColumns.names(s.schema).contains(name),
      s"cannot retype generated column '$name' (its expression pins the type)")
    require(!IdentityColumns.names(s.schema).contains(name),
      s"cannot retype identity column '$name' (identity is BIGINT by contract)")
    require(GraftTable.isWidening(f.dataType, newType),
      s"ALTER COLUMN TYPE on '$name': ${f.dataType.simpleString} → " +
        s"${newType.simpleString} is not a supported widening " +
        "(byte/short/int→{short,int,long,double}, float→double, " +
        "decimal precision/scale growth); narrowing requires a rewrite")
    // Record the change under delta's standard `delta.typeChanges` field
    // metadata (always, not only under compat): the history is real
    // regardless, it rides the schemaString verbatim, and a compat table
    // (or a later compat enable) then declares the `typeWidening` feature
    // from it — so a real delta reader upcasts the narrow-typed files
    // instead of failing its scan on a BIGINT schema over INT32 parquet.
    val history: Seq[org.apache.spark.sql.types.Metadata] =
      (if (f.metadata.contains(GraftTable.TypeChangesKey))
         f.metadata.getMetadataArray(GraftTable.TypeChangesKey).toSeq
       else Nil) :+
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("fromType", GraftTable.deltaTypeName(f.dataType))
          .putString("toType", GraftTable.deltaTypeName(newType))
          .build()
    val widenedMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
      .putMetadataArray(GraftTable.TypeChangesKey, history.toArray)
      .build()
    val evolved = StructType(s.schema.fields.updated(idx,
      f.copy(dataType = newType, metadata = widenedMeta)))
    // under compat the widening commit is a FEATURE-ENABLING commit: the
    // re-stated protocol serializes with the typeWidening reader+writer
    // feature (derived from the typeChanges history the new metaData
    // carries), so a delta reader that cannot upcast the narrow-typed
    // files refuses at the gate instead of failing its scan — the
    // enabling-commit doctrine (GraftLog.commit) satisfied by declaration
    // rather than refusal
    val proto: Seq[Action] =
      if (DeltaWriteCompat.enabled(s.metaData)) Seq(s.protocol) else Nil
    commit(s, TxnInfo.wholeTable(s), "ALTER COLUMN",
      Map("column" -> name,
          "type" -> s"${f.dataType.simpleString} -> ${newType.simpleString}"))(
      (_, _) => proto :+ s.metaData.copy(schemaString = evolved.json))
  }

  private def columnMappingEnabled(meta: MetaData): Boolean =
    meta.properties.get("columnMapping.mode").exists(m =>
      m.equalsIgnoreCase("name") || m.equalsIgnoreCase("id"))

  /** Column names a generation expression references, from the PARSED
    * expression tree (unparseable ⇒ treat every name as referenced —
    * conservative: the guard then blocks the rename/drop). */
  private def generationRefs(exprStr: String): Seq[String] =
    try {
      spark.sessionState.sqlParser.parseExpression(exprStr).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head
      }
    } catch { case _: Exception => snapshot.schema.fieldNames.toSeq }

  /** ALTER TABLE RENAME COLUMN: metadata-only under column mapping — the
    * field keeps its PHYSICAL parquet name (pinned on first rename if it
    * was still implicit) and only the logical binding changes; zero data
    * files move at any table size. Time travel to pre-rename versions
    * reads the old metaData and therefore the old logical name. Requires
    * `columnMapping.mode = name` (the protocol-gated feature — a reader
    * that predates it fails loudly instead of misreading the files). */
  def renameColumn(oldName: String, newName: String): Unit = {
    val s = snapshot
    require(columnMappingEnabled(s.metaData),
      "RENAME COLUMN requires column mapping (name or id mode; " +
        "setProperty(\"columnMapping.mode\", \"name\") — protocol-gated)")
    require(s.schema.fieldNames.contains(oldName), s"no such column: $oldName")
    require(!s.schema.fieldNames.contains(newName), s"column $newName already exists")
    val evolved = StructType(s.schema.fields.map { f =>
      if (f.name != oldName) f
      else ColumnMapping.withPhysical(f, ColumnMapping.physicalName(f))
        .copy(name = newName)
    })
    val parts = s.metaData.partitionColumns.map(c => if (c == oldName) newName else c)
    val constraintHit = s.metaData.constraints.find(_._2.contains(oldName))
    require(constraintHit.isEmpty,
      s"cannot rename $oldName: referenced by CHECK constraint ${constraintHit.get._1}")
    // identity columns: the frontier property and footer-stat harvest are
    // keyed by name — a rename would silently reset the allocation frontier
    // and re-issue already-used ids. Refuse until key migration exists.
    require(!IdentityColumns.names(s.schema).contains(oldName),
      s"cannot rename identity column $oldName (allocation frontier is keyed by name)")
    // generation expressions reference base columns by name: renaming a
    // referenced column would brick every later write (unresolvable
    // expression) or, after a same-named re-add, silently null the
    // generated values. Delta blocks this too. References come from the
    // PARSED expression (case-insensitive, like Spark's resolution) — a
    // raw-text match would miss `TS` vs `ts` and false-match type names
    // or string literals.
    val genHit = GeneratedColumns.of(s.schema)
      .find { case (_, e) => generationRefs(e).exists(_.equalsIgnoreCase(oldName)) }
    require(genHit.isEmpty,
      s"cannot rename $oldName: referenced by generated column ${genHit.get._1}'s expression")
    commit(s, TxnInfo.wholeTable(s), "RENAME COLUMN",
      Map("from" -> oldName, "to" -> newName))(
      (_, _) => Seq(s.metaData.copy(schemaString = evolved.json, partitionColumns = parts)))
  }

  /** ALTER TABLE DROP COLUMN: metadata-only under column mapping — the
    * physical column stays in every existing file, simply unbound (and a
    * later ADD COLUMN of the same name binds a fresh physical name, so
    * the dropped data never resurrects). */
  def dropColumn(name: String): Unit = {
    val s = snapshot
    require(columnMappingEnabled(s.metaData),
      "DROP COLUMN requires column mapping (name or id mode; " +
        "setProperty(\"columnMapping.mode\", \"name\") — protocol-gated)")
    require(s.schema.fieldNames.contains(name), s"no such column: $name")
    require(s.schema.fields.length > 1, "cannot drop the only column")
    require(!s.metaData.partitionColumns.contains(name),
      s"cannot drop partition column $name")
    val constraintHit = s.metaData.constraints.find(_._2.contains(name))
    require(constraintHit.isEmpty,
      s"cannot drop $name: referenced by CHECK constraint ${constraintHit.get._1}")
    // dropping a generation-expression base column would brick every later
    // write (the expression no longer resolves) — same guard as rename
    val genHit = GeneratedColumns.of(s.schema).find { case (g, e) =>
      g != name && generationRefs(e).exists(_.equalsIgnoreCase(name)) }
    require(genHit.isEmpty,
      s"cannot drop $name: referenced by generated column ${genHit.get._1}'s expression")
    // the bucket column is load-bearing physical layout — dropping it
    // would leave every file's __bucket dir derived from a column that no
    // longer exists (re-bucket first: optimize(rebucketTo = ...))
    require(!Bucketing.spec(s.metaData).map(_._1).contains(name),
      s"cannot drop $name: it is the table's hash-bucketing column " +
        "(optimize(rebucketTo = (other, n)) first)")
    val bloomHit = GraftTable.bloomColumns(s.metaData).contains(name)
    val meta0 = s.metaData.copy(
      schemaString = StructType(s.schema.fields.filterNot(_.name == name)).json)
    val meta =
      if (!bloomHit) meta0
      else meta0.copy(properties = meta0.properties + ("bloom.columns" ->
        GraftTable.bloomColumns(meta0).filterNot(_ == name).mkString(",")))
    commit(s, TxnInfo.wholeTable(s), "DROP COLUMNS", Map("column" -> name))(
      (_, _) => Seq(meta))
  }

  /** One micro-batch epoch of a streaming write, committed atomically
    * with its (queryId, epochId) transaction identity — the replay guard
    * GraftStreamingWrite checks before re-committing an epoch. */
  private[graft] def commitStreamingAppend(s: Snapshot, adds: Seq[AddFile],
      queryId: String, epochId: Long): Unit = {
    commit(s, TxnInfo.Blind, "STREAMING UPDATE",
      Map("numOutputRows" -> adds.map(_.numRecords).sum.toString,
          "txnAppId" -> queryId, "epoch" -> epochId.toString))(
      // SetTransaction: folds into the snapshot so the exactly-once
      // replay guard is an O(1) lookup, not an O(history) log scan
      (_, _) => Txn(queryId, epochId) +: adds)
    autoCompact(s)
  }

  /** UNSET TBLPROPERTIES: commit a metaData with the property removed. */
  def removeProperty(key: String): Unit = {
    val s = snapshot
    // same layout-invariant guard as setProperty: UNSET of the bucketing
    // properties would half-de-bucket the table (old files keep their
    // __bucket dirs, new writes stop producing them) with no rewrite
    require(key != Bucketing.ColumnProp && key != Bucketing.CountProp,
      s"$key is the table's physical bucket layout and cannot be unset — " +
        "re-layout with optimize(rebucketTo = (column, n))")
    val meta = s.metaData.copy(properties = s.metaData.properties - key)
    commit(s, TxnInfo.wholeTable(s), "UNSET TBLPROPERTIES", Map("key" -> key))(
      (_, _) => Seq(meta))
  }

  /** Delta's `ALTER TABLE ... DROP FEATURE` (the delta-4.x
    * checkpoint-protected workflow): remove a protocol feature a table no
    * longer uses, so feature-blind engines can work with it again.
    *
    * Supported: `deletionVectors` (requires zero LIVE sidecars — OPTIMIZE
    * purges the merge-on-read debt first; history may still contain DV
    * commits) and `changeDataFeed` (historical `_cdc` sidecars stay
    * readable for old versions; capture simply stops). Both follow the
    * protected-drop flow: the drop commit removes the feature from BOTH
    * protocol sides and disables the property, a CHECKPOINT lands at the
    * drop version (readers seed there and never replay the pre-drop
    * history whose actions still carry the dropped feature's fields), and
    * `delta.requireCheckpointProtectionBeforeVersion` pins the boundary
    * under the `checkpointProtection` writer feature — metadata cleanup
    * (ours via the clamp, foreign writers via the feature gate) can never
    * recreate a checkpoint inside the protected range, which is what
    * makes the drop sound for readers that no longer understand the
    * feature. */
  def dropFeature(feature: String): Unit = {
    val s = snapshot
    def active(f: String): Boolean =
      s.protocol.readerFeatures.contains(f) || s.protocol.writerFeatures.contains(f)
    val disabledProp: String = feature match {
      case "deletionVectors" =>
        require(active("deletionVectors") ||
            s.metaData.properties.get("deletionVectors.enabled")
              .exists(_.equalsIgnoreCase("true")),
          "deletionVectors is not active on this table")
        val live = s.files.count(_.dvPath.isDefined)
        require(live == 0,
          s"cannot drop deletionVectors: $live live file(s) still carry " +
            "deletion-vector sidecars — OPTIMIZE rebases and purges them first")
        "deletionVectors.enabled"
      case "changeDataFeed" =>
        require(active("changeDataFeed") ||
            s.metaData.properties.get("changeDataFeed.enabled")
              .exists(_.equalsIgnoreCase("true")),
          "changeDataFeed is not active on this table")
        "changeDataFeed.enabled"
      case other => throw new IllegalArgumentException(
        s"DROP FEATURE supports deletionVectors and changeDataFeed; '$other' " +
          "is either not droppable (its traces live in data files) or not a " +
          "graft feature")
    }
    val proto = s.protocol.copy(
      readerFeatures = s.protocol.readerFeatures.filterNot(_ == feature),
      writerFeatures =
        (s.protocol.writerFeatures.filterNot(_ == feature) :+
          "checkpointProtection").distinct,
      minWriterVersion = math.max(s.protocol.minWriterVersion, 7))
    val dropVersion = commit(s, TxnInfo.wholeTable(s), "DROP FEATURE",
      Map("feature" -> feature))((v, _) => Seq(proto, s.metaData.copy(properties =
        s.metaData.properties - disabledProp +
          ("delta.requireCheckpointProtectionBeforeVersion" -> v.toString))))
    // the protected boundary checkpoint: readers seed at the drop version
    dropVersion.foreach(log.writeCheckpoint)
  }

  /** Delta-style auto compaction: when the table property
    * `autoCompact.maxFiles` is set and a successful append leaves more
    * live files than that, bin-pack immediately (target size from
    * `autoCompact.targetBytes`, default 128 MB). Best-effort by design —
    * losing an OPTIMIZE race to a concurrent writer must never fail the
    * append that triggered it; the next append retries. This is what
    * keeps a streaming sink's many small per-batch commits from
    * accumulating into a small-file problem at 100 TB. The property is
    * read from `committedFrom`, the snapshot the op committed from, so a
    * table without it never probes the head. */
  private def autoCompact(committedFrom: Snapshot): Unit =
    // The WHOLE body is best-effort: a malformed maxFiles/targetBytes
    // property (NumberFormatException) or an IO error inside optimize()
    // must not fail an append whose commit already succeeded.
    if (committedFrom.metaData.properties.contains("autoCompact.maxFiles")) try {
      val s = snapshot
      s.metaData.properties.get("autoCompact.maxFiles").map(_.toInt).foreach { maxFiles =>
        if (s.files.size > maxFiles) {
          val target = s.metaData.properties.get("autoCompact.targetBytes")
            .map(_.toLong).getOrElse(128L * 1024 * 1024)
          optimize(targetFileBytes = target)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Change data feed, computed from the log: for each commit in
    * (fromVersion, toVersion], diff the rows of removed vs added files.
    * Rows only in added files surface as `insert` (an update's post-image);
    * rows only in removed files as `delete` (an update's pre-image); rows
    * present in both (rewritten untouched) cancel out in the multiset diff.
    * Columns: table columns + _change_type + _commit_version +
    * _commit_timestamp; a range of maintenance commits only is an empty
    * frame with those columns.
    * (Delta CDF materializes change files at write time; computing from
    * file diffs trades one read of the touched files for zero write-path
    * overhead — the right trade for occasional consumers.) */
  def changes(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"empty range: ($fromVersion, $toVersion]")
    ((fromVersion + 1) to toVersion).flatMap(v => changesOf(CommitChanges.of(log, v)))
      .reduceOption(_ unionByName _)
      .getOrElse {
        val schema = log.snapshotAt(toVersion).schema
          .add(StructField("_change_type", StringType, nullable = false))
          .add(StructField("_commit_version", LongType, nullable = false))
          .add(StructField("_commit_timestamp", TimestampType, nullable = true))
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      }
  }

  /** One commit's row-level deltas, None for a maintenance commit (it
    * changes no row, so nothing is read). Three tiers, cheapest first:
    *  - commits that wrote `_cdc/` sidecars (CDF-enabled DML) read them
    *    back directly — O(changes) IO, no diffing;
    *  - pure-add commits derive inserts from the added files — no
    *    diff (nothing to cancel against);
    *  - legacy rewrite commits (pre-CDF) fall back to the two-snapshot
    *    multiset file-diff. */
  private def changesOf(c: CommitChanges): Option[DataFrame] = {
    val v = c.version
    val commitTs = c.info.map(i => new Timestamp(i.timestamp)).orNull
    def stamp(df: DataFrame): Option[DataFrame] = Some(df
      .withColumn("_commit_version", lit(v))
      .withColumn("_commit_timestamp", lit(commitTs)))
    c match {
      case _: CommitChanges.Maintenance => None
      case sc: CommitChanges.Sidecars =>
        // Each file is read in the shape CommitChanges gave it: Delta's
        // AddCDCFile shape (partition columns omitted from the file and
        // attached from the action), or columns in the file, spelled
        // logically (graft-native) or physically (foreign and compat).
        // Shapes can mix within one table's history (compat enabled
        // mid-life), so the split is per file.
        val cur = sc.governing
        val partCols = cur.metaData.partitionColumns
        val changeType = StructField("_change_type", StringType, nullable = false)
        def paths(fs: Seq[CommitChanges.Sidecar]) = fs.map(f => Paths.get(path, f.file.path).toString)
        /** `fs` read with `fields` spelled physically, renamed to logical. */
        def physical(fields: Seq[StructField], fs: Seq[CommitChanges.Sidecar]): DataFrame = {
          val phys = ColumnMapping.physicalSchema(StructType(fields)).add(changeType)
          ensureFieldIdResolution(phys)
          spark.read.schema(phys).parquet(paths(fs): _*)
            .select(fields.map(ColumnMapping.logicalColumn) :+ col("_change_type"): _*)
        }
        val (shaped, inFile) = sc.files.partition(_.partitionValues.isDefined)
        val (physInFile, logicalInFile) = inFile.partition(_.physical)
        val inFileDfs =
          (if (logicalInFile.isEmpty) Nil
           else Seq(spark.read.schema(cur.schema.add(changeType)).parquet(paths(logicalInFile): _*))) ++
          (if (physInFile.isEmpty) Nil else Seq(physical(cur.schema.fields.toSeq, physInFile)))
        // delta-shaped files read the non-partition columns, then attach the
        // action's partition values as constants — the cast the Hive dir
        // decode applies
        val nonPart = cur.schema.fields.toSeq.filterNot(f => partCols.contains(f.name))
        val sentinel = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME
        val shapedDfs = shaped.groupBy(_.partitionValues.get).toSeq.map { case (vals, fs) =>
          partCols.zip(vals).foldLeft(physical(nonPart, fs)) { case (df, (pc, pv)) =>
            val dt = cur.schema(pc).dataType
            df.withColumn(pc, if (pv == sentinel) lit(null).cast(dt) else lit(pv).cast(dt))
          }.select((cur.schema.fieldNames :+ "_change_type").map(col).toIndexedSeq: _*)
        }
        stamp((inFileDfs ++ shapedDfs).reduce(_ unionByName _))
      case a: CommitChanges.Appends =>
        stamp(readFiles(log.snapshotAt(v), a.adds).withColumn("_change_type", lit("insert")))
      case r: CommitChanges.Rewrite =>
        val cur = log.snapshotAt(v)
        val prev = log.snapshotAt(v - 1).files.map(f => f.path -> f).toMap
        stamp(multisetDiff(readFiles(cur, r.removes.map(x => prev(x.path))),
          readFiles(cur, r.adds)))
    }
  }

  /** RESTORE: make the table's HEAD equal an earlier version, as one new
    * commit (Delta RESTORE semantics — history moves forward, nothing is
    * erased, and the restore itself can be time-traveled away from). */
  /** RESTORE to the version current at `ts` (Delta's RESTORE ... TO
    * TIMESTAMP AS OF) — same resolution rule as time-travel reads. */
  def restore(ts: Timestamp): Unit = restore(versionAt(ts.getTime))

  def restore(version: Long): Unit = {
    val cur = snapshot
    requireNotAppendOnly(cur.metaData, "RESTORE")
    val tgt = snapshotAt(version)
    val curByPath = cur.files.map(f => f.path -> f).toMap
    val tgtPaths = tgt.files.map(_.path).toSet
    // Files present in both snapshots still differ if their deletion-vector
    // state changed (a DV delete re-adds the SAME path with a new
    // dvPath/dvCount) — restore must revert that too, or deleted rows stay
    // dead after restoring to a pre-delete version. Remove-then-re-add the
    // target's AddFile (replay applies actions in order, so the re-add
    // wins and the target's DV pointer is what the restored HEAD sees).
    val dvChanged = tgt.files.filter(f => curByPath.get(f.path)
      .exists(c => c.dvPath != f.dvPath || c.dvCount != f.dvCount))
    val removedFiles = cur.files.filterNot(f => tgtPaths.contains(f.path)) ++
      dvChanged.map(f => curByPath(f.path))
    val addedFiles = dvChanged ++ tgt.files.filterNot(f => curByPath.contains(f.path))
    // A restore across a schema-change boundary diffs frames with DIFFERENT
    // logical schemas (the removed files read with cur's, the re-added with
    // tgt's). The sidecar is read back with the POST-restore schema (= tgt's),
    // so conform both frames to it, matching columns by PHYSICAL name (a
    // rename boundary keeps the data paired) and null-filling columns the
    // source frame predates. Identity when the schemas agree.
    def conformTo(df: DataFrame, from: StructType): DataFrame = {
      val byPhys = from.fields.map(f => ColumnMapping.physicalName(f) -> f.name).toMap
      df.select(tgt.schema.fields.map { f =>
        byPhys.get(ColumnMapping.physicalName(f)) match {
          case Some(src) => col(src).cast(f.dataType).as(f.name)
          case None      => lit(null).cast(f.dataType).as(f.name)
        }
      }.toSeq: _*)
    }
    val cdc =
      if (cur.schema == tgt.schema)
        writeCdcFiles(cur,
          cdcDiff(cur, readFiles(cur, removedFiles), readFiles(tgt, addedFiles)))
      else
        writeCdcFiles(cur, cdcDiff(tgt,
          conformTo(readFiles(cur, removedFiles), cur.schema),
          conformTo(readFiles(tgt, addedFiles), tgt.schema)))
    // restore resets the WHOLE table to the target snapshot — a rebase
    // past any concurrent change would silently erase it, so everything
    // conflicts (readWholeTable + full remove set)
    commit(cur,
      TxnInfo(readWholeTable = true, None,
        cur.files.map(_.path).toSet, removedFiles.map(_.path).toSet),
      "RESTORE", Map("restoredVersion" -> version.toString))(
      (_, _) =>
        (if (tgt.metaData != cur.metaData) Seq(tgt.metaData) else Nil) ++
        addedFiles.map(Actions.untagReAdd) ++ cdc)
  }

  /** CLONE: branch this table's current snapshot into a new table at
    * `dest` (Delta CLONE semantics). Shallow (default): the clone's commit
    * 0 REFERENCES the source's data files by relative path — zero data
    * copied, so branching a 100 TB table is a metadata-only operation;
    * the clone then evolves independently (its DML writes land under its
    * own directory, and the source is never mutated — its files only ever
    * drop out of the clone's log). Deep: data files are copied. The
    * clone's VACUUM walks only its own directory, so source files are
    * physically safe from a shallow clone's retention. The hazard runs
    * the OTHER way (same caveat Delta documents for shallow clones):
    * VACUUM on the SOURCE — after source DML rewrites its files — deletes
    * files the shallow clone's log still references and breaks the clone;
    * the source has no record of who cloned it. Use deep clones when the
    * source's retention window may outrun the clone's lifetime.
    * PARTITIONED tables shallow-clone too (since round 14): escaped file
    * references read through per-partition-group scans that attach the
    * partition columns from the log (readFilesRaw's shallow-clone
    * branch) — basePath reconstruction is only for root-local files. */
  def cloneTo(dest: String, shallow: Boolean = true,
              asOfVersion: Option[Long] = None): GraftTable = {
    // CLONE ... VERSION AS OF: branch an EARLIER snapshot — reproduce an
    // experiment against last week's table without restoring the source
    val s = asOfVersion.map(snapshotAt).getOrElse(snapshot)
    Files.createDirectories(Paths.get(dest))
    val destLog = new GraftLog(dest, LogStore.resolve(spark))
    require(!destLog.exists, s"$dest is already a GraftTable")
    // the reorganization flag is COMMIT-scoped ("this commit served no new
    // rows"), not durable file state: the clone's commit 0 IS its initial
    // data, so a tag inherited from a foreign OPTIMIZE/checkpoint add must
    // not make the clone's stream serve nothing
    def untag(f: AddFile): AddFile = Actions.untagReAdd(f)
    val adds =
      if (shallow) {
        val rel = Paths.get(dest).toAbsolutePath.normalize()
          .relativize(Paths.get(path).toAbsolutePath.normalize())
        s.files.map(f => untag(f).copy(path = s"$rel/${f.path}",
          dvPath = f.dvPath.map(p =>
            if (DeltaDeletionVectors.isDescriptor(p))
              DeltaDeletionVectors.rebase(p, rel.toString)
            else s"$rel/$p")))
      } else {
        s.files.map { f =>
          Files.createDirectories(Paths.get(dest, f.path).getParent)
          Files.copy(Paths.get(path, f.path), Paths.get(dest, f.path))
          f.dvPath.flatMap(DeltaDeletionVectors.referencedFile).foreach { p =>
            Files.createDirectories(Paths.get(dest, p).getParent)
            if (!Files.exists(Paths.get(dest, p)))
              Files.copy(Paths.get(path, p), Paths.get(dest, p))
          }
          untag(f)
        }
      }
    // provenance is NOT inherited: the clone is graft-owned (writable,
    // vacuumable, its own feeds) — the read-interop marker stays with the
    // foreign source
    val meta = s.metaData.copy(id = UUID.randomUUID().toString,
      createdTime = System.currentTimeMillis(),
      properties = s.metaData.properties - Actions.DeltaReadMarker)
    // the source's protocol rides along: a clone of a DV/column-mapped
    // table must gate old readers exactly like its source (and a compat
    // clone's version 0 must carry the protocol line delta requires)
    destLog.commit(0L, Seq(meta, s.protocol,
      CommitInfo(0L, destLog.nextTimestamp(), "CLONE",
        Map("sourceTable" -> path, "sourceVersion" -> s.version.toString,
            "shallow" -> shallow.toString))) ++ adds)
    new GraftTable(spark, dest)
  }

  /** FSCK REPAIR TABLE: drop log entries whose physical data file (or
    * deletion-vector sidecar — without it, tombstoned rows would
    * resurrect) has gone missing, so scans stop dying on files an
    * external actor deleted out from under the log. The existence probe
    * is DISTRIBUTED — one task batch over the file list, O(files/cores)
    * metadata calls, never a driver loop over millions of files.
    * `dryRun` reports without committing. Returns the missing file paths.
    * The repair commits RemoveFiles under the normal conflict protocol
    * (a concurrent rewrite of the same files conflicts; disjoint commits
    * rebase). Data in the removed files is lost — that is the point:
    * FSCK converts a broken table into a readable one, loudly. */
  def fsck(dryRun: Boolean = false): Seq[String] = {
    val s = snapshot
    val root = path
    import spark.implicits._
    // a dvPath slot may be a packed foreign-DV marker — probe the STORAGE
    // file it references (inline markers reference none and never go missing)
    val entries = s.files.map(f =>
      (f.path, f.dvPath.flatMap(DeltaDeletionVectors.referencedFile)))
    val missing: Seq[String] =
      if (entries.isEmpty) Nil
      else spark.createDataset(entries)
        .mapPartitions { it =>
          it.filter { case (p, dv) =>
            !Files.exists(Paths.get(root, p)) ||
              dv.exists(d => !Files.exists(Paths.get(root, d)))
          }.map(_._1)
        }.collect().toSeq.sorted
    if (missing.isEmpty || dryRun) return missing
    val gone = missing.toSet
    commit(s,
      TxnInfo(readWholeTable = false, readPredicate = None,
        readFiles = gone, removes = gone),
      "FSCK", Map("numRemovedFiles" -> missing.size.toString))((_, _) => Nil)
    missing
  }

  /** VACUUM: physically delete data files that are no longer referenced by
    * any snapshot version >= `retainVersions` back from latest. Time travel
    * older than the retention window dies (as in Delta); the log itself is
    * kept (history() still shows all commits). Returns files deleted.
    *
    * File-age guard (Delta's retention check): unreferenced files whose
    * mtime is within `retentionMs` are KEPT — executor tasks of an
    * in-flight rewrite or streaming epoch write uncommitted UUID-named
    * files directly into the table directory, and a concurrent vacuum
    * must not delete them before their commit lands. `retentionMs < 0`
    * (the default) resolves the table property `vacuum.retentionMs`,
    * falling back to 7 days — the same value as the minimum-retention
    * floor, so default-args vacuum is always self-consistent.
    *
    * Minimum-retention safety check (Delta parity): a retention below
    * `vacuum.minRetentionMs` (default 7 days, Delta's 168 h) REFUSES to
    * run unless the table property `vacuum.retentionDurationCheck` is
    * 'false' — on a shared table, an aggressive vacuum deletes files an
    * in-flight reader, a long time-travel query, or a lagging streaming
    * source still references. Dry-run is exempt (auditing is always
    * safe); tests/bench opt out explicitly via the property. */
  def vacuum(retainVersions: Int = 0, retentionMs: Long = -1L): Int = {
    val props = snapshot.metaData.properties
    // foreign Delta tables are read-only END TO END: vacuum deletes data
    // files whose retention the foreign engine owns (delta versions this
    // fold cannot see may still reference them). Checked through BOTH
    // provenance signals — the log probe and the folded metaData marker
    // (the marker survives in checkpoint-only foreign snapshots). Dry-run
    // stays allowed: auditing is always safe.
    if (props.contains(Actions.DeltaReadMarker)) throw new GraftProtocolException(
      s"$path is a Delta table written by delta-spark (folded snapshot " +
        "carries the read-interop marker) — VACUUM would delete data files " +
        "whose retention the foreign engine owns; import the table " +
        "(CALL graft.system.import_delta) first")
    log.refuseForeignMutation("VACUUM")
    val checkEnabled =
      !props.get("vacuum.retentionDurationCheck").exists(_.equalsIgnoreCase("false"))
    if (checkEnabled) {
      val effective =
        if (retentionMs >= 0) retentionMs
        else props.get("vacuum.retentionMs").map(_.toLong)
          .getOrElse(7L * 24 * 3600 * 1000) // default == the minimum: self-consistent defaults (Delta parity)
      val minMs = props.get("vacuum.minRetentionMs").map(_.toLong)
        .getOrElse(7L * 24 * 3600 * 1000)
      require(effective >= minMs,
        s"vacuum retention ${effective}ms is below the minimum ${minMs}ms — " +
          "files an in-flight reader or lagging stream still references " +
          "could be deleted. Raise retentionMs, lower the table property " +
          "'vacuum.minRetentionMs', or set " +
          "'vacuum.retentionDurationCheck' = 'false' to override")
    }
    val orphans = vacuumOrphans(retainVersions, retentionMs)
    // the deletes distribute too once the orphan list is large — on an
    // object store each delete is a round-trip, and a million serialized
    // on the driver is the slow half of the sweep (the same reason the
    // listing went distributed); a small list stays a driver loop (no job
    // scheduling overhead for the common case)
    if (orphans.size > 1024) {
      import spark.implicits._
      val root = path
      spark.createDataset(orphans).foreachPartition {
        (it: Iterator[String]) =>
          it.foreach(f => Files.deleteIfExists(Paths.get(root, f)))
      }
    } else orphans.foreach(f => Files.deleteIfExists(Paths.get(path, f)))
    orphans.size
  }

  /** Metadata cleanup (Delta's `logRetentionDuration`, default 30 days):
    * prune commit/checkpoint files older than the retention window, up to
    * the newest checkpoint inside it — the log stops growing one file per
    * write FOREVER (a 100 TB table writing every minute accumulates half a
    * million log files a year; the fold doesn't pay for them thanks to
    * checkpoints, but LIST/storage does). Every retained version still
    * folds from the boundary checkpoint; time travel older than retention
    * dies, like VACUUM for data files. Resolves `log.retentionMs` when the
    * argument is negative. Returns files removed. */
  def cleanupExpiredLogs(retentionMs: Long = -1L): Int = {
    val meta = snapshot.metaData
    val retention =
      if (retentionMs >= 0) retentionMs
      else meta.properties.get("log.retentionMs").map(_.toLong)
        .getOrElse(30L * 24 * 3600 * 1000)
    // checkpointProtection (adopted delta tables): cleanup may only
    // truncate AT OR ABOVE the protected version. An unparsable value
    // protects forever — never guess a boundary the spec pins.
    val protectedBelow = meta.properties
      .get("delta.requireCheckpointProtectionBeforeVersion")
      .map(v => scala.util.Try(v.trim.toLong).getOrElse(Long.MaxValue))
      .getOrElse(-1L)
    log.cleanupExpiredLogs(System.currentTimeMillis() - retention, protectedBelow)
  }

  /** VACUUM DRY RUN (Delta parity): the files a `vacuum` with the same
    * arguments WOULD delete, without deleting anything — the audit step
    * before an irreversible retention sweep on a 100 TB table. */
  def vacuumDryRun(retainVersions: Int = 0, retentionMs: Long = -1L): Seq[String] =
    vacuumOrphans(retainVersions, retentionMs)

  private def vacuumOrphans(retainVersions: Int, retentionMs: Long): Seq[String] = {
    val latest = latestVersion
    val cutoff = System.currentTimeMillis() - (
      if (retentionMs >= 0) retentionMs
      else snapshot.metaData.properties.get("vacuum.retentionMs").map(_.toLong)
        .getOrElse(7L * 24 * 3600 * 1000))
    // clamp to the log's retention floor: after cleanupExpiredLogs pruned
    // history, a retainVersions spanning the pruned boundary must vacuum
    // the range that still EXISTS, not abort on a deleted version
    val keepFrom = math.max(log.earliestVersion, latest - retainVersions)
    // Referenced = ONE snapshot fold at the retention floor (itself seeded
    // from the nearest checkpoint) + every file ADDED by a later retained
    // commit: a file referenced by ANY retained snapshot is either live at
    // keepFrom or added after it. The old shape folded a full snapshot PER
    // retained version — O(retained × fold) log reads for the same set.
    def dvRefs(f: AddFile): Seq[String] =
      f.dvPath.toSeq.flatMap(DeltaDeletionVectors.referencedFile)
    val referenced = (
      log.snapshotAt(keepFrom).files.flatMap(f => f.path +: dvRefs(f)) ++
      (keepFrom to latest).flatMap(v => log.readVersion(v).flatMap {
        case a: AddFile if v > keepFrom => a.path +: dvRefs(a)
        // change-data sidecars belong to COMMITS, not snapshots: keep
        // those of every retained version (keepFrom's own included) so
        // changes()/CDF streams stay readable
        case c: CdcFile => Seq(c.path)
        case _ => Nil
      })).toSet
    // Distributed listing (the FSCK shape): the driver enumerates only
    // DIRECTORIES (partition dirs — thousands at most); executors list
    // each directory's files and stat mtimes, so the 1M-file metadata
    // round-trips spread over the cluster instead of serializing on the
    // driver. Candidates anti-join the referenced set as datasets — no
    // driver-side membership loop over the full listing.
    // DEPLOYMENT REQUIREMENT — shared filesystem: the executor-side
    // list/stat/delete closures use java.nio.Files directly, so every
    // executor must see the table root at the driver's path (POSIX/NFS/
    // FUSE mount). Data-plane-only constraint, same as
    // FileOps.harvestStats (see its scaladoc); commit atomicity still
    // rides the LogStore seam.
    val root = Paths.get(path)
    val rootStr = path
    val dirs: Seq[String] = {
      val b = Seq.newBuilder[String]
      def rec(d: java.nio.file.Path): Unit = {
        b += root.relativize(d).toString
        val st = Files.newDirectoryStream(d)
        try st.iterator().asScala.foreach { p =>
          if (Files.isDirectory(p) && p.getFileName.toString != "_delta_log") rec(p)
        } finally st.close()
      }
      rec(root)
      b.result()
    }
    import spark.implicits._
    val listed = spark.createDataset(dirs).flatMap { rel =>
      val rootP = Paths.get(rootStr)
      val d = rootP.resolve(rel)
      val st = Files.newDirectoryStream(d)
      try st.iterator().asScala.flatMap { p =>
        val nm = p.getFileName.toString
        if (Files.isRegularFile(p) && (nm.endsWith(".parquet") ||
            (nm.startsWith("deletion_vector_") && nm.endsWith(".bin"))))
          Some((rootP.relativize(p).toString,
            try Files.getLastModifiedTime(p).toMillis
            catch { case _: java.io.IOException => Long.MaxValue }))
        else None
      }.toList finally st.close()
    }.toDF("path", "mtime")
    listed.join(referenced.toSeq.toDF("path"), Seq("path"), "left_anti")
      .filter(col("mtime") <= cutoff)
      .select("path").as[String].collect().toSeq.sorted
  }

  /** OPTIMIZE: bin-pack the current live files toward `targetFileBytes`.
    * Bare bin-pack output sizing is a BAND, not a point: floor sizing
    * (`nOut = floor(total/target)`) makes the average output land in
    * [target, 2×target) — the deliberate convergence tradeoff. Treating
    * target as a strict upper bound (ceil) plus the half-target admission
    * gate would emit sub-target files that re-admit and re-compact into
    * themselves forever (unbounded write amplification on an autoCompact
    * sink); the band costs at most one extra target-width of file size
    * and buys a fixed point on pass two. Clustered modes keep ceil —
    * there, target IS an upper bound, because granularity (narrow key
    * ranges per file) matters more than fill.
    * With `clusterBy` set, range-cluster rows so each output file
    * covers a narrow key range — that is what makes the footer min/max
    * stats selective and turns DataSkipping into real I/O elimination.
    * With `zorderBy` (2+ numeric columns), rows order along a Z
    * (Morton) space-filling curve instead: each dimension is
    * quantile-bucketed to 8 bits (boundaries from one sampling pass, the
    * same mechanism RangePartitioner uses; assignment is a map-side
    * integer expression), the per-dimension bits interleave into one
    * z-value, and files range-cluster on it — so every output file covers
    * a small BOX in the key space and DataSkipping prunes on ANY of the
    * z dimensions, where linear clusterBy serves only its leading column.
    * Pure reorganization — same rows, one commit, older versions still
    * time-travel. */
  def optimize(targetFileBytes: Long = 128L * 1024 * 1024,
               clusterBy: Seq[String] = Nil,
               zorderBy: Seq[String] = Nil,
               where: Option[Column] = None,
               /** Delta's `OPTIMIZE t FULL`: re-cluster EVERY in-scope file
                 * under the declared clustering, conforming or not — the
                 * escape hatch when incremental cube boundaries have
                 * drifted from the data distribution. */
               full: Boolean = false,
               /** Re-bucket the table to `bucket(n, column)` — the ONE
                 * legal escape from create-time bucketing immutability,
                 * because it IS the full rewrite the immutability rule
                 * exists to make explicit: every file rewrites under the
                 * new layout and the bucketing properties swap in the
                 * SAME commit. Time travel below the commit folds the old
                 * metaData, so old snapshots keep their old layout. */
               rebucketTo: Option[(String, Int)] = None): Unit = {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "clusterBy and zorderBy are exclusive")
    rebucketTo match {
      case Some((c, n)) =>
        require(clusterBy.isEmpty && zorderBy.isEmpty && where.isEmpty && !full,
          "rebucketTo is a standalone full rewrite — no clustering or scoping")
        return rebucket(c, n, targetFileBytes)
      case None => ()
    }
    val s = snapshot
    // INCREMENTAL CLUSTERING (the Delta liquid-clustering direction): with
    // the table properties `clustering.columns` (+ optional
    // `clustering.curve` = zorder | range; default zorder for 2+ columns)
    // set, a bare OPTIMIZE maintains the declared clustering
    // incrementally — files already written under the CURRENT spec (their
    // `clustered` tag matches) are skipped byte-identical, and only
    // violating files (new appends since the last OPTIMIZE, DV-carrying
    // files, pre-clustering leftovers) rewrite. On a growing 100 TB table
    // this is the difference between maintenance costing O(new data) and
    // the full re-cluster per pass that makes teams stop running it.
    // Changing the property re-clusters everything once (no tag matches).
    val propCols = s.metaData.properties.get("clustering.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val incremental =
      clusterBy.isEmpty && zorderBy.isEmpty && propCols.nonEmpty
    val (cCols, zCols) =
      if (!incremental) (clusterBy, zorderBy)
      else s.metaData.properties.get("clustering.curve") match {
        case Some("range") => (propCols, Nil)
        case Some("zorder") => (Nil, propCols)
        // an unrecognized curve must raise, not silently fall through to
        // the default: the table would be quietly maintained under a
        // DIFFERENT clustering than the user declared, and every later
        // pass would skip the mis-clustered files as "conforming"
        case Some(other) => throw new IllegalArgumentException(
          s"unknown clustering.curve '$other' (supported: zorder, range)")
        case None => if (propCols.size >= 2) (Nil, propCols) else (propCols, Nil)
      }
    /** The clustering spec a rewritten file is stamped with — and the tag
      * an incremental pass treats as "already conforming". */
    val clusterSpec: Option[String] =
      if (zCols.nonEmpty) Some(s"zorder(${zCols.mkString(",")})")
      else if (cCols.nonEmpty) Some(s"range(${cCols.mkString(",")})")
      else None
    // `where` scopes the rewrite to files that may hold matching rows —
    // at 100 TB you OPTIMIZE the hot partition after its ingest churn, not
    // the whole table; out-of-scope files survive byte-identical.
    val inScope = where.map(prunedFiles(s, _)).getOrElse(s.files)
    val scoped0 =
      if (!incremental || full) inScope
      else inScope.filterNot(f =>
        f.dvPath.isEmpty && f.tags.get("clustered") == clusterSpec)
    // bare bin-pack (no clustering anywhere): only files below HALF the
    // target participate (minFileSize = target/2 — Delta's hysteresis).
    // Re-packing right-sized files would make every maintenance pass a
    // full table rewrite at 100 TB, and a threshold AT target would never
    // converge: compaction re-encodes smaller than the sum of its inputs,
    // so outputs just under target would re-admit forever. The half-target
    // gap means an output between target/2 and target is final. A
    // DV-carrying file always participates (OPTIMIZE is the DV purge
    // path), and `full = true` forces everything in.
    val scoped =
      if (cCols.nonEmpty || zCols.nonEmpty || full) scoped0
      else scoped0.filter(f => f.size < targetFileBytes / 2 || f.dvPath.isDefined)
    val clusteredSkipped = inScope.size - scoped0.size
    if (incremental && scoped.isEmpty) return
    // a single file still rebases if it carries a deletion vector —
    // OPTIMIZE is the DV purge path (merge-on-read debt repayment)
    if (scoped.size <= 1 && scoped.forall(_.dvPath.isEmpty) &&
        cCols.isEmpty && zCols.isEmpty) return
    val totalBytes = scoped.map(_.size).sum
    // Output sizing differs by mode. Clustered: ceil — target is an UPPER
    // bound on file size, granularity matters more than fill. Bare
    // bin-pack: FLOOR — outputs average at/above target, and with the
    // half-target admission gap above even a re-encode shrink leaves them
    // outside the candidate set, so compaction reaches a fixed point.
    // Ceil + an at-target threshold would emit sub-target files that
    // re-compact into themselves forever — unbounded write amplification
    // on an autoCompact streaming sink.
    val nOut =
      if (cCols.isEmpty && zCols.isEmpty && !full)
        math.max(1, (totalBytes / targetFileBytes).toInt)
      else math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // under row tracking the reorganization carries every row's resolved
    // id and the rewrite materializes it — OPTIMIZE moves rows between
    // files without changing their identity
    def readScoped(): DataFrame =
      if (!rowTrackingEnabled(s.metaData)) readFiles(s, scoped)
      else readFilesMeta(s, scoped).drop("__fname", "__pos")
    val reorganized =
      if (zCols.nonEmpty) {
        val df0 = readScoped()
        val k = zCols.size
        // STRING dims ride the same quantile/bucket machinery through an
        // order-preserving numeric proxy: the first 7 characters encode
        // base-257 (codepoints clamped to 256 — 257^7 < 2^63), so
        // lexicographic order on realistic ASCII-ish prefixes becomes
        // numeric order. The proxy only shapes the LAYOUT — correctness
        // never depends on it (same rows, one commit) and DataSkipping
        // prunes on the real string min/max stats the clustered files get.
        val df = zCols.zipWithIndex.foldLeft(df0) { case (d, (c, j)) =>
          if (d.schema(c).dataType == StringType)
            d.withColumn(s"__zp$j", expr(
              s"aggregate(transform(sequence(1, 7), i -> " +
                s"least(coalesce(ascii(substring(`$c`, i, 1)), -1) + 1, 256)), " +
                "0L, (acc, x) -> acc * 257L + x)"))
          else d.withColumn(s"__zp$j", col(c))
        }
        val proxyCols = (0 until k).map(j => s"__zp$j")
        // 255 interior quantile boundaries per dim → 256 rank-uniform
        // buckets, robust to skew (value-uniform width_bucket is not).
        // approxQuantile is one sampling aggregate over all dims at once.
        val probs = (1 until 256).map(_ / 256.0).toArray
        val bounds = df.stat.approxQuantile(proxyCols.toArray, probs, 0.01)
        val bucketed = proxyCols.zipWithIndex.foldLeft(df) { case (d, (c, j)) =>
          val bArr = bounds(j).map(v => s"cast($v as double)").mkString("array(", ",", ")")
          // bucket = #boundaries <= value (0..255); nulls land in bucket 0
          d.withColumn(s"__zb$j",
            expr(s"size(filter($bArr, b -> b <= cast(`$c` as double)))"))
        }
        // Morton interleave: bit i of dim j lands at position i*k + (k-1-j)
        val zTerms = for (i <- 0 until 8; j <- 0 until k) yield
          s"shiftleft(cast(shiftright(__zb$j, $i) & 1 as bigint), ${i * k + (k - 1 - j)})"
        bucketed.withColumn("__zv", expr(zTerms.mkString(" + ")))
          .repartitionByRange(nOut, col("__zv"))
          .sortWithinPartitions("__zv")
          .drop((0 until k).flatMap(j => Seq(s"__zb$j", s"__zp$j")) :+ "__zv": _*)
      } else if (cCols.nonEmpty) {
        readScoped().repartitionByRange(nOut, cCols.map(col): _*)
      } else readScoped().repartition(nOut)
    // a reorganization's rows ALL carry materialized ids, so no bases are
    // allocated and no hwm MetaData bump is emitted — OPTIMIZE keeps its
    // concurrent-append leniency on row-tracking tables
    val adds = writeDataMapped(reorganized, s.metaData)
      // stamp clustered outputs with the spec so the NEXT incremental pass
      // can prove they conform and leave them byte-identical
      .map(a => clusterSpec.fold(a)(sp => a.copy(tags =
        a.tags + ("clustered" -> sp))))
    // pure reorganization of exactly `scoped`: concurrent appends never
    // conflict (Delta's dataChange=false leniency) — only a writer that
    // removed one of our input files does
    commit(s,
      TxnInfo(readWholeTable = false, None,
        scoped.map(_.path).toSet, scoped.map(_.path).toSet),
      "OPTIMIZE",
      // the skip metrics PARTITION the untouched file set (summing
      // never double-counts): numFilesSkipped = out of `where` scope,
      // numClusteredFilesSkipped = conforming clustered files,
      // numSizeSkipped = right-sized survivors of a bare bin-pack —
      // so s.files.size == before + the skips, auditable per commit
      Map("numFilesBefore" -> scoped.size.toString,
          "numFilesAfter" -> adds.size.toString,
          "numFilesSkipped" -> (s.files.size - inScope.size).toString) ++
        (if (incremental)
           Map("numClusteredFilesSkipped" -> clusteredSkipped.toString)
         else Map.empty) ++
        (if (scoped0.size != scoped.size)
           Map("numSizeSkipped" -> (scoped0.size - scoped.size).toString)
         else Map.empty) ++
        (if (zCols.nonEmpty) Map("zorderBy" -> zCols.mkString(","))
         else Map.empty),
      // reorganization, not new data: removes carry dataChange=false and
      // the outputs the reorg tag — the PROTOCOL-level spelling (what
      // compat emits for delta streams and the tail reader skips on),
      // alongside the operation-name recognition graft always had
      dataChange = false)(
      (_, _) => identityMeta(s, adds) ++ adds.map(a => a.copy(tags =
        a.tags + (Actions.DataChangeFalseTag -> "true"))))
  }

  /** The `optimize(rebucketTo = ...)` rewrite: every live file reads back
    * (deletion vectors applied — the rewrite purges them like any
    * OPTIMIZE) and lands under the NEW `bucket(n, column)` layout; the
    * bucketing properties swap in the same commit, so readers never see a
    * half-bucketed table. Still a reorganization (rows unchanged):
    * removes carry dataChange=false, outputs the reorg tag, streams skip
    * it by operation name — but the conflict domain is the WHOLE table
    * (a rebase past any concurrent change would rewrite it away). */
  private def rebucket(column: String, n: Int, targetFileBytes: Long): Unit = {
    val s = snapshot
    // the stored name is PHYSICAL only when the table actually maps
    // columns — resolving through stray metadata an unmapped schema
    // inherited from its seed frame would pin a stale spelling
    val stored =
      if (columnMappingEnabled(s.metaData)) ColumnMapping.physicalOf(s.schema, column)
      else column
    val props = s.metaData.properties +
      (Bucketing.ColumnProp -> stored) + (Bucketing.CountProp -> n.toString)
    Bucketing.validate(s.schema, s.metaData.partitionColumns, props)
    val newMeta = s.metaData.copy(properties = props)
    val totalBytes = s.files.map(_.size).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val rows =
      if (!rowTrackingEnabled(s.metaData)) readFiles(s, s.files)
      else readFilesMeta(s, s.files).drop("__fname", "__pos")
    // co-locate each NEW bucket's rows before the partitioned write: a
    // task then writes whole buckets instead of tasks × buckets fragments
    val adds = writeDataMapped(
      rows.repartition(nOut, Bucketing.idExpr(column, n)), newMeta)
    // a COMPAT table re-states the protocol action in this commit: the
    // serializer derives the v7 graft.bucketing gate from the commit's
    // newMeta, and without the line a real delta writer replaying the
    // JSON log would still see the pre-bucketing writer version and
    // append unbucketed files (the gate must not wait for a checkpoint)
    val protocolLine: Seq[Action] =
      if (DeltaWriteCompat.enabled(newMeta)) Seq(s.protocol) else Nil
    commit(s, TxnInfo.wholeTable(s, removeAll = true), "OPTIMIZE",
      Map("rebucketTo" -> s"bucket($n, $column)",
          "numFilesBefore" -> s.files.size.toString,
          "numFilesAfter" -> adds.size.toString),
      dataChange = false)(
      (_, _) => (newMeta +: protocolLine) ++ adds.map(a => a.copy(tags =
        a.tags + (Actions.DataChangeFalseTag -> "true"))))
  }

  /** DELETE rows matching `pred` (api.py:107). Files with no match survive
    * untouched (discovered via stats pruning + input_file_name provenance);
    * matched files are rewritten with `NOT pred` (null predicate ⇒ keep). */
  /** Files of `s` that may contain rows matching `pred`. Partition values
    * enter the same pruning as exact (min = max = value) stats, so
    * partition pruning and stats skipping are one mechanism. */
  def prunedFiles(s: Snapshot, pred: Column): Seq[AddFile] =
    pruneCandidates(s, pred, s.files)

  /** `prunedFiles` over an explicit candidate list — the conflict checker
    * probes a WINNING commit's added files against this txn's read
    * predicate with exactly the pruning semantics the read used. */
  private[table] def pruneCandidates(s: Snapshot, pred: Column,
      candidates: Seq[AddFile]): Seq[AddFile] =
    pruneResolved(s, DataSkipping.resolve(spark, s.schema, pred), candidates)

  /** The pruning itself, over a predicate already resolved against the
    * snapshot's LOGICAL column names — [[GraftFileIndex]] hands it the
    * filters Spark pushes into a scan. */
  private[table] def pruneResolved(s: Snapshot, resolved: Expression,
      candidates: Seq[AddFile]): Seq[AddFile] = {
    // under column mapping stats/partition keys are physical — translate
    // through the CURRENT mapping (strict: stale physical keys of dropped
    // columns don't translate and so can never prune a same-named
    // successor column)
    val mapped = ColumnMapping.active(s.schema)
    val p2l = if (mapped) ColumnMapping.physToLog(s.schema) else Map.empty[String, String]
    def logicalKeys(m: Map[String, String]): Map[String, String] =
      if (!mapped) m else m.flatMap { case (k, v) => p2l.get(k).map(_ -> v) }
    // partition DIRECTORY values are Hive display strings; footer stats and
    // predicate literals compare in the column's STORED form (dates as
    // epoch days, timestamps as micros) — re-encode before they enter
    // pruning, dropping any value that doesn't parse (conservative: an
    // absent stat never skips)
    val fieldType = s.schema.fields.map(f => f.name -> f.dataType).toMap
    def statEncode(m: Map[String, String]): Map[String, String] =
      m.flatMap { case (k, v) =>
        fieldType.get(k) match {
          case Some(_: org.apache.spark.sql.types.DateType) =>
            scala.util.Try(java.time.LocalDate.parse(v).toEpochDay.toString)
              .toOption.map(k -> _)
          case Some(_: org.apache.spark.sql.types.TimestampType) =>
            None // dir strings carry no zone; never guess micros
          case Some(org.apache.spark.sql.types.TimestampNTZType) =>
            // NTZ is zone-LESS by definition: the dir string "yyyy-MM-dd
            // HH:mm:ss[.f]" IS the value — parse to local micros, the
            // stored form litValue compares. Unparseable → no stat (keep).
            scala.util.Try {
              val ldt = java.time.LocalDateTime.parse(v.replace(' ', 'T'))
              (ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
                ldt.getNano / 1000L).toString
            }.toOption.map(k -> _)
          case _ => Some(k -> v)
        }
      }
    val mayMatch = DataSkipping.matcher(resolved)
    val statPruned = candidates.filter { f =>
      val widened = f.copy(
        minValues = logicalKeys(f.minValues) ++ statEncode(logicalKeys(f.partitionValues)),
        maxValues = logicalKeys(f.maxValues) ++ statEncode(logicalKeys(f.partitionValues)),
        // partition columns are never null on disk (Hive layout) but their
        // dir value can be the null marker — only footer-backed null
        // counts enter pruning, translated to logical names
        nullCounts =
          (if (!mapped) f.nullCounts
           else f.nullCounts.flatMap { case (k, v) => p2l.get(k).map(_ -> v) }))
      mayMatch(widened)
    }
    // bucket skipping: an equality/IN probe on the BUCKETING column keeps
    // only the probed keys' hash buckets — a point lookup on a bucketed
    // table scans 1/N of the files with no stats at all (every row of a
    // file shares the file's __bucket dir, so rows matching col = v can
    // only live in bucket(v))
    val bucketPruned = Bucketing.spec(s.metaData) match {
      case Some((bc, n)) =>
        val vals = DataSkipping.equalityProbes(resolved).getOrElse(bc, Nil)
        val dt = s.schema.fields.find(_.name == bc).map(_.dataType)
        val hashed = vals.map(v => dt.flatMap(t => Bucketing.bucketOfValue(v, t, n)))
        // ANY unhashable probe value disables the prune (conservative);
        // colliding values simply share a bucket
        if (vals.isEmpty || hashed.exists(_.isEmpty)) statPruned
        else {
          val wanted = hashed.flatten.toSet
          statPruned.filter(_.partitionValues.get(Bucketing.BucketCol)
            .forall(b => wanted.contains(b.toInt)))
        }
      case None => statPruned
    }
    // bloom skipping: equality probes on the table's bloom columns drop
    // files whose native parquet blooms provably exclude every candidate.
    // Runs only on min/max survivors and reads footer metadata only.
    val bloomCols = GraftTable.bloomColumns(s.metaData)
    if (bloomCols.isEmpty) bucketPruned
    else {
      val probes = DataSkipping.equalityProbes(resolved)
        .filter { case (c, _) => bloomCols.contains(c) }
        .map { case (c, v) => ColumnMapping.physicalOf(s.schema, c) -> v }
      if (probes.isEmpty) bucketPruned
      else bucketPruned.filter(f =>
        FileOps.bloomMayMatch(Paths.get(path, f.path), probes))
    }
  }

  /** VARIANT shredding (the Delta variant-shredding direction): for each
    * `variant.shred.paths` declaration `column:$.path:type`, every data
    * write materializes `try_variant_get(column, path, type)` as a typed
    * sibling column IN THE FILE (not in the logical schema), so the
    * ordinary footer harvest records its min/max/null-count and a
    * `try_variant_get` predicate can data-skip files — without this, a
    * variant predicate re-evaluates per row and can never prune.
    * TRY semantics on both sides by design: stats ignore uncastable
    * values, and only `failOnError = false` gets consult them at prune
    * time (DataSkipping.attrName), so strict `variant_get` queries —
    * which may throw on malformed rows a skip would silence — never
    * prune. Files written before the declaration simply lack the stat
    * (kept, never skipped — conservative). */
  private def withShredColumns(df: DataFrame, meta: MetaData): DataFrame =
    GraftTable.shredSpecs(meta).foldLeft(df) { case (d, (c, p, dt)) =>
      if (!d.columns.contains(c)) d
      else d.withColumn(DataSkipping.shredStatName(c, p, dt),
        expr(s"try_variant_get(`$c`, '$p', '${dt.sql}')"))
    }

  /** Delta's OPTIMIZED WRITES (`optimizeWrite.enabled`): pre-shuffle the
    * frame on the partition columns before a partitioned write, so each
    * partition VALUE is written by one task instead of by every input
    * task. Without it, a T-task write into P partition values emits up to
    * T×P files — the small-file explosion that makes teams run OPTIMIZE
    * constantly; with it, P files. The trade is one extra shuffle per
    * write and potential skew onto hot partition values (why it is a
    * property, not the default — Delta ships the same switch). */
  private def withOptimizedWrite(df: DataFrame, meta: MetaData): DataFrame =
    if (meta.partitionColumns.nonEmpty &&
        meta.properties.get("optimizeWrite.enabled").exists(_.equalsIgnoreCase("true")))
      df.repartition(meta.partitionColumns.map(col): _*)
    else df

  /** Write data files under column mapping: the frame (logical names, in
    * snapshot-schema order) is renamed to physical names, partition dirs
    * and bloom options follow the physical spelling, and the harvested
    * AddFile stats come back keyed physical (translated back to logical
    * at prune time via the then-current mapping). Identity — straight
    * through to FileOps — when mapping is inactive. Variant shred columns
    * ride only the UNMAPPED path: under column mapping a logical rename
    * would leave stale logical-named shred stats behind, so prune-time
    * key translation drops them and the write skips them. */
  private def writeDataMapped(df0: DataFrame, meta: MetaData): Seq[AddFile] =
    // stats-column cap (dataSkipping.numIndexedCols) applies to every
    // batch write funneling through here — the harvest reads all footer
    // columns in its one pass; only what the LOG records is capped
    FileOps.capAddStats(meta, writeDataMappedUncapped(df0, meta))

  private def writeDataMappedUncapped(df0: DataFrame, meta: MetaData): Seq[AddFile] = {
    val df = withOptimizedWrite(df0, meta)
    // Under compat + mapping, data files must carry parquet field ids
    // (delta's columnMapping contract; id-mode READERS can only bind new
    // files through them). The ids are stamped here pre-write with the
    // SAME deterministic assignment the commit chokepoint persists
    // (GraftLog.stampMappingIds → withFieldIds: sequential from the
    // metaData's maxColumnId over the same schema), so a schema-evolving
    // commit's files spell exactly the ids its committed schema declares.
    val metaW =
      if (DeltaWriteCompat.stampsIds(meta)) DeltaWriteCompat.withFieldIds(meta)
      else meta
    val schema = org.apache.spark.sql.types.DataType.fromJson(metaW.schemaString)
      .asInstanceOf[StructType]
    if (!ColumnMapping.active(schema)) {
      // physical == logical everywhere, but a freshly-mapped (or
      // decoy-free adopted) table still needs its field ids in the files
      val dfI =
        if (!ColumnMapping.hasWriteIds(schema)) df
        else {
          val byName = schema.fields.map(f => f.name -> f).toMap
          df.select(df.columns.toIndexedSeq.map(c =>
            byName.get(c).map(ColumnMapping.physicalWriteColumn)
              .getOrElse(col(c))): _*)
        }
      // bucketed tables write every file under its hidden __bucket=<id>
      // dir — the id is a pure function of the row (pmod(hash(col), n)),
      // so EVERY rewrite path through here preserves bucket purity
      val (dfB, partsB) =
        Bucketing.withBucket(withShredColumns(dfI, meta), meta, meta.partitionColumns)
      FileOps.writeDataFiles(dfB, path, partsB,
        GraftTable.bloomWriteOptions(meta))
    }
    else {
      // the materialized row-id column (row tracking) is not part of the
      // logical schema but must land in the file under its fixed name
      val rid = if (df.columns.contains(GraftTable.RowIdCol))
        Seq(col(GraftTable.RowIdCol)) else Nil
      // the bucket id computes on the LOGICAL frame (spec resolves the
      // current logical name under mapping) and rides the rename as the
      // hidden dir column — purity through this chokepoint, same as the
      // unmapped branch. withBucket's second element IS the extra dir
      // column list (empty when unbucketed).
      val (dfB, bucketDir) = Bucketing.withBucket(df, meta, Nil)
      val renamed = dfB.select(
        schema.fields.map(ColumnMapping.physicalWriteColumn).toSeq ++ rid ++
          bucketDir.map(col): _*)
      val physParts =
        meta.partitionColumns.map(ColumnMapping.physicalOf(schema, _)) ++ bucketDir
      FileOps.writeDataFiles(renamed, path, physParts,
        GraftTable.bloomWriteOptions(meta, ColumnMapping.physicalOf(schema, _)))
    }
  }

  /** Is merge-on-read DELETE active? (table property, protocol-gated) */
  private def dvEnabled(meta: MetaData): Boolean =
    meta.properties.get("deletionVectors.enabled").exists(_.equalsIgnoreCase("true"))

  /** Is change-data-feed capture active? (table property, protocol-gated —
    * Delta's delta.enableChangeDataFeed) */
  private def cdfEnabled(meta: MetaData): Boolean =
    meta.properties.get("changeDataFeed.enabled").exists(_.equalsIgnoreCase("true"))

  /** The commit's row-level deltas as a tagged frame: BEFORE vs AFTER
    * contents of the touched file set, multiset-diffed so rows merely
    * carried between files during a rewrite cancel — only real changes
    * remain (the same algebra the legacy `changes()` file-diff applies at
    * read time, here paid ONCE at write time). */
  private def cdcDiff(s: Snapshot, oldRows: DataFrame, newRows: DataFrame): DataFrame = {
    val cols = s.schema.fieldNames.map(col).toSeq
    multisetDiff(oldRows.select(cols: _*), newRows.select(cols: _*))
  }

  /** `newRows` minus `oldRows` as multisets, each row tagged `insert` or
    * `delete` in `_change_type`: a row value appears |net| times, tagged by
    * the sign of net = (copies in `newRows`) − (copies in `oldRows`) —
    * the rows `n.exceptAll(o)` ∪ `o.exceptAll(n)` would give, from one
    * signed-count aggregate that scans each side once, with one exchange
    * (guide §2.4). Grouping treats NULLs as equal, as exceptAll does. */
  private def multisetDiff(oldRows: DataFrame, newRows: DataFrame): DataFrame = {
    val cols = newRows.columns.toSeq.map(col)
    newRows.withColumn("__cdf_sign", lit(1L))
      .unionByName(oldRows.withColumn("__cdf_sign", lit(-1L)))
      .groupBy(cols: _*)
      .agg(sum(col("__cdf_sign")).as("__cdf_net"))
      .filter(col("__cdf_net") =!= 0L)
      .select(cols :+ explode(expr(
        """array_repeat(if(__cdf_net > 0, 'insert', 'delete'),
          |cast(abs(__cdf_net) as int))""".stripMargin)).as("_change_type"): _*)
  }

  /** Write a commit's change rows as flat `_cdc/cdc-*.parquet` sidecars
    * (distributed write — executors produce the files, sized by the change
    * volume, not the table) and return the CdcFile actions to ride in the
    * commit. No-op (Nil) when CDF is off or the diff is empty. Callers
    * invoke this BEFORE the commit so the files exist when it makes them
    * visible; the files of a commit that never lands are swept by vacuum
    * like any unreferenced file. */
  private def writeCdcFiles(s: Snapshot, change: => DataFrame): Seq[CdcFile] = {
    if (!cdfEnabled(s.metaData)) return Nil
    // Under delta write-compat on a PARTITIONED table the sidecars take
    // delta's AddCDCFile shape: the write partitions by the table's
    // partition columns (moved out of the file, nulls spelled as the Hive
    // sentinel, the files still flat in `_cdc/`), and each file's values
    // ride on the CdcFile action — real delta CDF readers reconstitute the
    // columns from the action exactly like data files, and so do graft's
    // own changes()/stream paths. Native tables keep the full-row shape
    // (partition columns IN the file), so pre-existing sidecars and new
    // ones coexist: the shape is per-file, told by the action's map.
    val partCols = s.metaData.partitionColumns
    val compat = DeltaWriteCompat.enabled(s.metaData)
    val deltaShape = partCols.nonEmpty && compat
    // Under compat the cdc DATA columns spell their PHYSICAL names (+ the
    // mapping's parquet field ids) — exactly like data files. A logical
    // spelling would silently decode as NULL for any renamed column, both
    // in a real delta CDF reader and in graft's own physical-requesting
    // shaped read (round 16; previously only partition-column handling
    // was delta-shaped and a mapped+renamed+CDF compat table misread).
    // Native (non-compat) sidecars stay logical-named — their readers
    // request logical names, dispatched per-version by the governing
    // metaData's compat flag.
    val changeW =
      if (!compat) change
      else {
        val metaW =
          if (DeltaWriteCompat.stampsIds(s.metaData))
            DeltaWriteCompat.withFieldIds(s.metaData)
          else s.metaData
        val schemaW = org.apache.spark.sql.types.DataType
          .fromJson(metaW.schemaString).asInstanceOf[StructType]
        val byName = schemaW.fields.map(f => f.name -> f).toMap
        val c0 = change
        c0.select(c0.columns.toIndexedSeq.map(c =>
          byName.get(c).map(ColumnMapping.physicalWriteColumn)
            .getOrElse(col(c))): _*)
      }
    val physParts =
      if (!compat) partCols
      else {
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(s.metaData.schemaString).asInstanceOf[StructType]
        partCols.map(ColumnMapping.physicalOf(schema, _))
      }
    // size feeds the CDF stream's maxBytesPerTrigger admission
    DataFileWriter.write(changeW, path, kind = "cdc", dir = "_cdc",
        partitionCols = if (deltaShape) physParts else Nil, partitionDirs = false)
      .map(w => CdcFile(w.path, w.rows, w.size, w.partitionValues))
  }

  /** The one row-level write step of DELETE, UPDATE, MERGE and
    * replaceWhere, and the only place that chooses between merge-on-read
    * and copy-on-write (Delta Lake's deletion vectors vs file rewrites).
    *
    * `rows` covers every live row of the `touched` files and carries
    * `__fname`/`__pos` provenance, an `__affected` flag (the op changes or
    * removes the row), a `__deleted` flag (the row has no post-image), the
    * pre-image as the `__pre` struct and the post-image in the schema's
    * columns (plus `_row_id` under row tracking). `affected` holds each
    * touched file's affected positions, keyed by [[canonPath]] (the
    * discovery pass's [[TouchedFiles]] fold); `inserts` are fresh rows;
    * `deletesOnly` says no affected row has a post-image. Returns the
    * number of affected rows the commit applied.
    *
    *  - Tombstone when `deletionVectors.enabled` is on and the touched
    *    files' existing tombstones plus the affected rows stay within
    *    `deletionVectors.maxTombstones` (default 4M): each touched file's
    *    affected positions, ORed on the driver with the tombstones it
    *    already carries, become its bitmap in one Delta-format
    *    `deletion_vector_<uuid>.bin` ([[DeltaDeletionVectors.writeDvFile]]),
    *    the touched files are re-added with their descriptors, and only
    *    the post-images of affected rows plus the inserts are written — a
    *    1-row change on a 100 TB table writes kilobytes. The positions,
    *    the post-images and the CDC are separate jobs, so when `rows` is
    *    not deterministic (a non-deterministic predicate or SET; every
    *    MERGE frame, whose source may change between reads) the affected
    *    rows are pinned (local checkpoint) and all three come from one
    *    evaluation: the positions are refolded from the pinned rows, so no
    *    row is tombstoned in one job and loses or duplicates its
    *    post-image in another. A deterministic `rows` tombstones
    *    `affected` as it is, with no further job.
    *  - Rewrite otherwise: every non-deleted row of the touched files, plus
    *    the inserts, goes to new files. Past the cap a tombstone set costs
    *    every later read more than the rewrite it avoids, and every
    *    tombstone passes through the driver.
    *
    * Both modes take their CDC from the same frame: deleted rows as
    * `delete`, other affected rows as `update_preimage`/`update_postimage`
    * pairs, inserts as `insert`. A commit that touches no file records no
    * sidecar: `changes()` reads its inserts from the added files. Base
    * row ids (and the high-water mark) are allocated only to written files
    * holding fresh rows ([[stampRowIds]]), so DELETE and UPDATE commits
    * carry no MetaData and do not conflict with concurrent writers, and a
    * row's id does not depend on the mode. `base` is the metaData
    * the commit's own MetaData action is compared against (MERGE passes the
    * one before schema evolution). The op's `metrics(adds, n)`, `n` the
    * affected rows applied, gain `filesMetric` (files rewritten, 0 when
    * tombstoning) and, when tombstoning, `numDeletionVectors`. */
  private def rewriteRows(s: Snapshot, info: TxnInfo, op: String, base: MetaData,
      touched: Seq[AddFile], affected: Map[String, RoaringBitmap], rows: DataFrame,
      inserts: Option[DataFrame], deletesOnly: Boolean, filesMetric: String)(
      metrics: (Seq[AddFile], Long) => Map[String, String]): Long =
    described(op, s, "write") {
      val maxTombstones = s.metaData.properties.get("deletionVectors.maxTombstones")
        .map(_.toLong).getOrElse(4L * 1000 * 1000)
      val tombstone = touched.nonEmpty && dvEnabled(s.metaData) &&
        affected.values.map(_.getLongCardinality).sum + touched.map(_.dvCount).sum <=
          maxTombstones
      val pin = tombstone && !rows.queryExecution.analyzed.deterministic
      // lazy: the fold below is the job that evaluates and pins the rows
      val hit =
        if (pin) rows.filter(col("__affected")).localCheckpoint(false)
        else rows.filter(col("__affected"))
      val positions =
        if (!pin) affected else TouchedFiles.affectedPerFile(hit, lit(false), lit(true))
      val updated = hit.filter(!col("__deleted"))
      val kept =
        if (touched.isEmpty || (tombstone && deletesOnly)) None
        else Some((if (tombstone) updated else rows.filter(!col("__deleted")))
          .drop("__fname", "__pos", "__affected", "__deleted", "__pre"))
      // stamped before the stats cap drops the `_row_id` null counts
      val adds = (kept ++ inserts).reduceOption(_.unionByName(_, allowMissingColumns = true))
        .map(out => FileOps.capAddStats(s.metaData, stampRowIds(s, writeDataMappedUncapped(
          enforceConstraints(conform(out, s.schema, keepRowId = true), s.metaData), s.metaData))))
        .getOrElse(Nil)
      // after the data write: a CHECK violation there leaves no DV file behind
      val reAdds =
        if (!tombstone) Nil
        else {
          val prior = FileOps.dvRefs(path, touched, s.files)
          val bits = touched.map { f =>
            val b = new Roaring64NavigableMap()
            positions.get(canonPath(f.path)).foreach(_.forEach((p: Int) => b.addInt(p)))
            prior.get(f.path).foreach(r => FileOps.dvBitsFor(r).stream().forEach(b.addInt(_)))
            f -> b
          }
          val dvPathOf = DeltaDeletionVectors.writeDvFile(path,
            bits.collect { case (f, b) if !b.isEmpty => f.path -> b })
          bits.map { case (f, b) =>
            Actions.untagReAdd(f).copy(dvPath = dvPathOf.get(f.path),
              dvCount = b.getLongCardinality)
          }
        }
      val cols = s.schema.fieldNames.toSeq.map(col)
      val cdc =
        if (touched.isEmpty) Nil
        else writeCdcFiles(s, (
          Seq(hit.select(col("__pre.*"), when(col("__deleted"), lit("delete"))
            .otherwise(lit("update_preimage")).as("_change_type"))) ++
          (if (deletesOnly) Nil
           else Seq(updated.select(cols :+ lit("update_postimage").as("_change_type"): _*))) ++
          inserts.map(_.select(cols :+ lit("insert").as("_change_type"): _*))
        ).reduce(_ unionByName _))
      val meta = s.metaData.copy(properties = advancedProps(s.metaData, s.schema, adds))
      val n = positions.values.map(_.getLongCardinality).sum
      commit(s, info, op, metrics(adds, n) ++
        Map(filesMetric -> (if (tombstone) 0 else touched.size).toString) ++
        (if (tombstone) Map("numDeletionVectors" -> touched.size.toString) else Map.empty))(
        (_, _) => (if (meta != base) Seq(meta) else Nil) ++ reAdds ++ adds ++ cdc)
      n
    }

  /** Discovery pass of the predicate ops (DELETE, UPDATE, replaceWhere):
    * each candidate file's positions of live rows matching `matched`,
    * keyed by [[canonPath]], files without a match left out. Rows a DV
    * already hides are not matched, so a re-delete matches none. */
  private def matchesPerFile(s: Snapshot, op: String, candidates: Seq[AddFile],
      matched: Column): Map[String, RoaringBitmap] =
    if (candidates.isEmpty) Map.empty
    else described(op, s, "discover")(TouchedFiles.affectedPerFile(
      readFilesMeta(s, candidates).filter(matched), lit(false), lit(true)))

  /** Runs `body` with its Spark jobs described as `graft <op>
    * <table>@v<version> <phase>`, then restores the caller's description. */
  private def described[A](op: String, s: Snapshot, phase: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft $op $path@v${s.version} $phase")
    try body finally sc.setJobDescription(prev)
  }

  /** [[rewriteRows]]' frame for a predicate op: rows of `touched` matching
    * `matched` are affected; with an empty `set` they are deleted, else
    * their post-image takes `set`'s expressions over the row's current
    * values (cast to the column type). Every row keeps its `_row_id`. */
  private def predicateRows(s: Snapshot, touched: Seq[AddFile], matched: Column,
      set: Map[String, Column]): DataFrame = {
    val in = readFilesMeta(s, touched).withColumn("__affected", matched)
    val names = s.schema.fieldNames.toSeq
    in.select(Seq(col("__fname"), col("__pos"), col("__affected"),
        (if (set.isEmpty) col("__affected") else lit(false)).as("__deleted"),
        struct(names.map(col): _*).as("__pre")) ++
      names.map(c => set.get(c).map(u => when(col("__affected"),
        u.cast(s.schema(c).dataType)).otherwise(col(c)).as(c)).getOrElse(col(c))) ++
      (if (in.columns.contains(GraftTable.RowIdCol)) Seq(col(GraftTable.RowIdCol))
       else Nil): _*)
  }

  /** Delta's `delta.appendOnly`: with TBLPROPERTIES `appendOnly = 'true'`
    * every operation that removes or modifies committed rows refuses —
    * the audit-log / event-stream contract (downstream consumers may
    * assume immutability). Appends, OPTIMIZE (reorganization, same rows),
    * insert-only MERGE, and metadata DDL stay legal; UNSET TBLPROPERTIES
    * is the explicit escape hatch. Gated as a writerFeature so a foreign
    * writer that predates the property fails loudly instead of deleting. */
  private def requireNotAppendOnly(meta: MetaData, op: String): Unit =
    if (GraftTable.isAppendOnly(meta))
      throw new UnsupportedOperationException(
        s"$op is not allowed on append-only table $path (TBLPROPERTIES " +
          "'appendOnly' = 'true'); ALTER TABLE ... UNSET TBLPROPERTIES " +
          "('appendOnly') re-enables destructive writes")

  def delete(pred: Column): Long = {
    val s = snapshot
    requireNotAppendOnly(s.metaData, "DELETE")
    val matched = coalesce(pred, lit(false))
    val candidates = prunedFiles(s, pred)
    val perFile = matchesPerFile(s, "DELETE", candidates, matched)
    if (perFile.isEmpty) { commitNoop(s, "DELETE", "numDeletedRows"); return 0L }
    // path-level matching (normalized absolute spelling) — safe even for
    // converted/foreign layouts whose basenames collide across dirs
    val touched = s.files.filter(f => perFile.contains(canonPath(f.path)))
    rewriteRows(s,
      TxnInfo(readWholeTable = false, Some(pred),
        candidates.map(_.path).toSet, touched.map(_.path).toSet),
      "DELETE", s.metaData, touched, perFile, predicateRows(s, touched, matched, Map.empty),
      inserts = None, deletesOnly = true, "numRewrittenFiles")(
      (_, n) => Map("numDeletedRows" -> n.toString))
  }

  /** DELETE with a SQL predicate string (reference passes strings, api.py:107). */
  def delete(predicate: String): Long = delete(expr(predicate))

  /** UPDATE rows matching `pred`, setting columns per `set` (SQL
    * expressions over the row's current values — `"v" -> "v + 1"`). The
    * native twin of SQL UPDATE / DeltaTable.update. The touched files
    * (stats-pruned, then narrowed to files with >= 1 match) go through
    * [[rewriteRows]] with ONE projection — `when(pred, setExpr)
    * .otherwise(col)` per column; untouched files survive byte-identical.
    * Returns rows updated. */
  def update(pred: Column, set: Map[String, String]): Long =
    updateWith(pred, set.map { case (k, v) => k -> expr(v) })

  /** [[update]] with each SET value a Column over the row's current values
    * (SQL UPDATE's resolved assignments arrive here). */
  private[graft] def updateWith(pred: Column, set: Map[String, Column]): Long = {
    val s = snapshot
    requireNotAppendOnly(s.metaData, "UPDATE")
    require(set.nonEmpty, "UPDATE requires at least one SET column")
    set.keys.foreach(k => require(s.schema.fieldNames.contains(k),
      s"UPDATE SET references unknown column '$k'"))
    set.keys.find(GeneratedColumns.names(s.schema).contains).foreach(k =>
      throw new IllegalArgumentException(
        s"UPDATE cannot set generated column '$k' — it is always computed " +
          "from its generation expression"))
    set.keys.find(IdentityColumns.names(s.schema).contains).foreach(k =>
      throw new IllegalArgumentException(
        s"UPDATE cannot set identity column '$k' — it is GENERATED ALWAYS " +
          "and assigned by the engine"))
    val matched = coalesce(pred, lit(false))
    val candidates = prunedFiles(s, pred)
    val perFile = matchesPerFile(s, "UPDATE", candidates, matched)
    if (perFile.isEmpty) { commitNoop(s, "UPDATE", "numUpdatedRows"); return 0L }
    val touched = s.files.filter(f => perFile.contains(canonPath(f.path)))
    rewriteRows(s,
      TxnInfo(readWholeTable = false, Some(pred),
        candidates.map(_.path).toSet, touched.map(_.path).toSet),
      "UPDATE", s.metaData, touched, perFile, predicateRows(s, touched, matched, set),
      inserts = None, deletesOnly = false, "numRewrittenFiles")(
      (_, n) => Map("numUpdatedRows" -> n.toString))
  }

  /** UPDATE with a SQL predicate string. */
  def update(predicate: String, set: Map[String, String]): Long =
    update(expr(predicate), set)

  /** Record a DML that matched nothing as a commit (history parity with
    * Delta's zero-row operations). Reads nothing, removes nothing — routed
    * through the resolver so a lost race against a concurrent writer
    * rebases trivially instead of surfacing a raw
    * ConcurrentModificationException. */
  private def commitNoop(s: Snapshot, op: String, rowsMetric: String): Unit =
    commit(s, TxnInfo.Blind, op,
      Map(rowsMetric -> "0", "numRewrittenFiles" -> "0"))((_, _) => Nil)

  /** The driver-side spelling of a table file's provenance key: the
    * normalized absolute path URI-ENCODED the way Spark spells
    * `_metadata.file_path` (space → %20, literal %% → %%25 — partition
    * dir names carry both), matching the `__fname` column markProvenance
    * attaches. Hadoop normalizes the open path, so escaped clone
    * references ("../src/…") land on the same spelling. */
  private def canonPath(rel: String): String = {
    val joined = s"$path/$rel"
    // Scheme-qualified table paths: the DATA plane requires a mounted
    // (POSIX-pathed) filesystem (see FileOps.harvestStats), so java.nio
    // resolution is sound for every operable table — but keep a
    // scheme-carrying path's key consistent with the scan spelling
    // rather than silently mangling it through Paths.get.
    if (joined.contains("://"))
      new org.apache.hadoop.fs.Path(joined).toUri.toString
    else
      // toAbsolutePath: a handle opened with a RELATIVE table path must
      // still produce the absolute spelling the scan reports — a relative
      // key would silently mismatch every provenance join
      new org.apache.hadoop.fs.Path(
        Paths.get(joined).toAbsolutePath.normalize.toString).toUri.toString
  }

  /** MERGE builder, mirroring the reference's Delta call shape
    * (api.py:92-102): condition references `<targetAlias>.<col>` and
    * `<sourceAlias>.<col>`. */
  def merge(source: DataFrame, condition: String,
            targetAlias: String = "t", sourceAlias: String = "s"): MergeBuilder =
    new MergeBuilder(this, source, condition, targetAlias, sourceAlias)

  /** The MERGE behind [[MergeBuilder.execute]] and SQL MERGE INTO. The
    * condition and every clause are Columns over `<targetAlias>.<col>` and
    * the source's columns (`<sourceAlias>.<col>` or the source frame's own
    * attributes); clauses apply in order, each row taking the first whose
    * condition holds. */
  private[graft] def executeMerge(
      source: DataFrame, cond: Column, targetAlias: String, sourceAlias: String,
      matchedClauses: Seq[MergeClause.Matched],
      insertClauses: Seq[MergeClause.NotMatchedInsert],
      bySourceClauses: Seq[MergeClause.BySource],
      schemaEvolution: Boolean = false): Unit = {
    val s0 = snapshot
    if (matchedClauses.nonEmpty || bySourceClauses.nonEmpty)
      requireNotAppendOnly(s0.metaData,
        "MERGE with update/delete clauses")
    // withSchemaEvolution (Delta's autoMerge on the reference's upsert
    // path, api.py:92-102): source columns the target lacks become new
    // NULLABLE fields in the SAME commit — existing files read them as
    // null (parquet missing-column semantics), so no data rewrites beyond
    // what the merge itself touches. Under column mapping a new field gets
    // a fresh physical name, exactly as ADD COLUMN does.
    val s =
      if (!schemaEvolution) s0
      else {
        val evolved = GraftTable.mergedSchema(s0.schema, source.schema,
          columnMappingEnabled(s0.metaData))
        if (evolved == s0.schema) s0
        else s0.copy(metaData = s0.metaData.copy(schemaString = evolved.json))
      }
    val schema = s.schema
    // every SET / insert-values key must name a table column (post
    // evolution) — a typo'd or unevolved column must fail loudly, not be
    // silently dropped from the projection
    val known = schema.fieldNames.toSet
    val setKeys =
      matchedClauses.collect { case MergeClause.MatchedUpdate(_, set) => set.keys }.flatten ++
      bySourceClauses.collect { case MergeClause.BySourceUpdate(_, set) => set.keys }.flatten ++
      insertClauses.flatMap(_.values.keys)
    setKeys.filterNot(known.contains).headOption.foreach(k =>
      throw new IllegalArgumentException(
        s"MERGE references unknown column '$k' (table columns: " +
          s"${schema.fieldNames.mkString(", ")}); use withSchemaEvolution() " +
          "to add new source columns"))
    // generated columns cannot be SET directly (Delta parity) — they are
    // recomputed from their expressions on every rewritten/inserted row;
    // identity columns cannot be named ANYWHERE (GENERATED ALWAYS)
    val generatedCols = GeneratedColumns.names(schema)
    val identityCols = IdentityColumns.names(schema)
    val updateKeys =
      matchedClauses.collect { case MergeClause.MatchedUpdate(_, set) => set.keys }.flatten ++
      bySourceClauses.collect { case MergeClause.BySourceUpdate(_, set) => set.keys }.flatten
    updateKeys.find(generatedCols.contains).foreach(k =>
      throw new IllegalArgumentException(
        s"MERGE cannot update generated column '$k' — it is always computed " +
          "from its generation expression"))
    (updateKeys ++ insertClauses.flatMap(_.values.keys)).find(identityCols.contains)
      .foreach(k => throw new IllegalArgumentException(
        s"MERGE cannot set identity column '$k' — it is GENERATED ALWAYS " +
          "and assigned by the engine"))
    val srcCols = schema.fieldNames.toSeq
    val srcMark = s"__${sourceAlias}_present"
    val src = source.alias(sourceAlias)

    def cc(c: Option[Column]): Column = c.getOrElse(lit(true))
    def mCond(m: MergeClause.Matched): Option[Column] = m match {
      case MergeClause.MatchedUpdate(c, _) => c
      case MergeClause.MatchedDelete(c)    => c
    }
    def bCond(b: MergeClause.BySource): Option[Column] = b match {
      case MergeClause.BySourceUpdate(c, _) => c
      case MergeClause.BySourceDelete(c)    => c
    }

    // Source-key file pruning (Delta's merge source-stats pruning): for
    // each `t.col = s.col` equi-conjunct of the condition, the source's
    // actual [min, max] per key bounds which target files can contain a
    // match — a 10-row upsert into a 100 TB table stat-prunes the
    // touched-file scan AND the insert anti-join to the overlapping
    // slice instead of scanning the table. Sound because stats pruning
    // over-approximates; inapplicable (None) when no equi-conjunct
    // translates or the source is empty.
    val srcKeyPrune: Option[Column] =
      if (bySourceClauses.nonEmpty) None // unmatched rows live in ANY file
      else described("MERGE", s, "discover")(
        mergeSourcePrunePred(source, cond, targetAlias, sourceAlias))
    val prunedTargetFiles: Seq[AddFile] =
      srcKeyPrune.map(prunedFiles(s, _)).getOrElse(s.files)
    // the insert anti-join probes the same pruned slice: a target row in a
    // pruned-out file provably matches no source row, so it can't
    // disqualify an insert
    val targetAll = readFiles(s, prunedTargetFiles).alias(targetAlias)

    // Phase 1: which target files contain AFFECTED rows? A row is affected
    // when it matches and some matched clause's condition holds, or — with
    // NOT MATCHED BY SOURCE clauses — when it matches nothing and some
    // by-source clause's condition holds. Only those files are rewritten:
    // per-clause conditions narrow the rewrite set, exactly like Delta's
    // touched-file inner join. Without by-source clauses this stays an
    // inner join; with them it has to be a left-outer probe (match status
    // is what the clauses dispatch on). One TouchedFiles pass over the join
    // folds each touched file's affected positions (rewriteRows' tombstone
    // cap and deletion vectors read them) and, with matched clauses, is the
    // duplicate-source-match guard: a target row of a touched file matched
    // by more than one source row is an error (Delta semantics), raised
    // before anything is written. Clause conditions are evaluated in the
    // fold's projection, so a non-deterministic one (rand(), a
    // non-deterministic UDF) runs as it does in the rewrite.
    val affected: Map[String, RoaringBitmap] =
      if (s.files.isEmpty || prunedTargetFiles.isEmpty ||
          (matchedClauses.isEmpty && bySourceClauses.isEmpty)) Map.empty
      else described("MERGE", s, "discover") {
        val metaT = readFilesMeta(s, prunedTargetFiles).alias(targetAlias)
        if (bySourceClauses.isEmpty)
          TouchedFiles.affectedPerFile(metaT.join(src, cond, "inner"),
            lit(true), matchedClauses.map(m => cc(mCond(m))).reduce(_ || _))
        else {
          val matchedPred = col(srcMark).isNotNull
          val mAff =
            if (matchedClauses.isEmpty) lit(false)
            else matchedPred && matchedClauses.map(m => cc(mCond(m))).reduce(_ || _)
          val bAff = !matchedPred && bySourceClauses.map(b => cc(bCond(b))).reduce(_ || _)
          // NMBS-only merges may match one target row many times (Phase 2)
          TouchedFiles.affectedPerFile(
            metaT.join(src.withColumn(srcMark, lit(true)), cond, "left_outer"),
            if (matchedClauses.isEmpty) lit(false) else matchedPred, mAff || bAff)
        }
      }
    val touched = s.files.filter(f => affected.contains(canonPath(f.path)))

    // Phase 2: one frame over the touched files' rows for rewriteRows
    // (never deterministic, through __tid, so a tombstoning rewriteRows
    // pins it). __tid pins row identity for the NMBS-only copy collapse — copies of
    // one target row share an id within any single job, which is all
    // dropDuplicates needs. Each row takes the FIRST clause whose condition
    // holds for its match status (Delta's clause-order semantics): matched
    // clauses get action ids 0..m-1, by-source clauses m..m+b-1, -1 = keep
    // as-is. Delete actions flag the row deleted; update actions drive
    // per-column when-chains. All of it is one codegen'd projection — no
    // per-clause passes over the data.
    val rows: DataFrame = {
      val t = readFilesMeta(s, touched)
        .withColumn("__tid", monotonically_increasing_id())
        .alias(targetAlias)
      val joined = t.join(src.withColumn(srcMark, lit(true)), cond, "left_outer")
      val matchedPred = col(srcMark).isNotNull
      var chain: Column = null
      def addCase(pred: Column, idx: Int): Unit =
        chain = if (chain == null) when(pred, lit(idx)) else chain.when(pred, lit(idx))
      matchedClauses.zipWithIndex.foreach { case (m, i) =>
        addCase(matchedPred && cc(mCond(m)), i) }
      bySourceClauses.zipWithIndex.foreach { case (b, j) =>
        addCase(!matchedPred && cc(bCond(b)), matchedClauses.size + j) }
      val action = (if (chain == null) lit(-1) else chain.otherwise(lit(-1)))

      val deleteIds: Seq[Int] =
        matchedClauses.zipWithIndex.collect { case (MergeClause.MatchedDelete(_), i) => i } ++
        bySourceClauses.zipWithIndex.collect {
          case (MergeClause.BySourceDelete(_), j) => matchedClauses.size + j }
      val updateSets: Seq[(Int, Map[String, Column])] =
        matchedClauses.zipWithIndex.collect {
          case (MergeClause.MatchedUpdate(_, set), i) => (i, set) } ++
        bySourceClauses.zipWithIndex.collect {
          case (MergeClause.BySourceUpdate(_, set), j) => (matchedClauses.size + j, set) }

      // NMBS-only merges (no matched clauses) legally allow multiple source
      // rows to match one target row — the matched row is kept as-is, so
      // there is no ambiguity and Delta does not error. But the left_outer
      // join still emits one copy per source match (all with __action = -1
      // and identical target columns); collapse to one copy per pinned row
      // id or the rewrite silently duplicates rows. When matched clauses
      // exist the guard above already rejected multi-match, so the dedup
      // (a shuffle) is skipped there.
      val withAction = {
        val wa = joined.withColumn("__action", action)
        if (matchedClauses.isEmpty) wa.dropDuplicates("__tid") else wa
      }
      withAction.select(Seq(col("__fname"), col("__pos"),
          (col("__action") >= 0).as("__affected"),
          (if (deleteIds.isEmpty) lit(false)
           else col("__action").isin(deleteIds: _*)).as("__deleted"),
          struct(srcCols.map(c => col(s"$targetAlias.$c").as(c)): _*).as("__pre")) ++
        srcCols.map { c =>
          var e: Column = col(s"$targetAlias.$c")
          updateSets.foreach { case (i, set) =>
            set.get(c).foreach(u => e = when(col("__action") === i, u).otherwise(e)) }
          e.as(c)
        } ++
        // row tracking: an updated row KEEPS its id. TARGET-qualified: the
        // merge SOURCE may itself carry a _row_id column (e.g. another
        // table's scanWithRowIds output)
        (if (rowTrackingEnabled(s.metaData))
           Seq(col(s"$targetAlias.${GraftTable.RowIdCol}").as(GraftTable.RowIdCol))
         else Nil): _*)
    }

    // Inserts — source rows matching NOTHING in the whole table (any match
    // would have made its file touched; see class doc). Identity columns
    // get fresh ids here, never on the touched side (kept rows keep their
    // ids). When a CDC sidecar is written the frame is PINNED: the data
    // write and the sidecar write are separate jobs, and
    // monotonically_increasing_id would otherwise assign the sidecar
    // DIFFERENT ids than the data it claims to describe.
    val inserts = {
      val assigned = IdentityColumns.assign(
        insertRows(src, targetAll, cond, insertClauses, schema),
        schema, s.metaData.properties)
      if (touched.nonEmpty && IdentityColumns.names(schema).nonEmpty &&
          cdfEnabled(s.metaData)) assigned.localCheckpoint(true)
      else assigned
    }
    rewriteRows(s, mergeTxnInfo(srcKeyPrune, prunedTargetFiles, touched), "MERGE",
      s0.metaData, touched, affected, rows, Some(inserts), deletesOnly = false,
      "numTargetFilesRewritten")(
      (adds, _) => Map("numOutputRows" -> adds.map(_.numRecords).sum.toString))
  }

  /** A MERGE's read domain for conflict classification: with source-key
    * pruning, the txn provably read only files overlapping the source's
    * key range — concurrent appends OUTSIDE that range rebase cleanly
    * (the 100-TB shape: trickle upserts + streaming ingest co-exist).
    * Without a prune predicate the merge read the whole table (match
    * discovery + the insert anti-join), so any append conflicts. */
  private def mergeTxnInfo(srcKeyPrune: Option[Column],
      prunedTargetFiles: Seq[AddFile], touched: Seq[AddFile]): TxnInfo =
    TxnInfo(readWholeTable = srcKeyPrune.isEmpty, srcKeyPrune,
      prunedTargetFiles.map(_.path).toSet, touched.map(_.path).toSet)

  /** Range predicate over TARGET columns from the source's actual key
    * bounds: for every `t.col = s.col` equi-conjunct of the merge
    * condition, one pass over the (small) source yields [min, max] per
    * key, and files whose stats exclude every range provably contain no
    * match. The source side of a conjunct is `<sourceAlias>.<col>` or one
    * of the source frame's own attributes (SQL MERGE binds those). None
    * when no conjunct qualifies, a bound is null/absent, or the source is
    * empty (empty source ⇒ callers see zero matches via the join anyway). */
  private def mergeSourcePrunePred(source: DataFrame, condition: Column,
      targetAlias: String, sourceAlias: String): Option[Column] = try {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CatAnd, AttributeReference, EqualTo => CatEq}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CatAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other        => Seq(other)
    }
    val srcOut = source.queryExecution.analyzed.output
    def targetCol(e: Expression): Option[String] = e match {
      case UnresolvedAttribute(Seq(t, c)) if t.equalsIgnoreCase(targetAlias) => Some(c)
      case _ => None
    }
    // the key's position in the source's output
    def sourceKey(e: Expression): Option[Int] = e match {
      case UnresolvedAttribute(Seq(q, c)) if q.equalsIgnoreCase(sourceAlias) =>
        Some(source.schema.fieldIndex(c))
      case a: AttributeReference => Some(srcOut.indexWhere(_.exprId == a.exprId)).filter(_ >= 0)
      case _ => None
    }
    val pairs = conjuncts(expressionIn(spark, condition)).flatMap {
      case CatEq(a, b) => targetCol(a).zip(sourceKey(b)).orElse(targetCol(b).zip(sourceKey(a)))
      case _ => None
    }.distinct
    if (pairs.isEmpty) return None
    val aggs = pairs.flatMap { case (_, i) =>
      val k = columnOf(srcOut(i))
      Seq(min(k).as(s"__lo_$i"), max(k).as(s"__hi_$i")) }
    // a LocalRelation source (the reference's exact upsert shape — rows
    // built in memory, api.py:91) folds its min/max locally with no Spark
    // job; distributed sources pay the one-pass aggregate
    val localRows: Option[Seq[Row]] = source.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.data.length <= 100000 =>
        val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
          .encoderFor(lr.schema)
        val de = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(enc)
          .resolveAndBind(lr.output).createDeserializer()
        Some(lr.data.map(de(_)))
      case _ => None
    }
    val row: Row = localRows match {
      case Some(rows) if rows.nonEmpty =>
        val vals = pairs.flatMap { case (_, i) =>
          val vs = rows.map(_.get(i)).filter(_ != null)
          if (vs.isEmpty) Seq(null, null)
          // only Comparable key types fold locally — anything else
          // (arrays, structs) must NOT get a made-up ordering: a wrong
          // bound would unsoundly prune files that hold real matches.
          // Bailing to None merely disables pruning (over-approximates).
          else if (!vs.forall(_.isInstanceOf[Comparable[_]])) return None
          else {
            implicit val ord: Ordering[Any] =
              (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
            Seq(vs.min, vs.max)
          }
        }
        Row.fromSeq(vals)
      case Some(_) => return None // empty source — no pruning needed
      case None => source.agg(aggs.head, aggs.tail: _*).head()
    }
    val preds = pairs.zipWithIndex.map { case ((tc, _), i) =>
      if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) return None
      col(tc).between(lit(row.get(2 * i)), lit(row.get(2 * i + 1)))
    }
    Some(preds.reduce(_ && _))
  } catch { case _: Exception => None } // never fail a merge over pruning

  /** Source rows with no match in the target, dispatched to the first
    * insert clause whose condition holds (conditions see source columns,
    * e.g. "s.country = 'US'"); rows satisfying no clause are dropped. */
  private def insertRows(src: DataFrame, targetAll: DataFrame, cond: Column,
      insertClauses: Seq[MergeClause.NotMatchedInsert], schema: StructType): DataFrame = {
    if (insertClauses.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // generated/identity columns may be omitted from insert values — the
    // engine computes/assigns them (conform() fills generated; the merge
    // assigns identity on the inserts frame)
    val autoCols = GeneratedColumns.names(schema) ++ IdentityColumns.names(schema)
    insertClauses.foreach(ic =>
      require(schema.fieldNames.filterNot(autoCols.contains).forall(ic.values.contains),
        "whenNotMatchedInsert must set every non-generated column: " +
          schema.fieldNames.filterNot(autoCols.contains).mkString(", ")))
    val unmatched = src.join(targetAll, cond, "left_anti")
    var chain: Column = null
    insertClauses.zipWithIndex.foreach { case (ic, i) =>
      val pred = ic.cond.getOrElse(lit(true))
      chain = if (chain == null) when(pred, lit(i)) else chain.when(pred, lit(i)) }
    val withA = unmatched.withColumn("__iact", chain.otherwise(lit(-1)))
      .filter(col("__iact") >= 0)
    insertClauses.zipWithIndex.map { case (ic, i) =>
      withA.filter(col("__iact") === i)
        .select(schema.fieldNames.map(c => ic.values.get(c)
          .map(v => v.as(c))
          .getOrElse(lit(null).cast(schema(c).dataType).as(c))).toSeq: _*)
    }.reduce(_ unionByName _)
  }
}

/** MERGE clause ADT — the full DeltaMergeBuilder clause set the reference's
  * stack exposes (invoked at api.py:92-102): multiple WHEN MATCHED clauses
  * (update/delete, each optionally conditional), multiple conditional
  * WHEN NOT MATCHED inserts, and WHEN NOT MATCHED BY SOURCE update/delete.
  * Conditions and values are Columns: [[MergeBuilder]] parses its SQL
  * strings, SQL MERGE INTO hands its resolved expressions. */
object MergeClause {
  sealed trait Matched
  final case class MatchedUpdate(cond: Option[Column], set: Map[String, Column]) extends Matched
  final case class MatchedDelete(cond: Option[Column]) extends Matched
  final case class NotMatchedInsert(cond: Option[Column], values: Map[String, Column])
  sealed trait BySource
  final case class BySourceUpdate(cond: Option[Column], set: Map[String, Column]) extends BySource
  final case class BySourceDelete(cond: Option[Column]) extends BySource
}

/** Fluent MERGE clause builder (shape of api.py:92-102). Column expressions
  * and clause conditions are SQL strings and may reference both aliases,
  * e.g. "s.firstname" / "t.balance < 0". Clauses apply in the order they
  * were added: each row takes the first applicable one. */
final class MergeBuilder private[table] (
    table: GraftTable, source: DataFrame, condition: String,
    targetAlias: String, sourceAlias: String) {
  private val matched = scala.collection.mutable.ArrayBuffer[MergeClause.Matched]()
  private val inserts = scala.collection.mutable.ArrayBuffer[MergeClause.NotMatchedInsert]()
  private val bySource = scala.collection.mutable.ArrayBuffer[MergeClause.BySource]()
  private var evolve = false

  private def exprs(m: Map[String, String]): Map[String, Column] =
    m.map { case (k, v) => k -> expr(v) }

  /** Delta's `withSchemaEvolution` / autoMerge: source columns the target
    * lacks are added as nullable fields in the merge's own commit. */
  def withSchemaEvolution(): MergeBuilder = { evolve = true; this }

  def whenMatchedUpdate(set: Map[String, String]): MergeBuilder = {
    matched += MergeClause.MatchedUpdate(None, exprs(set)); this }
  def whenMatchedUpdate(condition: String, set: Map[String, String]): MergeBuilder = {
    matched += MergeClause.MatchedUpdate(Some(expr(condition)), exprs(set)); this }
  def whenMatchedDelete(): MergeBuilder = {
    matched += MergeClause.MatchedDelete(None); this }
  def whenMatchedDelete(condition: String): MergeBuilder = {
    matched += MergeClause.MatchedDelete(Some(expr(condition))); this }
  def whenNotMatchedInsert(values: Map[String, String]): MergeBuilder = {
    inserts += MergeClause.NotMatchedInsert(None, exprs(values)); this }
  def whenNotMatchedInsert(condition: String, values: Map[String, String]): MergeBuilder = {
    inserts += MergeClause.NotMatchedInsert(Some(expr(condition)), exprs(values)); this }
  def whenNotMatchedBySourceUpdate(set: Map[String, String]): MergeBuilder = {
    bySource += MergeClause.BySourceUpdate(None, exprs(set)); this }
  def whenNotMatchedBySourceUpdate(condition: String, set: Map[String, String]): MergeBuilder = {
    bySource += MergeClause.BySourceUpdate(Some(expr(condition)), exprs(set)); this }
  def whenNotMatchedBySourceDelete(): MergeBuilder = {
    bySource += MergeClause.BySourceDelete(None); this }
  def whenNotMatchedBySourceDelete(condition: String): MergeBuilder = {
    bySource += MergeClause.BySourceDelete(Some(expr(condition))); this }
  def execute(): Unit =
    table.executeMerge(source, expr(condition), targetAlias, sourceAlias,
      matched.toSeq, inserts.toSeq, bySource.toSeq, evolve)
}

object GraftTable {
  /** The guarded per-column write projection EVERY write path funnels
    * through — instance writes via conform(), staged CTAS/RTAS writes via
    * GraftStagedTable (which has no table instance yet). `filled` must
    * already contain every schema column (generated columns filled by the
    * caller). The write-invariant contract:
    *   - try_cast evaluates with ANSI semantics and yields null where
    *     ANSI cast would RAISE — un-parseable strings AND numeric
    *     overflow both surface as null and trip the raise (a plain
    *     non-ANSI cast silently WRAPS overflow: 300 → tinyint 44);
    *   - a null (or null'd cast) bound for a nullable=false column
    *     raises instead of committing. */
  /** Additive schema merge for mergeSchema/autoMerge writes, RECURSIVE
    * into structs (Delta's autoMerge adds fields INSIDE structs too):
    * fields the table lacks append as nullable — at top level or inside
    * any struct — with a fresh physical name under column mapping;
    * existing fields always keep the table's type (evolution is additive,
    * never a retype; a genuine type conflict surfaces in the write
    * projection's guarded cast, loudly). */
  private[table] def mergedSchema(table: StructType, incoming: StructType,
      mapping: Boolean): StructType = {
    val kept = table.fields.map { tf =>
      incoming.fields.find(_.name == tf.name) match {
        case Some(inf) => (tf.dataType, inf.dataType) match {
          case (ts: StructType, is: StructType) =>
            tf.copy(dataType = mergedSchema(ts, is, mapping))
          case _ => tf
        }
        case None => tf
      }
    }
    val added = incoming.fields.filterNot(f => table.fieldNames.contains(f.name))
      .map(_.copy(nullable = true))
      .map(f => if (mapping) ColumnMapping.withPhysical(f, s"col-${UUID.randomUUID()}")
                else f)
    StructType(kept ++ added)
  }

  /** Align a written struct column to an EVOLVED table struct type: nested
    * fields the source lacks fill with null (in place, preserving field
    * order), recursively and through arrays — the nested twin of "absent
    * top-level column reads null". Extra nested fields in the source
    * reject, mirroring conform's top-level extra-column check. A null
    * struct stays null (never becomes a struct of nulls). Identity — zero
    * plan nodes — when the shapes already agree. */
  private def alignNested(c: Column, src: DataType, dst: DataType): Column =
    (src, dst) match {
      case (s: StructType, d: StructType)
          if ColumnMapping.cleanType(s) != ColumnMapping.cleanType(d) =>
        val extra = s.fieldNames.toSet -- d.fieldNames.toSet
        require(extra.isEmpty,
          s"schema mismatch: write has extra nested fields ${extra.toSeq.sorted}")
        val rebuilt = struct(d.fields.map { df =>
          s.fields.find(_.name == df.name) match {
            case Some(sf) =>
              alignNested(c.getField(df.name), sf.dataType, df.dataType).as(df.name)
            case None =>
              lit(null).cast(ColumnMapping.cleanType(df.dataType)).as(df.name)
          }
        }.toSeq: _*)
        when(c.isNull, lit(null).cast(ColumnMapping.cleanType(d)))
          .otherwise(rebuilt)
      case (a: ArrayType, b: ArrayType) =>
        if (ColumnMapping.cleanType(a) == ColumnMapping.cleanType(b)) c
        else transform(c, x => alignNested(x, a.elementType, b.elementType))
      case _ => c
    }

  private[graft] def guardedProjection(filled: DataFrame, schema: StructType,
      extra: Seq[Column] = Nil): DataFrame = {
    val srcType = filled.schema.fields.map(f => f.name -> f.dataType).toMap
    filled.select(schema.fields.map { f =>
      val raw = srcType.get(f.name) match {
        case Some(st) => alignNested(col(f.name), st, f.dataType)
        case None => col(f.name)
      }
      val casted = raw.try_cast(f.dataType)
      val safeCast =
        if (srcType.get(f.name).contains(f.dataType)) raw
        else when(raw.isNotNull && casted.isNull, raise_error(concat(
          lit(s"cannot write column '${f.name}': value '"), raw.cast(StringType),
          lit(s"' is not castable to ${f.dataType.simpleString}"))).cast(f.dataType))
          .otherwise(casted)
      // a provably non-null source (same type, source field non-nullable)
      // needs no runtime guard — keeps the common typed-append projection
      // guard-free in codegen
      val srcNonNull = filled.schema.fields
        .exists(s => s.name == f.name && !s.nullable) &&
        srcType.get(f.name).contains(f.dataType)
      val guarded =
        if (f.nullable || srcNonNull) safeCast
        else when(safeCast.isNull, raise_error(lit(
          s"NOT NULL constraint violated: column '${f.name}' " +
            s"(declared nullable = false) received a null")).cast(f.dataType))
          .otherwise(safeCast)
      guarded.as(f.name)
    }.toSeq ++ extra: _*)
  }

  /** CHECK-constraint enforcement fused into the write pass (lazy CASE
    * WHEN per constraint, raises on the first violating row) — shared by
    * instance writes (enforceConstraints) and staged CTAS/RTAS writes. */
  private[graft] def constrained(df: DataFrame,
      constraints: Map[String, String], pathLabel: String): DataFrame =
    constraints.foldLeft(df) { case (d, (name, exprStr)) =>
      d.filter(
        when(coalesce(expr(exprStr), lit(false)), lit(true))
          .otherwise(raise_error(concat(
            lit(s"CHECK constraint '$name' ($exprStr) violated by write to " +
              s"$pathLabel — row: "),
            to_json(struct(df.columns.map(col).toIndexedSeq: _*))))
            .cast("boolean")))
    }

  /** Files whose [min, max] stat interval contains at least one of the
    * sorted keys — None when the column's type or stats can't support the
    * comparison (caller keeps all files: pruning is only ever an
    * optimization). O(files · log keys); DynamicFilePruningSpec and
    * MultipartCheckpointSpec pin that it prunes and keeps every match. */
  private[graft] def sortedKeyPruneOf(s: Snapshot, column: String,
      vals: Seq[Any]): Option[Seq[AddFile]] = {
    val statKey = ColumnMapping.physicalOf(s.schema, column)
    val isStr = s.schema.fields.find(_.name == column).exists(_.dataType == StringType)
    def ord(v: String): Option[Either[BigDecimal, String]] =
      if (isStr) Some(Right(v))
      else scala.util.Try(Left(BigDecimal(v))).toOption
    val sorted: Array[Either[BigDecimal, String]] = {
      val converted = vals.map(v => ord(String.valueOf(v)))
      if (converted.exists(_.isEmpty)) return None
      val arr = converted.flatten.toArray
      scala.util.Sorting.stableSort(arr, (a: Either[BigDecimal, String],
          b: Either[BigDecimal, String]) => (a, b) match {
        case (Left(x), Left(y))   => x < y
        case (Right(x), Right(y)) => x < y
        case _                    => false
      })
      arr
    }
    def le(a: Either[BigDecimal, String], b: Either[BigDecimal, String]): Boolean =
      (a, b) match {
        case (Left(x), Left(y))   => x <= y
        case (Right(x), Right(y)) => x <= y
        case _                    => true
      }
    Some(s.files.filter { f =>
      // partition values join as exact min=max bounds (keys are non-null,
      // so a null-partition sentinel can only ever prune — correctly: all
      // of that file's rows are null for the column)
      (for { lo <- f.minValues.get(statKey).orElse(f.partitionValues.get(statKey)).flatMap(ord)
             hi <- f.maxValues.get(statKey).orElse(f.partitionValues.get(statKey)).flatMap(ord) } yield {
        // first key >= lo, via binary search; file survives if it's <= hi
        var b = 0; var e = sorted.length
        while (b < e) {
          val m = (b + e) >>> 1
          if (le(lo, sorted(m))) e = m else b = m + 1
        }
        b < sorted.length && le(sorted(b), hi)
      }).getOrElse(true) // no stats → keep
    })
  }

  /** Snapshot-based core of `metadataMinMax` (shared with the
    * metadata-only aggregate rule, which folds a PINNED snapshot). */
  private[graft] def metadataMinMaxOf(snap: Snapshot, column: String): Option[(String, String)] = {
    val schema = DataType.fromJson(snap.metaData.schemaString).asInstanceOf[StructType]
    // collated strings refuse EXPLICITLY: byte-ordered stat bounds are
    // not the collation's extrema ('a' < 'B' under UTF8_LCASE but not in
    // byte order) — fall back to the scan, which compares correctly
    if (schema.fields.find(_.name == column).map(_.dataType).exists {
        case st: StringType => st != StringType // any non-binary collation
        case _ => false }) return None
    val isStr = schema.fields.find(_.name == column).exists(_.dataType == StringType)
    // stats (and partition values) are keyed by PHYSICAL name under
    // column mapping — a logical-name lookup would bind a dropped
    // column's stale stats to a same-named successor
    val statKey = ColumnMapping.physicalOf(schema, column)
    def cmp(a: String, b: String): Int =
      if (isStr) a.compareTo(b) else BigDecimal(a).compare(BigDecimal(b))
    val sentinel = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .DEFAULT_PARTITION_NAME
    // per file: None = unknown (refuse the whole fold — the file might
    // hold the extremum), Some(None) = KNOWN all-null for this column
    // (the null-partition sentinel — SQL MIN/MAX ignores nulls, so the
    // file contributes nothing, exactly), Some(bounds) = usable.
    val perFile: Seq[Option[Option[(String, String)]]] = snap.files.map { f =>
      (f.minValues.get(statKey), f.maxValues.get(statKey),
        f.partitionValues.get(statKey)) match {
        case (Some(lo), Some(hi), _) => Some(Some((lo, hi)))
        case (_, _, Some(pv)) =>
          if (pv == sentinel) Some(None) else Some(Some((pv, pv)))
        case _ => None
      }
    }
    if (perFile.isEmpty || perFile.exists(_.isEmpty) ||
        perFile.forall(_.contains(None))) None
    else {
      val bounds = perFile.flatten.flatten
      // string stats at the truncation length may be TRUNCATED (FileOps
      // caps them at 32 chars so document-length values never bloat the
      // log) — then they are honest BOUNDS but not exact extrema, and a
      // metadata-only MIN/MAX must refuse rather than serve a prefix as
      // the answer. Numeric stats are always exact.
      val maybeTruncated = isStr && bounds.exists { case (lo, hi) =>
        lo.length >= FileOps.StatsTruncateLen || hi.length >= FileOps.StatsTruncateLen }
      if (maybeTruncated) None
      // foreign Delta stats serialize timestamps/dates as ISO strings, not
      // the epoch numbers native harvests write — BigDecimal(a) would throw
      // out of the documented None-means-fall-back-to-a-scan contract, so
      // any non-comparable stat value degrades the whole fold to None
      else scala.util.Try(
        Some((bounds.map(_._1).reduce((a, b) => if (cmp(a, b) <= 0) a else b),
              bounds.map(_._2).reduce((a, b) => if (cmp(a, b) >= 0) a else b))))
        .getOrElse(None)
    }
  }


  /** True when the table declares `appendOnly = 'true'`. */
  private[graft] def isAppendOnly(meta: MetaData): Boolean =
    meta.properties.get("appendOnly").exists(_.equalsIgnoreCase("true"))

  /** Name of both the materialized row-id column inside rewritten data
    * files and the row-id output column of `scanWithRowIds`. */
  val RowIdCol = "_row_id"
  /** Table property holding the highest allocated row id. */
  val RowIdHwmKey = "rowTracking.rowIdHighWaterMark"

  /** Columns whose EXISTS_DEFAULT is LOAD-BEARING: added with a DEFAULT
    * after files already existed, so some live files may physically lack
    * them and the scan fills the default. Delta has no such semantics —
    * the compat enable refuses while this names columns; OPTIMIZE
    * rewrites materialize the values (the rewrite reads through the
    * filling scan), after which the property can be cleared. */
  val ExistenceDefaultsProp = "graft.existenceDefaults"

  /** The widening lattice `alterColumnType` accepts: exactly the
    * conversions the parquet VECTORIZED reader can serve when old files
    * carry the narrower physical type (so the widen stays metadata-only).
    * Mirrors Delta's type-widening feature matrix for integral/floating
    * types plus decimal growth. */
  /** Delta's per-field type-change history key (type-widening feature):
    * an array of {fromType, toType} records on the widened field, the
    * spelling delta readers use to decide which parquet upcasts a scan
    * must serve. Stamped by [[alterColumnType]], declared as the
    * `typeWidening` reader+writer feature under compat. */
  val TypeChangesKey = "delta.typeChanges"

  /** Delta's primitive type-name spelling for typeChanges records
    * ("integer", "long", "decimal(12,2)", ...). */
  private[table] def deltaTypeName(dt: DataType): String = dt match {
    case d: DecimalType => d.simpleString
    case other => other.typeName
  }

  private[graft] def isWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      // long→double is deliberately absent: doubles hold only 53 mantissa
      // bits, so the conversion silently corrupts large longs
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        // every narrow value must be exactly representable: integer digits
        // and fractional digits both grow (or stay)
        t.scale >= f.scale && (t.precision - t.scale) >= (f.precision - f.scale)
      case _ => false
    }


  /** Parsed `variant.shred.paths` table property: `column:$.path:type`
    * triples (comma-separated), each declaring a hot variant path whose
    * typed projection every write materializes as a shredded sibling
    * column for file-skipping stats. The type parses through Spark's SQL
    * parser so the stat key uses the CANONICAL type name — the same one a
    * query-side `try_variant_get`'s target type resolves to. A malformed
    * entry fails the WRITE loudly (never silently un-shredded). */
  private[table] def shredSpecs(meta: MetaData)
      : Seq[(String, String, org.apache.spark.sql.types.DataType)] =
    meta.properties.get("variant.shred.paths").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map { spec =>
        spec.split(":") match {
          case Array(c, p, t) =>
            (c, p, org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(t))
          case _ => throw new IllegalArgumentException(
            s"variant.shred.paths entry '$spec' must be column:$$.path:type")
        }
      }

  /** Columns with native parquet bloom filters, from table properties. */
  private[table] def bloomColumns(meta: MetaData): Seq[String] =
    meta.properties.get("bloom.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Parquet writer options that (re)build bloom filters on every data
    * write of a bloom-configured table — DML rewrites keep the index.
    * `physical` spells a column as the files do (column mapping). */
  private[graft] def bloomWriteOptions(meta: MetaData,
      physical: String => String = identity): Map[String, String] = {
    val ndv = meta.properties.getOrElse("bloom.ndv", "100000")
    bloomColumns(meta).map(physical).flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> ndv)).toMap
  }

  /** Load an existing table (reference: DeltaTable.forPath, spark_project.py:27). */
  def forPath(spark: SparkSession, path: String): GraftTable = {
    val t = new GraftTable(spark, path)
    require(t.log.exists, s"$path is not a GraftTable (no _delta_log)")
    t
  }

  def isGraftTable(path: String): Boolean =
    new GraftLog(path, LogStore.resolveActive()).exists

  /** Create commit 0 from a DataFrame (reference: df.write.format("delta")
    * .save(path), spark_project.py:36). `bloomFilterOn` columns get native
    * parquet bloom filters on every data write (sized for `bloomNdv`
    * distinct values per file), consulted by point-lookup pruning — the
    * setting persists in table properties, so DML rewrites keep it. */
  def create(spark: SparkSession, path: String, df: DataFrame,
             partitionBy: Seq[String] = Nil,
             bloomFilterOn: Seq[String] = Nil,
             bloomNdv: Long = 100000L,
             generated: Map[String, String] = Map.empty,
             identity: Map[String, (Long, Long)] = Map.empty,
             bucketBy: Option[(String, Int)] = None): GraftTable = {
    Files.createDirectories(Paths.get(path))
    val log = new GraftLog(path, LogStore.resolve(spark))
    require(!log.exists, s"$path is already a GraftTable")
    // generated columns (GENERATED ALWAYS AS): computed over the seed frame
    // here and by conform() on every later write; the expression is pinned
    // into the field's schema metadata so it travels with schemaString
    generated.keys.foreach(g => require(!df.columns.contains(g),
      s"generated column '$g' must not be supplied by the seed frame"))
    // identity columns (GENERATED ALWAYS AS IDENTITY): engine-assigned
    identity.foreach { case (n, (_, step)) =>
      require(!df.columns.contains(n),
        s"identity column '$n' must not be supplied by the seed frame")
      require(step > 0, s"identity column '$n': step must be positive")
    }
    val dfGen = generated.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, expr(e)) }
    val dfId = identity.foldLeft(dfGen) { case (d, (n, (start, step))) =>
      d.withColumn(n, IdentityColumns.assignExpr(
        IdentityColumns.Spec(n, start, step), start - step))
    }
    // auto (engine-maintained) columns are declared NULLABLE with a NULL
    // SQL default: that lets `INSERT INTO t (other, cols)` analyze — the
    // analyzer fills NULL, the engine replaces it with the computed /
    // assigned value. The physical data is never null.
    def withNullDefault(b: org.apache.spark.sql.types.MetadataBuilder) =
      b.putString("CURRENT_DEFAULT", "NULL").putString("EXISTS_DEFAULT", "NULL")
    // a seed frame read from a MAPPED (or id-mode foreign) table carries
    // physicalName / field-id metadata describing the SOURCE's files; the
    // new table's files are written under logical names, so inheriting
    // those bindings would make every read request columns the files do
    // not spell (silent NULLs). Mapping starts fresh via setProperty.
    val seedSchema = ColumnMapping.stripMappingMetadata(dfId.schema)
    val schema = StructType(seedSchema.fields.map { f =>
      (generated.get(f.name), identity.get(f.name)) match {
        case (Some(e), _) => f.copy(nullable = true,
          metadata = withNullDefault(new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString(GeneratedColumns.MetadataKey, e)).build())
        case (_, Some((start, step))) => f.copy(nullable = true,
          metadata = withNullDefault(new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(IdentityColumns.StartKey, start)
            .putLong(IdentityColumns.StepKey, step)).build())
        case _ => f
      }
    })
    require(partitionBy.forall(schema.fieldNames.contains),
      s"partition columns $partitionBy must exist in ${schema.fieldNames.toSeq}")
    require(bloomFilterOn.forall(df.columns.contains),
      s"bloom columns $bloomFilterOn must exist in ${df.columns.toSeq}")
    val props =
      if (bloomFilterOn.isEmpty) Map.empty[String, String]
      else Map("bloom.columns" -> bloomFilterOn.mkString(","),
               "bloom.ndv" -> bloomNdv.toString)
    // writer-only protocol features: readers see plain materialized data,
    // but a writer that ignored the generation/allocation rule would break
    // the invariant — gate them like Delta does (both are writerFeatures)
    val writerFeats =
      (if (generated.nonEmpty) Seq("generatedColumns") else Nil) ++
      (if (identity.nonEmpty) Seq("identityColumns") else Nil)
    val protocolAction: Seq[Action] =
      if (writerFeats.isEmpty) Nil
      else Seq(Protocol(minReaderVersion = 1, minWriterVersion = 2,
        writerFeatures = writerFeats))
    // the stored bucket column name is physical == logical at birth
    // (stripMappingMetadata above guarantees a fresh mapping state, and
    // enabling mapping later keeps existing physical names); spec()
    // resolves it physical-first, so a later RENAME never orphans it
    val bucketProps = bucketBy.map { case (c, n) =>
      Map(Bucketing.ColumnProp -> c, Bucketing.CountProp -> n.toString)
    }.getOrElse(Map.empty)
    Bucketing.validate(schema, partitionBy, props ++ bucketProps)
    val meta0 = MetaData(UUID.randomUUID().toString, schema.json,
      System.currentTimeMillis(), partitionBy, Map.empty, props ++ bucketProps)
    val (dfW, partsW) = Bucketing.withBucket(dfId, meta0, partitionBy)
    val addsRaw = FileOps.writeDataFiles(dfW, path, partsW, bloomWriteOptions(meta0))
    // the identity frontier advances in the SAME commit that allocated it,
    // read from the written files' footer stats — no counting job. The
    // frontier reads the UNCAPPED harvest (the identity column may sit past
    // the stats-column cap); only what the log records is capped below.
    val meta = IdentityColumns.bumpedProps(props, schema, addsRaw)
      .map(p => meta0.copy(properties = p)).getOrElse(meta0)
    val adds = FileOps.capAddStats(meta, addsRaw)
    log.commit(0L, protocolAction ++ Seq(meta,
      CommitInfo(0L, log.nextTimestamp(), "CREATE",
        Map("numOutputRows" -> adds.map(_.numRecords).sum.toString))) ++ adds)
    new GraftTable(spark, path)
  }

  /** Commit 0 for a STAGED create (CTAS through the catalog's staging
    * protocol): the data files were already written into `path` by the
    * query's write — invisible until this single commit registers table
    * metadata and adds together. A failed CTAS never reaches here, so no
    * half-created table is ever visible. */
  private[graft] def createStaged(spark: SparkSession, path: String,
      schema: StructType, partitionCols: Seq[String],
      props: Map[String, String], adds: Seq[AddFile]): GraftTable = {
    val log = new GraftLog(path, LogStore.resolve(spark))
    require(!log.exists, s"$path is already a GraftTable")
    // constraint.* props → metaData.constraints (see commitReplaceTable)
    val (chk, plain) = props.partition(_._1.startsWith("constraint."))
    val meta = MetaData(UUID.randomUUID().toString, schema.json,
      System.currentTimeMillis(), partitionCols,
      chk.map { case (k, v) => k.stripPrefix("constraint.") -> v }, plain)
    log.commit(0L, Seq(meta,
      CommitInfo(0L, log.nextTimestamp(), "CREATE TABLE AS SELECT",
        Map("numOutputRows" -> adds.map(_.numRecords).sum.toString))) ++
      FileOps.capAddStats(meta, adds))
    new GraftTable(spark, path)
  }

  /** Create-if-absent with seed rows (spark_project.py:17-38). */
  def createIfAbsent(spark: SparkSession, path: String, seed: => DataFrame): GraftTable =
    if (isGraftTable(path)) forPath(spark, path) else create(spark, path, seed)

  /** ADOPT a foreign delta-spark table IN PLACE — the zero-copy migration
    * path for every existing `df.write.format("delta")` table (reference:
    * spark_project.py:36). Where `import_delta` rewrites 100 TB to move a
    * 100 TB table, adoption commits ONE metadata action: the next version
    * of the foreign log, in genuine delta-1.0 shape, enabling
    * `compat.delta.write` and stamping the graft ownership markers
    * (`graft.writer` in the configuration + `engineInfo` on every later
    * commitInfo). Data files never move; real delta readers keep replaying
    * the continued log natively (every graft commit after adoption is
    * delta-shaped); graft DML, checkpoints, vacuum and log cleanup unlock.
    *
    * Gates — refused, with the copy fallback, when a wrong "yes" would let
    * graft commit state a delta reader (or the table's own invariants)
    * could not honor:
    *   - protocol reader/writer features outside what graft can CONTINUE
    *     in delta spelling (delta-spelled generated / identity columns,
    *     row tracking, ID-mode column mapping). Since round 15 the
    *     features current delta-spark stamps on fresh tables —
    *     vacuumProtocolCheck, v2Checkpoint, timestampNtz, variantType,
    *     NAME-mode columnMapping — all continue;
    *   - legacy writer version 6 (identity columns);
    *   - everything `compat.delta.write` itself refuses (ID-mode mapping).
    *
    * Delta-spelled table configuration translates to the graft keys DML
    * enforcement reads (`delta.appendOnly` → `appendOnly`,
    * `delta.enableChangeDataFeed` → `changeDataFeed.enabled`,
    * `delta.enableDeletionVectors` → `deletionVectors.enabled`,
    * `delta.constraints.*` → CHECK constraints,
    * `delta.dataSkippingNumIndexedCols` → `dataSkipping.numIndexedCols`);
    * unknown `delta.*` keys ride along untouched.
    *
    * Ownership after adoption is graft's: if a foreign engine writes past
    * the adopting commit, the ownership probe flips the table back to
    * read-only foreign (newest-commit marker check) — re-adopt to reclaim.
    */
  def adoptDelta(spark: SparkSession, path: String): GraftTable = {
    val log = new GraftLog(path, LogStore.resolve(spark))
    require(log.exists, s"$path is not a table (no _delta_log)")
    if (!log.isForeignDelta) throw new GraftProtocolException(
      s"$path is not a foreign delta table — nothing to adopt (graft " +
        "already owns it; write to it directly)")
    val s = log.snapshotAt(log.latestVersion)
    val p = s.protocol
    val meta = s.metaData
    def refuse(why: String): Nothing = throw new GraftProtocolException(
      s"cannot adopt $path in place: $why; " +
        "CALL graft.system.import_delta copies it into a fresh graft table instead")
    // ---- protocol gates -----------------------------------------------
    // Reader side: graft only needs to KEEP reading what it already reads,
    // but continuing the log means future readers gate on these features —
    // only the ones graft's own commits can coexist with may stay.
    // Widened in round 15 to what current delta-spark stamps on FRESH
    // tables: vacuumProtocolCheck (graft's vacuum honors protocol
    // gating), v2Checkpoint (classic checkpoints stay legal on such
    // tables; compatProtocol continues the declaration so existing v2
    // checkpoints keep gating old readers), timestampNtz (a native graft
    // column type since round 15), variantType, and NAME-mode column
    // mapping (graft speaks delta's physicalName spelling end to end —
    // renames/drops keep working after adoption). ID mode continues too
    // since round 16: the fold translates delta's field ids into Spark's
    // parquet.field.id for reads, and every graft data-write path stamps
    // the same ids into new files (ColumnMapping.physicalWriteSchema),
    // so id-resolving readers bind graft-written files natively.
    val readerAllow = Set("deletionVectors", "columnMapping", "variantType",
      "timestampNtz", "v2Checkpoint", "vacuumProtocolCheck",
      // rowTracking is a writer feature in the delta spec, but tolerate a
      // log that lists it reader-side: materialized ids are plain data
      "rowTracking",
      // round 17: widening history continues — graft's vectorized reads
      // serve the upcasts, alterColumnType extends delta.typeChanges, and
      // compatProtocol keeps the feature declared (preview spelling
      // continues verbatim)
      "typeWidening", "typeWidening-preview")
    val writerAllow =
      Set("appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "deletionVectors", "columnMapping", "variantType",
        "timestampNtz", "v2Checkpoint", "vacuumProtocolCheck",
        // delta-spelled generated/identity columns translate into graft's
        // native machinery at adoption (round 16) — the rules stay
        // maintained on every graft write, and the continued protocol
        // locks foreign writers out under the graft-private v7 names
        "generatedColumns", "identityColumns",
        // round 16: rowTracking continues in the STANDARD spelling (graft's
        // model is the same shape — baseRowId + materialized column + hwm,
        // the hwm folded from the delta.rowTracking domain below);
        // domainMetadata/clustering adopt by folding the clustering domain
        // onto graft's own clustering.columns maintenance; ICT continues
        // verbatim (graft's commit clock is already strictly monotone and
        // the fold prefers inCommitTimestamp where present)
        "rowTracking", "domainMetadata", "clustering", "inCommitTimestamp",
        // round 17: typeWidening continues (see readerAllow);
        // allowColumnDefaults adopts VERBATIM — delta spells defaults in
        // Spark's own CURRENT_DEFAULT/EXISTS_DEFAULT field metadata, the
        // exact keys graft's native SET/DROP DEFAULT machinery maintains,
        // so the schema rides through untranslated and INSERTs that omit
        // the column keep receiving the default
        "typeWidening", "typeWidening-preview", "allowColumnDefaults",
        // round 17: checkpointProtection continues — graft's metadata
        // cleanup honors the protected-version clamp (truncation only at
        // or above delta.requireCheckpointProtectionBeforeVersion, which
        // rides the configuration verbatim), satisfying the spec's
        // writer obligation
        "checkpointProtection")
    val mapMode = meta.properties.get("delta.columnMapping.mode")
      .map(_.toLowerCase).filterNot(_ == "none")
    if (mapMode.exists(m => m != "name" && m != "id"))
      refuse(s"column mapping in ${mapMode.get} mode — a resolution rule " +
        "neither this engine nor any delta reader knows")
    if (p.minReaderVersion == 2 && mapMode.isEmpty)
      refuse("legacy reader version 2 declares column mapping but the " +
        "table states no mapping mode")
    if (p.minReaderVersion >= 3) {
      val bad = p.readerFeatures.filterNot(readerAllow)
      if (bad.nonEmpty) refuse(s"reader feature(s) ${bad.mkString(", ")} " +
        "have no graft-continuable semantics")
      if (p.readerFeatures.contains("columnMapping") && mapMode.isEmpty)
        refuse("columnMapping reader feature without a declared mapping mode")
    }
    if (p.minWriterVersion == 5 && mapMode.isEmpty)
      refuse("legacy writer version 5 declares column mapping but the " +
        "table states no mapping mode")
    if (p.minWriterVersion >= 7) {
      val bad = p.writerFeatures.filterNot(writerAllow)
      if (bad.nonEmpty) refuse(s"writer feature(s) ${bad.mkString(", ")} " +
        "demand maintenance graft cannot perform in delta spelling")
    }
    // ---- delta-spelled identity / generated columns (round 16) ---------
    // Translated into graft's native machinery — the rules stay
    // MAINTAINED on every graft write (conform recomputes generation
    // expressions; identity values engine-assign above the adopted
    // frontier) — and the delta spellings ride along in the continued
    // schemaString for provenance. Legacy writer versions 4 (generated)
    // and 6 (identity) adopt through the same translation. Refusals
    // narrow to semantics graft genuinely lacks: allowExplicitInsert
    // (graft always engine-assigns) and descending identity steps (the
    // footer-stat frontier advance assumes max = newest).
    val schema = DataType.fromJson(meta.schemaString).asInstanceOf[StructType]
    schema.fields.foreach { f =>
      if (f.metadata.contains("delta.identity.allowExplicitInsert") &&
          f.metadata.getBoolean("delta.identity.allowExplicitInsert"))
        refuse(s"identity column ${f.name} allows explicit inserts " +
          "(graft always engine-assigns identity values)")
      if (f.metadata.contains("delta.identity.step") &&
          f.metadata.getLong("delta.identity.step") <= 0)
        refuse(s"identity column ${f.name} has a non-positive step " +
          "(the footer-stat frontier advance requires ascending values)")
    }
    def longMeta(f: StructField, k: String, dflt: Long): Long =
      if (f.metadata.contains(k)) f.metadata.getLong(k) else dflt
    val translatedFields = schema.fields.map { f =>
      var b = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      if (f.metadata.contains("delta.generationExpression"))
        b = b.putString(GeneratedColumns.MetadataKey,
          f.metadata.getString("delta.generationExpression"))
      if (f.metadata.contains("delta.identity.start")) {
        b = b.putLong(IdentityColumns.StartKey,
            longMeta(f, "delta.identity.start", 1L))
          .putLong(IdentityColumns.StepKey,
            longMeta(f, "delta.identity.step", 1L))
        // delta keeps the frontier IN the schema metadata; graft keeps it
        // in table properties (advanced with the allocating commit) —
        // drop the schema copy so it can never go stale in the continued
        // log (start/step stay for provenance; foreign writers are locked
        // out at v7 anyway)
        b = b.remove("delta.identity.highWaterMark")
      }
      f.copy(metadata = b.build())
    }
    val translatedSchema = StructType(translatedFields)
    // frontier: delta.identity.highWaterMark (absent = nothing allocated)
    val identityProps = schema.fields.collect {
      case f if f.metadata.contains("delta.identity.highWaterMark") =>
        IdentityColumns.hwmKey(f.name) ->
          f.metadata.getLong("delta.identity.highWaterMark").toString
    }.toMap
    val genTranslated =
      schema.fields.exists(_.metadata.contains("delta.generationExpression"))
    val idTranslated =
      schema.fields.exists(_.metadata.contains("delta.identity.start"))
    // ---- property translation -----------------------------------------
    val conf = meta.properties -
      Actions.DeltaReadMarker - "delta.columnMapping.mode"
    val (constraintConf, rest) =
      conf.partition(_._1.startsWith("delta.constraints."))
    def flag(k: String): Boolean =
      conf.get(k).exists(_.equalsIgnoreCase("true"))
    // ---- rowTracking / clustering domain folds (round 16) --------------
    // delta keeps engine state in domainMetadata actions graft's snapshot
    // fold ignores — adoption is where it translates into graft's native
    // spellings (properties), after which every graft commit maintains it
    // and the compat emitter derives the delta domain back per commit.
    val jm = new com.fasterxml.jackson.databind.ObjectMapper()
    val rtEnabled = flag("delta.enableRowTracking")
    // the refusal is scoped to ENABLED row tracking: with it off, any
    // materialized column in old files is dead data graft never reads
    val matName = conf.get("delta.rowTracking.materializedRowIdColumnName")
    if (rtEnabled && matName.exists(_ != GraftTable.RowIdCol))
      refuse(s"rowTracking materializes row ids under column " +
        s"'${matName.get}' — graft's reader binds the constant " +
        s"${GraftTable.RowIdCol}, so rewritten rows' ids would silently " +
        "recompute from position")
    // Domain lookup: gated on the domainMetadata writer feature (a log
    // without it can carry no domains — plain adoptions never pay the
    // tail re-read), tail-first, falling back to the _last_checkpoint
    // files when the tail never mentions the domain (after delta's
    // metadata cleanup the checkpoint is the only carrier). An explicit
    // tail REMOVAL is terminal — the fallback must not resurrect it.
    def checkpointDomain(domain: String): Option[String] = {
      val files = log.checkpointFilesForDomains
      if (files.isEmpty) return None
      val (jsonF, pqF) = files.partition(_.toString.endsWith(".json"))
      val fromJson = jsonF.flatMap { f =>
        Files.readAllLines(f).asScala
          .filter(_.contains("\"domainMetadata\""))
          .flatMap(l => Option(jm.readTree(l).get("domainMetadata"))
            .filter(_.get("domain").asText() == domain))
      }.lastOption.flatMap(n =>
        if (Option(n.get("removed")).exists(_.asBoolean())) None
        else Some(n.get("configuration").asText()))
      fromJson.orElse {
        if (pqF.isEmpty) None
        else scala.util.Try {
          val df = spark.read.parquet(pqF.map(_.toString): _*)
          if (!df.columns.contains("domainMetadata")) None
          else df
            .filter(col("domainMetadata.domain") === domain)
            .select(col("domainMetadata.configuration"),
              col("domainMetadata.removed"))
            .collect().headOption
            .filterNot(r => !r.isNullAt(1) && r.getBoolean(1))
            .map(_.getString(0))
        }.toOption.flatten
      }
    }
    val hasDomains = p.writerFeatures.contains("domainMetadata")
    def domainOf(domain: String): Option[String] =
      if (!hasDomains) None
      else log.domainConfig(domain) match {
        case Some(res) => res // found — or explicitly removed in the tail
        case None => checkpointDomain(domain)
      }
    val rowIdHwm: Option[Long] =
      if (!rtEnabled) None
      else {
        val domain = domainOf("delta.rowTracking").flatMap(c =>
          scala.util.Try(jm.readTree(c)
            .get("rowIdHighWaterMark").asLong()).toOption)
        // live-derived floor (ids live files provably consumed) and any
        // prior graft property (re-adoption after a foreign write) — the
        // max of all three can never re-issue an allocated id
        val liveMax = s.files.flatMap(f =>
          f.baseRowId.map(_ + math.max(f.numRecords, 1L) - 1L)).maxOption
        val prior = conf.get(GraftTable.RowIdHwmKey)
          .flatMap(v => scala.util.Try(v.toLong).toOption)
        (domain.toSeq ++ liveMax.toSeq ++ prior.toSeq).maxOption
      }
    // liquid clustering: fold the domain's columns onto graft's own
    // incremental clustering when every column exists (top-level only);
    // otherwise the domain is dropped — OPTIMIZE then treats the table as
    // unclustered, which is safe (clustering is layout advice, not data)
    // the domain spells PHYSICAL names under column mapping (delta-spark's
    // ClusteringMetadataDomain convention) — translate back to logical so
    // graft's maintenance (and the compat re-emission, which re-derives
    // physical from the schema) keys the same columns the foreign engine
    // clustered by
    val physToLogical: Map[String, String] = schema.fields.map { f =>
      val phys =
        if (f.metadata.contains(ColumnMapping.PhysKey))
          f.metadata.getString(ColumnMapping.PhysKey)
        else if (f.metadata.contains(ColumnMapping.DeltaPhysKey))
          f.metadata.getString(ColumnMapping.DeltaPhysKey)
        else f.name
      phys -> f.name
    }.toMap
    val clusteringCols: Option[String] =
      domainOf("delta.clustering").flatMap(c => scala.util.Try {
        val n = jm.readTree(c).get("clusteringColumns")
        (0 until n.size).map(n.get).map { parts =>
          require(parts.size == 1, "nested clustering column")
          val raw = parts.get(0).asText()
          physToLogical.getOrElse(raw, raw)
        }
      }.toOption)
        .filter(cols => cols.nonEmpty &&
          cols.forall(schema.fieldNames.contains))
        .map(_.mkString(","))
    val translated = rest --
      Seq("delta.appendOnly", "delta.enableChangeDataFeed",
        "delta.enableDeletionVectors", "delta.dataSkippingNumIndexedCols",
        "delta.enableRowTracking",
        "delta.rowTracking.materializedRowIdColumnName") ++
      (if (rtEnabled) Map("rowTracking.enabled" -> "true") else Map.empty) ++
      rowIdHwm.map(h => Map(GraftTable.RowIdHwmKey -> h.toString))
        .getOrElse(Map.empty) ++
      clusteringCols.map(c => Map("clustering.columns" -> c))
        .getOrElse(Map.empty) ++
      (if (flag("delta.appendOnly")) Map("appendOnly" -> "true") else Map.empty) ++
      (if (flag("delta.enableChangeDataFeed"))
        Map("changeDataFeed.enabled" -> "true") else Map.empty) ++
      (if (flag("delta.enableDeletionVectors"))
        Map("deletionVectors.enabled" -> "true") else Map.empty) ++
      conf.get("delta.dataSkippingNumIndexedCols")
        .map(v => Map("dataSkipping.numIndexedCols" -> v)).getOrElse(Map.empty) ++
      // NAME- and ID-mode mapping continue under graft's key (the folded
      // schema already carries the physicalName bindings — plus, in id
      // mode, delta's field ids translated to parquet.field.id);
      // maxColumnId rides along untouched under its delta key
      mapMode.map(m => Map("columnMapping.mode" -> m)).getOrElse(Map.empty)
    val newMeta = meta.copy(
      schemaString =
        if (genTranslated || idTranslated) translatedSchema.json
        else meta.schemaString,
      constraints = meta.constraints ++ constraintConf.map { case (k, v) =>
        k.stripPrefix("delta.constraints.") -> v },
      properties = translated ++ identityProps + (DeltaWriteCompat.Prop -> "true"))
    // compat-level refusals (VARIANT schema, column mapping)
    DeltaWriteCompat.refusal(newMeta, Nil).foreach(refuse)
    // DVs the continued log could not spell: adoption keeps every existing
    // descriptor verbatim, but each must be a form graft DML can UNION
    // with (u/i/p all decode; anything else is unreadable and folding
    // already failed) — nothing further to gate here.
    // Translated generated/identity columns gate FOREIGN writers exactly
    // like native ones: the protocol lists the legacy feature names so
    // compatProtocol maps them onto the graft-private v7 spellings (a
    // foreign writer that cannot maintain the rules refuses to commit).
    val pAug = {
      val feats =
        (if (genTranslated) Seq("generatedColumns") else Nil) ++
          (if (idTranslated) Seq("identityColumns") else Nil)
      if (feats.isEmpty) p
      else p.copy(writerFeatures = (p.writerFeatures ++ feats).distinct)
    }
    val newProtocol = DeltaWriteCompat.compatProtocol(pAug, newMeta)
    val v = s.version + 1
    log.adoptForeignDelta(v, Seq(
      // nextTimestamp, never raw wall time: an adopted ICT table's
      // authoritative clock may LEAD the wall clock, and the continued
      // clock must stay strictly monotone past it
      CommitInfo(v, log.nextTimestamp(), "ADOPT",
        Map("sourceEngine" -> "delta-spark",
            "adoptedVersion" -> s.version.toString,
            "numAdoptedFiles" -> s.files.size.toString)),
      newProtocol, newMeta))
    forPath(spark, path)
  }

  /** CONVERT TO GRAFT (Delta's CONVERT TO DELTA): import an existing
    * parquet directory IN PLACE as commit 0 — every user with existing
    * data's onramp. No file is rewritten, moved, or even fully read:
    * commit 0 simply REFERENCES the files, harvesting row counts and
    * min/max skipping stats from the footers (metadata-only — O(files)
    * footer reads, so converting 100 TB costs seconds, not a rewrite).
    * Hive-style `col=value` partition directories are detected from the
    * file paths; the partition columns must appear in the inferred schema
    * (Spark's partition-column inference supplies them). After conversion
    * the directory is a full GraftTable — DML, time travel (from v0),
    * streaming all apply. */
  def convert(spark: SparkSession, path: String): GraftTable = {
    val log = new GraftLog(path, LogStore.resolve(spark))
    require(!log.exists, s"$path is already a GraftTable")
    val root = Paths.get(path)
    require(Files.isDirectory(root), s"$path is not a directory")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
        && !p.getFileName.toString.startsWith(".")
        && !root.relativize(p).toString.contains("_delta_log"))
      .toSeq.sortBy(_.toString)
    require(files.nonEmpty, s"no parquet files under $path to convert")
    // schema (incl. partition columns) by Spark's own inference
    val df = spark.read.parquet(path)
    val schema = df.schema
    def partitionValuesOf(rel: String): Seq[(String, String)] =
      rel.split('/').dropRight(1).toSeq.filter(_.contains("=")).map { seg =>
        val i = seg.indexOf('=')
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.take(i)) ->
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(i + 1))
      }
    val partitionBy = partitionValuesOf(root.relativize(files.head).toString).map(_._1)
    require(partitionBy.forall(schema.fieldNames.contains),
      s"partition directories $partitionBy not reflected in inferred schema " +
        s"${schema.fieldNames.toSeq} — pass a basePath-readable layout")
    val rels = files.map(p => root.relativize(p).toString)
    // one partition-values pass serves both the layout validation and the
    // AddFiles below
    val pvByRel: Map[String, Map[String, String]] = rels.map { rel =>
      val pv = partitionValuesOf(rel)
      require(pv.map(_._1) == partitionBy,
        s"inconsistent partition layout at $rel (expected columns $partitionBy)")
      rel -> pv.toMap
    }.toMap
    // The footer harvest is the expensive half of CONVERT — one file open
    // + footer parse PER FILE. Serialized on the driver that is the
    // hour-long wall a 1M-file import hits (each read is a round-trip on
    // an object store), so FileOps.harvestStats runs it as one executor
    // job beyond the small-table threshold; results come back as narrow
    // stat tuples, never data. Each imported file keeps its REAL
    // modification time (harvested alongside size in the same pass) —
    // the audit metadata Delta's CONVERT records, never a synthetic
    // uniform commit-time stamp.
    val adds0 = FileOps.harvestStats(spark, path, rels).map {
      case (rel, rows, size, mtime, mins, maxs, nulls) =>
        AddFile(rel, size, mtime, rows, mins, maxs,
          pvByRel(rel), nullCounts = nulls)
    }
    val meta = MetaData(UUID.randomUUID().toString, schema.json,
      System.currentTimeMillis(), partitionBy, Map.empty, Map.empty)
    val adds = FileOps.capAddStats(meta, adds0)
    log.commit(0L, Seq(meta,
      CommitInfo(0L, log.nextTimestamp(), "CONVERT",
        Map("numFiles" -> adds.size.toString,
            "numRows" -> adds.map(_.numRecords).sum.toString))) ++ adds)
    new GraftTable(spark, path)
  }
}
