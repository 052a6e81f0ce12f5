package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.jdk.CollectionConverters._

/** Transaction-log actions for GraftTable — the same shape as the public
  * Delta Lake protocol (Delta Lake VLDB 2020; PAPERS.md): a table version is
  * the fold of `metaData` / `add` / `remove` actions of commits 0..v, and
  * `commitInfo` carries audit metadata that powers `history()`
  * (reference: api.py:63,75 exposes it via DeltaTable.history()).
  *
  * Serialization is one JSON object per line, tagged by action name, e.g.
  * `{"add":{"path":...}}` — hand-assembled via Jackson (ships with Spark).
  */
sealed trait Action

/** Table-wide metadata; the latest metaData in the log wins. `schemaString`
  * is Spark's own StructType JSON (DataType.fromJson round-trips it);
  * `partitionColumns` fixes the physical layout (Hive-style dirs);
  * `properties` carries free-form table configuration (e.g. the bloom-filter
  * column list) — absent in old logs, defaulting to empty (backward
  * compatible, same as the Delta protocol's configuration map). */
final case class MetaData(id: String, schemaString: String, createdTime: Long,
                          partitionColumns: Seq[String] = Nil,
                          constraints: Map[String, String] = Map.empty,
                          properties: Map[String, String] = Map.empty) extends Action

/** A live data file with footer-derived stats for data skipping.
  * `path` is relative to the table root (may contain partition dirs);
  * `partitionValues` are the file's Hive partition values — they join the
  * min/max stats as exact (min = max = value) bounds during pruning.
  * min/max are stringified per-column values (numeric/string only); absent
  * entries mean "unknown — never skip on this column". */
final case class AddFile(
    path: String,
    size: Long,
    modificationTime: Long,
    numRecords: Long,
    minValues: Map[String, String],
    maxValues: Map[String, String],
    partitionValues: Map[String, String] = Map.empty,
    dvPath: Option[String] = None,
    dvCount: Long = 0L,
    baseRowId: Option[Long] = None,
    /** Per-column null counts from the parquet footers (absent = unknown,
      * never assumed): powers IS [NOT] NULL file skipping and the
      * stats-only SET NOT NULL validation. Sound over-approximation under
      * a deletion vector, like min/max. */
    nullCounts: Map[String, Long] = Map.empty,
    /** Free-form file tags (Delta's AddFile.tags). `clustered` records the
      * clustering spec the file was written under — incremental OPTIMIZE
      * skips files whose tag matches the table's current clustering. */
    tags: Map[String, String] = Map.empty,
    /** Delta rowTracking's per-file commit version (the commit whose rows
      * this file introduced, for row LINEAGE — row IDs need only
      * baseRowId). Stamped at the commit chokepoint when row tracking is
      * on; preserved verbatim on re-adds and through checkpoints; folds
      * in from foreign delta logs. */
    defaultRowCommitVersion: Option[Long] = None) extends Action {
  /** Rows served by this file = physical rows minus deletion-vector
    * tombstones (`numRecords` stays the parquet footer count — min/max
    * stats remain sound over-approximations under a DV). */
  def liveRecords: Long = numRecords - dvCount
}

/** Tombstone: the file is no longer part of the snapshot from this commit.
  * `dataChange = false` marks a REORGANIZATION remove (the rows moved to a
  * compacted file in the same commit, delta's OPTIMIZE shape) — streaming
  * tail readers treat such commits as maintenance, never as rewrites.
  * Graft-native logs always write true (graft maintenance is recognized
  * by operation name); the flag folds in from foreign delta logs. */
final case class RemoveFile(path: String, deletionTimestamp: Long,
    dataChange: Boolean = true) extends Action

/** Change-data file (Delta's AddCDCFile): a `_cdc/` parquet holding THIS
  * commit's row-level deltas (full rows + `_change_type`), written by DML
  * when `changeDataFeed.enabled` is set. Not part of the snapshot state —
  * the fold ignores it; `changes()` and the CDF stream read it instead of
  * re-diffing the commit's files.
  *
  * `partitionValues` carries the file's Hive partition values when the cdc
  * file OMITS the table's partition columns (delta's AddCDCFile shape on a
  * partitioned table, and graft's own compat-mode sidecars): readers
  * reconstitute the columns from the map, exactly like data files. Empty
  * on graft-native sidecars, which store partition columns IN the file —
  * the map (not table provenance) is what tells a reader which shape each
  * individual file has. */
final case class CdcFile(path: String, numRecords: Long,
    size: Long = 0L,
    partitionValues: Map[String, String] = Map.empty) extends Action

/** Idempotent-transaction marker (Delta's SetTransaction): the latest
  * `version` committed by application `appId` folds into the snapshot, so
  * a streaming sink's exactly-once epoch guard is an O(1) map lookup
  * instead of a scan of every commit file. */
final case class Txn(appId: String, version: Long) extends Action

/** Protocol feature gate (the Delta protocol's reader/writer versioning):
  * a snapshot whose protocol lists a reader feature this build does not
  * support fails LOUDLY at load instead of silently misreading the table
  * (e.g. a deletion-vector table opened by a pre-DV reader would
  * resurrect deleted rows). Feature-enabling operations commit a protocol
  * upgrade in the same version that first uses the feature. */
final case class Protocol(minReaderVersion: Int = 1, minWriterVersion: Int = 1,
    readerFeatures: Seq[String] = Nil, writerFeatures: Seq[String] = Nil) extends Action

object Protocol {
  /** Features THIS build can read/write correctly. `generatedColumns` is
    * writer-only (readers see plain materialized data; only writers must
    * honor the generation rule), mirroring the Delta feature split. */
  val supportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "changeDataFeed", "rowTracking",
      "variantType",
      // Foreign (delta-spark) reader features this build reads correctly:
      // timestamp_ntz is Spark-native parquet; v2 checkpoints decode
      // natively (DeltaCheckpointCompat folds the UUID manifest + its
      // sidecar files); vacuumProtocolCheck constrains VACUUM, which refuses on
      // foreign tables wholesale (GraftTable.vacuum's DeltaReadMarker gate
      // + GraftLog.refuseForeignMutation). Foreign deletionVectors READ
      // natively (DeltaDeletionVectors decodes the roaring format into
      // the same per-file mask as graft sidecars); columnMapping reads
      // natively in NAME mode (the fold translates the delta metadata
      // key, ColumnMapping.fromDeltaSchema) AND in ID mode (field ids
      // translate to Spark's parquet.field.id and the read paths enable
      // Spark's field-id resolution).
      "timestampNtz", "v2Checkpoint", "vacuumProtocolCheck",
      // type widening: the vectorized parquet reader serves every
      // conversion in GraftTable.isWidening (TypeWideningSpec), which is
      // exactly what the feature demands of readers — files written under
      // the narrower type upcast through the current schema
      "typeWidening", "typeWidening-preview",
      // graft-private gate for collated string schemas (round 17): this
      // build compares through Spark's collation-aware StringType
      "graft.collations")
  val supportedWriterFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "changeDataFeed", "rowTracking",
      "variantType", "generatedColumns", "identityColumns", "appendOnly",
      // Continuable writer-side features of ADOPTED delta tables (round
      // 15): timestampNtz is a native column type (create/stats/skipping
      // all speak local micros); vacuumProtocolCheck demands exactly the
      // protocol-gated vacuum graft performs; v2Checkpoint tables legally
      // continue with classic checkpoints (the delta spec keeps them
      // valid on a v2Checkpoint table — writers may produce either form).
      "timestampNtz", "v2Checkpoint", "vacuumProtocolCheck",
      // compat.delta.write protocol spellings (DeltaWriteCompat
      // .compatProtocol): the graft-private v7 names that lock FOREIGN
      // writers out of engine-private column semantics, plus the legacy
      // delta names for capabilities graft natively enforces — this build
      // is exactly the writer those names demand
      "graft.generatedColumns", "graft.identityColumns", "graft.rowTracking",
      "graft.bucketing", "invariants", "checkConstraints",
      // round 16: rowTracking's standard spelling needs domainMetadata
      // (the hwm domain, re-derived from the metaData properties on every
      // compat emit); clustering adopts by folding the delta.clustering
      // domain onto graft's own clustering.columns at adoption; ICT is
      // graft's already-monotone commit clock under its delta spelling
      "domainMetadata", "clustering", "inCommitTimestamp",
      // round 17: metadata-only widening is native DDL (alterColumnType
      // stamps delta.typeChanges); SQL column defaults are native DDL
      // too (setColumnDefault / CREATE ... DEFAULT both spell Spark's
      // CURRENT_DEFAULT key, the exact metadata allowColumnDefaults
      // governs)
      "typeWidening", "typeWidening-preview", "allowColumnDefaults",
      // round 17: checkpointProtection's writer obligation is a cleanup
      // clamp (truncate at or above the protected version) that
      // GraftLog.cleanupExpiredLogs enforces — this build is a
      // conforming writer
      "checkpointProtection",
      // collated schemas gate writers too (stats/bloom/bucket decisions
      // must be collation-aware; see DataSkipping.binaryOrdered)
      "graft.collations")
}

/** Named protocol-gate failure: the table requires a capability this
  * reader predates. */
final class GraftProtocolException(msg: String) extends RuntimeException(msg)

/** A recognized-but-irrelevant action from a foreign (delta-spark) log —
  * e.g. `domainMetadata`, which carries engine-private clustering state a
  * plain reader is explicitly allowed to ignore. Never written by graft;
  * the fold skips it. */
case object IgnoredAction extends Action

/** Commit audit record; one per commit, drives history()/timestampAsOf. */
final case class CommitInfo(
    version: Long,
    timestamp: Long,
    operation: String,
    operationMetrics: Map[String, String]) extends Action

object Actions {
  private val mapper = new ObjectMapper()

  /** Properties marker injected into the folded metaData of a table whose
    * log was written by REAL delta-spark (detected by action shape, never
    * declared). It makes foreign provenance visible on the SNAPSHOT —
    * `GraftTable.vacuum` refuses on it (covering checkpoint-only foreign
    * folds the log-probe path also catches), and DESCRIBE DETAIL /
    * properties surface it to users. The commit/maintenance gates
    * additionally probe the log directly ([[graft.table.GraftLog]]
    * refuseForeignMutation). */
  val DeltaReadMarker = "graft.compat.deltaRead"

  /** AddFile tag recording a foreign add's `dataChange = false` — the
    * Delta protocol's reorganization flag (OPTIMIZE/clustering rewrites):
    * such adds carry no NEW rows, and the streaming tail reader must skip
    * them rather than re-serve compacted rows as appends. */
  val DataChangeFalseTag = "graft.dataChange.false"

  /** Strip the reorganization flag when an EXISTING snapshot AddFile is
    * re-emitted into a new data-changing commit (DV DELETE/UPDATE/MERGE
    * re-adds, RESTORE, CLONE). The tag describes the commit that FIRST
    * added the file (delta OPTIMIZE output); carried forward onto a
    * data-changing commit it would make the streaming tail reader
    * classify that commit as a reorganization and silently drop its
    * change events, and the delta-compat writer would emit
    * `dataChange:false` on an add whose sibling remove says true. */
  def untagReAdd(f: AddFile): AddFile =
    if (f.tags.contains(DataChangeFalseTag))
      f.copy(tags = f.tags - DataChangeFalseTag)
    else f

  /** Node-level Delta-shape probe over one raw log line — the SAME
    * criteria [[fromJson]] dispatches on (add with `dataChange`/`stats`/no
    * top-level `numRecords`; metaData with a `format` or `configuration`
    * block). Parsing, not substring matching: a graft table whose SCHEMA
    * has a column literally named `dataChange` puts that string inside
    * minValues/maxValues, where a raw `contains` probe would false-positive
    * and brick the table read-only. */
  def isDeltaShaped(line: String): Boolean = {
    val root = try mapper.readTree(line) catch { case _: Exception => return false }
    val add = root.get("add")
    val md = root.get("metaData")
    (add != null && !add.isNull &&
      (add.has("dataChange") || add.has("stats") || !add.has("numRecords"))) ||
    (md != null && !md.isNull && (md.has("format") || md.has("configuration")))
  }

  /** True when a delta-SHAPED log line declares graft authorship: the
    * metaData configuration marker, or commitInfo.engineInfo (present in
    * EVERY compat commit — the earliest retained commit after log cleanup
    * may carry no metaData). Distinguishes `compat.delta.write` output
    * (graft-writable) from a real delta-spark log (read-only). */
  def hasGraftWriterMarker(line: String): Boolean = {
    val root = try mapper.readTree(line) catch { case _: Exception => return false }
    val md = root.get("metaData")
    val ci = root.get("commitInfo")
    (md != null && !md.isNull &&
      Option(md.get("configuration")).exists(c =>
        Option(c.get(DeltaWriteCompat.WriterMarker)).exists(_.asText() == "true"))) ||
    (ci != null && !ci.isNull &&
      Option(ci.get("engineInfo")).exists(_.asText() == DeltaWriteCompat.EngineInfo))
  }

  private def strMap(node: JsonNode, field: String): Map[String, String] =
    Option(node.get(field)).map { m =>
      m.properties().asScala
        .filterNot(_.getValue.isNull) // null config/tag entries carry nothing
        .map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)

  /** Partition values of a FOREIGN Delta add: Delta serializes a null
    * partition value as JSON null, where native graft files carry Hive's
    * `__HIVE_DEFAULT_PARTITION__` sentinel. Mapping (never dropping) keeps
    * the key present — the SPJ key decoder and the streaming const-row
    * reader look partition columns up by key and must not throw on a
    * null-partitioned foreign file. */
  private def partMap(node: JsonNode): Map[String, String] =
    Option(node.get("partitionValues")).map { m =>
      m.properties().asScala.map { e =>
        e.getKey -> (if (e.getValue.isNull)
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME
        else e.getValue.asText())
      }.toMap
    }.getOrElse(Map.empty)

  private def putMap(node: ObjectNode, field: String, m: Map[String, String]): Unit = {
    val o = node.putObject(field)
    m.foreach { case (k, v) => o.put(k, v) }
  }

  def toJson(a: Action): String = {
    val root = mapper.createObjectNode()
    a match {
      case MetaData(id, schema, created, partCols, constraints, properties) =>
        val n = root.putObject("metaData")
        n.put("id", id); n.put("schemaString", schema); n.put("createdTime", created)
        val arr = n.putArray("partitionColumns")
        partCols.foreach(arr.add)
        putMap(n, "constraints", constraints)
        if (properties.nonEmpty) putMap(n, "properties", properties)
      case f: AddFile =>
        val n = root.putObject("add")
        n.put("path", f.path); n.put("size", f.size)
        n.put("modificationTime", f.modificationTime)
        n.put("numRecords", f.numRecords)
        putMap(n, "minValues", f.minValues); putMap(n, "maxValues", f.maxValues)
        putMap(n, "partitionValues", f.partitionValues)
        if (f.tags.nonEmpty) putMap(n, "tags", f.tags)
        if (f.nullCounts.nonEmpty) {
          val nc = n.putObject("nullCounts")
          f.nullCounts.toSeq.sortBy(_._1).foreach { case (k, v) => nc.put(k, v) }
        }
        f.dvPath.foreach { p =>
          val dv = n.putObject("deletionVector")
          dv.put("path", p); dv.put("cardinality", f.dvCount)
        }
        f.baseRowId.foreach(b => n.put("baseRowId", b))
        f.defaultRowCommitVersion.foreach(v => n.put("defaultRowCommitVersion", v))
      case RemoveFile(path, ts, dc) =>
        val n = root.putObject("remove")
        n.put("path", path); n.put("deletionTimestamp", ts)
        if (!dc) n.put("dataChange", false) // absent = true (old logs)
      case CdcFile(path, rows, size, partVals) =>
        val n = root.putObject("cdc")
        n.put("path", path); n.put("numRecords", rows); n.put("size", size)
        if (partVals.nonEmpty) putMap(n, "partitionValues", partVals)
      case Txn(appId, v) =>
        val n = root.putObject("txn")
        n.put("appId", appId); n.put("version", v)
      case Protocol(minR, minW, rFeat, wFeat) =>
        val n = root.putObject("protocol")
        n.put("minReaderVersion", minR); n.put("minWriterVersion", minW)
        val ra = n.putArray("readerFeatures"); rFeat.foreach(ra.add)
        val wa = n.putArray("writerFeatures"); wFeat.foreach(wa.add)
      case CommitInfo(v, ts, op, metrics) =>
        val n = root.putObject("commitInfo")
        n.put("version", v); n.put("timestamp", ts); n.put("operation", op)
        putMap(n, "operationMetrics", metrics)
      case IgnoredAction =>
        throw new IllegalStateException(
          "IgnoredAction is a foreign-log parse artifact and is never written")
    }
    mapper.writeValueAsString(root)
  }

  /** Flatten a (possibly nested) Delta stats object into dotted string
    * keys: `{"a":{"b":1}}` → `"a.b" -> "1"`. Nested keys never match a
    * top-level attribute in DataSkipping, so they degrade to "cannot
    * skip" — conservative, never wrong. Null stat entries (Delta writes
    * them for all-null files) are dropped (= unknown). */
  private def flatten(node: JsonNode, prefix: String,
      out: scala.collection.mutable.Map[String, String]): Unit =
    node.properties().asScala.foreach { e =>
      val key = if (prefix.isEmpty) e.getKey else s"$prefix.${e.getKey}"
      val v = e.getValue
      if (v.isObject) flatten(v, key, out)
      else if (!v.isNull && !v.isArray) out(key) = v.asText()
    }

  /** A REAL delta-spark `add` (spark_project.py:36 writes these): stats
    * live in a nested JSON STRING (`stats`), `dataChange` is present,
    * `numRecords` is not top-level, nullCount is singular, and the path is
    * URI-encoded. Folded into graft's AddFile so every downstream consumer
    * (snapshot, pruning, scan) works unchanged. Missing stats → numRecords
    * = -1, the "unknown" sentinel metadata-only answers must refuse. */
  private def deltaAdd(n: JsonNode): AddFile = {
    // REAL Delta deletion vectors: the descriptor packs into the dvPath
    // slot under a marker; FileOps.dvBitsFor decodes the roaring
    // bitmap into the same per-file row-index mask graft's own parquet
    // sidecars decode to (DeltaDeletionVectors has the format). An
    // empty descriptor (delta writes storageType-less placeholders in
    // some checkpoint rows) folds as "no DV".
    val (dvPath, dvCount) = Option(n.get("deletionVector"))
      .filter(_.has("storageType")) match {
      case Some(dv) =>
        val st = dv.get("storageType").asText()
        if (st != "u" && st != "i" && st != "p") throw new GraftProtocolException(
          s"this Delta table carries a deletion vector with storageType " +
            s"'$st' — only u (relative file), i (inline), p (absolute " +
            "file) are readable; compact the table with delta-spark " +
            "(REORG PURGE) before opening it here")
        def req(field: String): Long = Option(dv.get(field)).map(_.asLong())
          .getOrElse(throw new GraftProtocolException(
            s"delta deletionVector descriptor lacks $field"))
        val card = req("cardinality")
        (Some(DeltaDeletionVectors.pack(st,
            Option(dv.get("pathOrInlineDv")).map(_.asText()).getOrElse(
              throw new GraftProtocolException(
                "delta deletionVector descriptor lacks pathOrInlineDv")),
            Option(dv.get("offset")).map(_.asLong()).getOrElse(if (st == "i") 0L else 1L),
            req("sizeInBytes"), card)),
          card)
      case None => (None, 0L)
    }
    val rawPath = n.get("path").asText()
    // Delta permits ABSOLUTE paths here (external locations, some clones),
    // in every spelling: scheme+authority (s3a://bucket/x), scheme-only
    // (file:/x — a form delta writers do produce), bare absolute (/x), and
    // opaque URIs (a:b). URI.getPath would silently strip the scheme (or
    // return null for opaque forms) and misresolve against the table
    // root — refuse every absolute/opaque form loudly instead.
    val absolute = rawPath.startsWith("/") ||
      (try new java.net.URI(rawPath).isAbsolute
       catch { case _: java.net.URISyntaxException => false })
    if (absolute) throw new GraftProtocolException(
      s"Delta add references an absolute file path/URI ($rawPath) — only " +
        "table-relative paths are readable")
    val path = try new java.net.URI(rawPath).getPath catch {
      case _: java.net.URISyntaxException => rawPath
    }
    var numRecords = -1L
    val mins = scala.collection.mutable.Map[String, String]()
    val maxs = scala.collection.mutable.Map[String, String]()
    val nulls = scala.collection.mutable.Map[String, String]()
    Option(n.get("stats")).filter(s => s.isTextual && !s.asText().isEmpty)
      .foreach { s =>
        val st = mapper.readTree(s.asText())
        Option(st.get("numRecords")).foreach(r => numRecords = r.asLong())
        Option(st.get("minValues")).foreach(flatten(_, "", mins))
        Option(st.get("maxValues")).foreach(flatten(_, "", maxs))
        Option(st.get("nullCount")).foreach(flatten(_, "", nulls))
      }
    // dataChange=false is the PROTOCOL-level "reorganization, not new
    // data" signal (delta OPTIMIZE / clustering adds) — engine-independent
    // where commitInfo.operation is free-form. Carried as a tag so the
    // streaming tail reader can skip such adds instead of re-serving
    // compacted rows as fresh appends.
    val tags0 = strMap(n, "tags")
    val tags =
      if (Option(n.get("dataChange")).exists(d => d.isBoolean && !d.asBoolean()))
        tags0 + (DataChangeFalseTag -> "true")
      else tags0
    AddFile(path, n.get("size").asLong(), n.get("modificationTime").asLong(),
      numRecords, mins.toMap, maxs.toMap, partMap(n),
      dvPath, dvCount, Option(n.get("baseRowId")).map(_.asLong()),
      nulls.flatMap { case (k, v) =>
        scala.util.Try(v.toLong).toOption.map(k -> _) }.toMap,
      tags,
      Option(n.get("defaultRowCommitVersion")).map(_.asLong()))
  }

  def fromJson(line: String): Action = {
    val root = mapper.readTree(line)
    if (root.has("metaData")) {
      val n = root.get("metaData")
      val partCols = Option(n.get("partitionColumns"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
      if (n.has("format") || n.has("configuration")) {
        // Delta-SHAPED metaData: table configuration lives in
        // `configuration`, a `format` block names the file provider,
        // createdTime is optional.
        val fmt = Option(n.get("format")).flatMap(f => Option(f.get("provider")))
          .map(_.asText()).getOrElse("parquet")
        if (!fmt.equalsIgnoreCase("parquet")) throw new GraftProtocolException(
          s"Delta table format.provider=$fmt is not readable (parquet only)")
        val conf = strMap(n, "configuration")
        if (conf.get(DeltaWriteCompat.WriterMarker).contains("true")) {
          // graft's OWN delta-compat output (compat.delta.write): restore
          // native semantics — constraints fold back out of the
          // constraint.* configuration entries, no foreign marker (the
          // table stays writable by this engine)
          val (chk, plain0) = (conf - DeltaWriteCompat.WriterMarker)
            .partition(_._1.startsWith("constraint."))
          // delta.constraints.* / delta.appendOnly are DERIVED mirrors the
          // encoder re-emits from the native state on every commit — fold
          // them out, or a dropped constraint would linger as a ghost key
          val plain = plain0.filterNot { case (k, _) =>
            k.startsWith("delta.constraints.") || k == "delta.appendOnly" ||
              k == "delta.enableChangeDataFeed" ||
              // derived mirror of the graft columnMapping.mode property
              // (delta.columnMapping.maxColumnId is NOT filtered: graft
              // stores it under the delta key natively, one source of
              // truth for both engines)
              k == "delta.columnMapping.mode" ||
              // derived mirrors of graft's rowTracking.enabled (the
              // materialized column name is the constant _row_id)
              k == "delta.enableRowTracking" ||
              k == "delta.rowTracking.materializedRowIdColumnName" }
          MetaData(n.get("id").asText(), n.get("schemaString").asText(),
            Option(n.get("createdTime")).map(_.asLong()).getOrElse(0L), partCols,
            chk.map { case (k, v) => k.stripPrefix("constraint.") -> v }, plain)
        } else {
          // REAL delta-spark metaData: the marker property makes the
          // foreign provenance visible to every consumer of the folded
          // snapshot (write refusal, feature gates). Column mapping
          // translates into graft's own keys so the whole read stack
          // (projection, pruning, partition values) works unchanged:
          // name mode via the physical-name key; id mode additionally
          // copies delta's field ids into Spark's `parquet.field.id`
          // metadata, which flips every parquet read to id resolution.
          val rawSchema = n.get("schemaString").asText()
          val mapMode = conf.get("delta.columnMapping.mode").map(_.toLowerCase)
          val schemaString =
            if (mapMode.exists(m => m == "name" || m == "id"))
              ColumnMapping.fromDeltaSchema(
                org.apache.spark.sql.types.DataType.fromJson(rawSchema)
                  .asInstanceOf[org.apache.spark.sql.types.StructType],
                copyFieldIds = mapMode.contains("id")).json
            else rawSchema
          MetaData(n.get("id").asText(), schemaString,
            Option(n.get("createdTime")).map(_.asLong()).getOrElse(0L), partCols,
            Map.empty, conf + (DeltaReadMarker -> "true"))
        }
      } else MetaData(n.get("id").asText(), n.get("schemaString").asText(),
        n.get("createdTime").asLong(), partCols, strMap(n, "constraints"),
        strMap(n, "properties"))
    } else if (root.has("add")) {
      val n = root.get("add")
      if (n.has("dataChange") || n.has("stats") || !n.has("numRecords"))
        return deltaAdd(n)
      val (dvPath, dvCount) = Option(n.get("deletionVector")) match {
        case Some(dv) => (Some(dv.get("path").asText()), dv.get("cardinality").asLong())
        case None => (None, 0L)
      }
      val nullCounts = Option(n.get("nullCounts")).map { nc =>
        nc.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      }.getOrElse(Map.empty[String, Long])
      AddFile(n.get("path").asText(), n.get("size").asLong(),
        n.get("modificationTime").asLong(), n.get("numRecords").asLong(),
        strMap(n, "minValues"), strMap(n, "maxValues"), strMap(n, "partitionValues"),
        dvPath, dvCount, Option(n.get("baseRowId")).map(_.asLong()), nullCounts,
        strMap(n, "tags"),
        Option(n.get("defaultRowCommitVersion")).map(_.asLong()))
    } else if (root.has("remove")) {
      val n = root.get("remove")
      // Delta removes URI-encode the path like adds, and may omit the
      // deletionTimestamp (the spec makes it optional)
      val rawPath = n.get("path").asText()
      val path =
        if (n.has("dataChange") || !n.has("deletionTimestamp"))
          try new java.net.URI(rawPath).getPath catch {
            case _: java.net.URISyntaxException => rawPath
          }
        else rawPath
      RemoveFile(path,
        Option(n.get("deletionTimestamp")).map(_.asLong()).getOrElse(0L),
        dataChange = !Option(n.get("dataChange"))
          .exists(d => d.isBoolean && !d.asBoolean()))
    } else if (root.has("cdc")) {
      val n = root.get("cdc")
      // size is absent in pre-round-11 logs — 0 degrades byte-capped CDF
      // admission to file-count caps for those commits, never an error.
      // Delta cdc actions (AddCDCFile: dataChange present, no numRecords)
      // URI-encode the path like adds — same degradation for the count.
      val rawPath = n.get("path").asText()
      val path =
        if (n.has("dataChange"))
          try new java.net.URI(rawPath).getPath catch {
            case _: java.net.URISyntaxException => rawPath
          }
        else rawPath
      CdcFile(path,
        // -1 = unknown (foreign delta / graft compat cdc carry no count):
        // the per-file reader recovers the true count from the parquet
        // footer at -1, where an exact 0 would silently serve no rows
        Option(n.get("numRecords")).map(_.asLong()).getOrElse(-1L),
        Option(n.get("size")).map(_.asLong()).getOrElse(0L),
        // delta serializes a null partition value as JSON null — same
        // sentinel mapping as adds, so the readers' per-key lookups hold
        partMap(n))
    } else if (root.has("txn")) {
      val n = root.get("txn")
      Txn(n.get("appId").asText(), n.get("version").asLong())
    } else if (root.has("protocol")) {
      val n = root.get("protocol")
      def feats(field: String): Seq[String] = Option(n.get(field))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
      Protocol(n.get("minReaderVersion").asInt(), n.get("minWriterVersion").asInt(),
        feats("readerFeatures"), feats("writerFeatures"))
    } else if (root.has("commitInfo")) {
      val n = root.get("commitInfo")
      // Delta commitInfo has no version field (the commit FILE names the
      // version) — -1 here, patched to the file's version by readVersion
      // the Delta spec makes EVERY commitInfo field optional — a foreign
      // engine's {"commitInfo":{"operation":"WRITE"}} must degrade like
      // the version/operation fields do, never NPE the whole version
      CommitInfo(Option(n.get("version")).map(_.asLong()).getOrElse(-1L),
        // inCommitTimestamp (delta 4.x ICT) is AUTHORITATIVE when present
        // — the legacy timestamp field is file-modification-time-based
        // and the spec directs readers to prefer ICT; history() and
        // timestampAsOf then see the monotone clock both engines share
        Option(n.get("inCommitTimestamp")).map(_.asLong())
          .orElse(Option(n.get("timestamp")).map(_.asLong())).getOrElse(0L),
        Option(n.get("operation")).map(_.asText()).getOrElse("UNKNOWN"),
        strMap(n, "operationMetrics"))
    } else if (root.has("domainMetadata")) {
      // Delta domain metadata (clustering domains etc.): engine-private
      // state the protocol allows a reader to skip
      IgnoredAction
    } else {
      throw new IllegalArgumentException(s"unknown action: $line")
    }
  }
}
