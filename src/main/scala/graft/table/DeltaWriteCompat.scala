package graft.table

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types._

/** WRITE-side Delta compatibility — the mirror of the round-13 read-interop.
  *
  * Under the `compat.delta.write` table property, every commit (and every
  * checkpoint) this engine writes lands in genuine delta-1.0 action shape:
  * adds carry `dataChange` and a nested `stats` JSON string, metaData
  * carries a `format` block and a `configuration` map, protocol says
  * (minReader 1, minWriter 2), commitInfo names no version, paths are
  * URI-encoded, null partition values serialize as JSON null. A real
  * delta-spark / Trino / standalone-Delta reader pointed at the table's
  * `_delta_log` replays it natively — closing the "Delta-shaped directory
  * that real Delta readers cannot read" foot-gun from the other side.
  *
  * Graft keeps OWNERSHIP visible to itself: the emitted metaData
  * configuration carries `graft.writer=true` and every commitInfo carries
  * `engineInfo=graft` (a field delta itself writes), so the foreign-log
  * probe never mistakes a compat table for a delta-spark one — compat
  * tables stay fully writable by graft while being readable by Delta.
  *
  * The property REFUSES features whose on-disk semantics a delta reader
  * cannot honor: column mapping (physical names would not resolve),
  * VARIANT columns (parquet layout delta 1.x predates), LEGACY `_dv/`
  * parquet-sidecar deletion vectors (no delta spelling — dropping them
  * would resurrect deleted rows), and CDF on PARTITIONED tables (cdc
  * partition-value reconstruction differs). Merge-on-read under compat
  * stays AVAILABLE: every table's DV DML writes genuine delta-format DV
  * files (GraftTable.rewriteRows → DeltaDeletionVectors.writeDvFile),
  * and compat declares the standard protocol gate (minReader 3 + the
  * deletionVectors reader feature), so DV-capable delta readers apply
  * the same tombstones graft does. CDF on
  * UNPARTITIONED tables stays available too — graft's `_cdc/` sidecars
  * are delta's AddCDCFile layout, emitted as delta `cdc` actions with
  * the `delta.enableChangeDataFeed` mirror. Generated/identity columns
  * and constraints are reader-safe (materialized values / ignorable
  * fields) and stay allowed — but the emitted PROTOCOL must not invite a
  * foreign WRITER to break invariants it cannot see (graft's generation
  * expressions and identity frontiers live under engine-private keys):
  * [[compatProtocol]] declares them as protocol-v7 writer features under
  * graft-private names no foreign engine claims, so foreign writers
  * refuse to commit while readers (gated by minReaderVersion alone) are
  * untouched. Row tracking emits the STANDARD delta spelling since round
  * 16 (rowTracking + domainMetadata features, baseRowId/
  * defaultRowCommitVersion on adds, the hwm as a delta.rowTracking
  * domain): graft's model matches delta's, so a rowTracking-capable
  * foreign writer maintains the same state — and any foreign commit
  * flips ownership anyway (re-adoption folds the domain back). CHECK
  * constraints ARE expressible to foreign writers — they emit as
  * `delta.constraints.*` configuration under writer version 3 (the
  * standard gate), alongside the `constraint.*` entries graft folds back
  * natively; `appendOnly` likewise mirrors to `delta.appendOnly`.
  *
  * Stats fidelity note: numeric/boolean stat values emit as JSON numbers/
  * booleans (typed from the table schema); timestamp/NTZ stats emit as
  * full-microsecond ISO-8601 strings (delta's spelling — a JSON number
  * would read back as epoch SECONDS in delta's stats parser, and a millis
  * truncation would round the max DOWN, both unsound for skipping);
  * DataSkipping parses the ISO form back to comparison micros.
  */
object DeltaWriteCompat {
  /** Table property switching the log to delta-1.0 action shape. */
  val Prop = "compat.delta.write"
  /** Configuration key marking a delta-SHAPED log as graft-authored. */
  val WriterMarker = "graft.writer"
  /** commitInfo engineInfo value — the per-commit ownership marker (the
    * earliest retained commit may carry no metaData after log cleanup). */
  val EngineInfo = "graft"

  def enabled(meta: MetaData): Boolean =
    meta.properties.get(Prop).exists(_.equalsIgnoreCase("true"))

  /** The delta protocol line a compat table declares. Derived from the
    * table's NATIVE protocol: writer-private column semantics (generation
    * expressions under `graft.generationExpression`, identity frontiers in
    * graft table properties, row-id stamping) cannot be maintained by a
    * foreign Delta writer at ANY writer version — declaring the standard
    * feature names (or a bare minWriter 2) would invite a capable foreign
    * writer to insert rows that silently violate them. They emit as
    * protocol-v7 writerFeatures under graft-private names no foreign
    * engine claims, so every foreign writer refuses to COMMIT while
    * readers (who check minReaderVersion alone) replay natively. CHECK
    * constraints are foreign-enforceable (`delta.constraints.*`, writer
    * version 3); a table with none of these is plain delta-1.0 (1, 2). */
  /** Reader+writer features an ADOPTED foreign protocol carries that graft
    * continues rather than re-derives: dropping them from the continued
    * log would invalidate state delta readers already gate on (existing
    * v2 checkpoints, NTZ columns, the vacuum protocol check). */
  private val ContinuedFeatures: Set[String] =
    Set("timestampNtz", "v2Checkpoint", "vacuumProtocolCheck",
      // a foreign widening history must stay declared even before graft's
      // first own widen (the narrow-typed files still need upcasting
      // reads); the preview spelling continues verbatim — readers gating
      // on it know that name
      "typeWidening", "typeWidening-preview")

  /** WRITER-ONLY foreign features graft continues: checkpointProtection
    * (metadata cleanup honors the protected-version clamp — truncation
    * only at or above `delta.requireCheckpointProtectionBeforeVersion`,
    * GraftLog.cleanupExpiredLogs). Kept OUT of the reader list: the
    * delta spec registers it writer-side, and emitting it reader-side
    * would make real delta readers refuse a table they can read. */
  private val ContinuedWriterFeatures: Set[String] = Set("checkpointProtection")

  private def parsedSchema(meta: MetaData): StructType =
    try DataType.fromJson(meta.schemaString).asInstanceOf[StructType]
    catch { case _: Exception => new StructType() }

  private def anyType(dt: DataType)(pred: DataType => Boolean): Boolean =
    pred(dt) || (dt match {
      case s: StructType => s.fields.exists(f => anyType(f.dataType)(pred))
      case a: ArrayType => anyType(a.elementType)(pred)
      case m: MapType => anyType(m.keyType)(pred) || anyType(m.valueType)(pred)
      case _ => false
    })

  private[table] def hasVariantType(meta: MetaData): Boolean =
    meta.schemaString.contains("\"variant\"") &&
      anyType(parsedSchema(meta))(_.isInstanceOf[VariantType])

  private[table] def hasNtzType(meta: MetaData): Boolean =
    meta.schemaString.contains("timestamp_ntz") &&
      anyType(parsedSchema(meta))(_ == TimestampNTZType)

  /** Any field carrying delta's `delta.typeChanges` widening history
    * (stamped by alterColumnType, or adopted from a foreign log) — such
    * files need upcasting reads, so the typeWidening reader+writer
    * feature must gate the table. Top-level only: alterColumnType only
    * widens top-level columns. */
  private[table] def hasTypeChanges(meta: MetaData): Boolean =
    meta.schemaString.contains(GraftTable.TypeChangesKey) &&
      parsedSchema(meta).fields.exists(
        _.metadata.contains(GraftTable.TypeChangesKey))

  /** Any COLLATED (non-UTF8_BINARY) string in the schema — Spark
    * serializes collations under the `__COLLATIONS` field-metadata key
    * (cheap substring pre-filter) and parses them back as StringType
    * instances ≠ the binary singleton. Collation changes equality and
    * ordering semantics, so both the native protocol gate
    * (GraftLog.ensureSchemaFeatures) and the compat refusal key on it. */
  private[table] def hasCollatedStrings(meta: MetaData): Boolean =
    meta.schemaString.contains("__COLLATIONS") &&
      anyType(parsedSchema(meta)) {
        case st: StringType => st != StringType
        case _ => false
      }

  /** Any column carrying a SQL DEFAULT (Spark's CURRENT_DEFAULT /
    * EXISTS_DEFAULT field-metadata keys — the exact spelling delta's
    * allowColumnDefaults writer feature governs): the emitted protocol
    * must declare the feature so a foreign delta writer that cannot
    * honor defaults refuses to commit instead of silently dropping
    * them. Includes the NULL defaults graft stamps on generated/identity
    * columns — those fields carry the keys in the schemaString too. */
  private[table] def hasColumnDefaults(meta: MetaData): Boolean =
    (meta.schemaString.contains("CURRENT_DEFAULT") ||
      meta.schemaString.contains("EXISTS_DEFAULT")) &&
      parsedSchema(meta).fields.exists(f =>
        f.metadata.contains("CURRENT_DEFAULT") ||
          f.metadata.contains("EXISTS_DEFAULT"))

  /** Active column-mapping mode (name | id), None when unmapped. */
  private[table] def mappingMode(meta: MetaData): Option[String] =
    meta.properties.get("columnMapping.mode").map(_.toLowerCase)
      .filter(m => m == "name" || m == "id")

  /** Does the commit chokepoint stamp mapping ids for this metaData?
    * The data-write paths mirror this EXACTLY (GraftTable
    * .writeDataMappedUncapped stamps the same deterministic ids into the
    * files it writes): ids stamped into parquet must be the ones the
    * committed schema will carry. */
  def stampsIds(meta: MetaData): Boolean = enabled(meta) && mappingMode(meta).isDefined

  def compatProtocol(p: Protocol, meta: MetaData): Protocol = {
    val priv = p.writerFeatures.collect {
      case f @ ("generatedColumns" | "identityColumns") =>
        s"graft.$f"
      // a folded compat protocol already spells the private names —
      // re-deriving must be idempotent, not drop them. graft.rowTracking
      // (pre-round-16 logs) upgrades to the STANDARD spelling below.
      case f if f.startsWith("graft.") && f != "graft.rowTracking" => f
    } ++
      // hash bucketing is an engine-private WRITE invariant exactly like
      // generation rules: a foreign delta writer appending unbucketed
      // files would silently kill the zero-exchange join plan (spjOk
      // requires every live file to carry its bucket id), so bucketed
      // compat tables gate foreign writers at v7 under a graft-private
      // name — readers (minReader gated) are untouched
      (if (meta.properties.contains(Bucketing.ColumnProp))
         Seq("graft.bucketing") else Nil)
    val appendOnly =
      meta.properties.get("appendOnly").exists(_.equalsIgnoreCase("true"))
    // deletion vectors are the STANDARD delta feature — readers must
    // prove they apply DVs (minReader 3 + the reader feature), and
    // DV-capable foreign writers may legitimately write (their delta-
    // format DVs read back through the interop path)
    val dv =
      meta.properties.get("deletionVectors.enabled").exists(_.equalsIgnoreCase("true")) ||
        p.readerFeatures.contains("deletionVectors")
    val dvFeat = if (dv) Seq("deletionVectors") else Nil
    // CDF is writer-gated (delta legacy writer 4): a writer that predates
    // it would commit DML without change files, silently breaking the feed
    val cdf = meta.properties.get("changeDataFeed.enabled")
      .exists(_.equalsIgnoreCase("true"))
    val cdfFeat = if (cdf) Seq("changeDataFeed") else Nil
    // Row tracking emits the STANDARD delta spelling since round 16:
    // writer features rowTracking + domainMetadata, baseRowId +
    // defaultRowCommitVersion on adds, the high-water mark as a
    // delta.rowTracking domainMetadata action, and the materialized
    // column named in the configuration — delta readers consume graft
    // row ids natively, and a rowTracking-capable delta writer that
    // commits keeps the same state (re-adoption folds its domain back).
    val rt = meta.properties.get("rowTracking.enabled")
      .exists(_.equalsIgnoreCase("true")) ||
      p.writerFeatures.contains("rowTracking") ||
      p.writerFeatures.contains("graft.rowTracking")
    val rtFeat = if (rt) Seq("rowTracking", "domainMetadata") else Nil
    // in-commit timestamps (delta 4.x): graft's commit timestamps are
    // already strictly monotone, so the feature is a spelling — the
    // commitInfo carries inCommitTimestamp and the protocol declares the
    // writer feature. The delta key IS the graft property (one source of
    // truth, like maxColumnId).
    val ict = ictOn(meta) || p.writerFeatures.contains("inCommitTimestamp")
    val ictFeat = if (ict) Seq("inCommitTimestamp") else Nil
    // Reader+writer table features beyond DVs (round 15): VARIANT columns
    // and TIMESTAMP_NTZ derive from the CURRENT schema, column mapping
    // from the mapping mode property, and the adoption-continued trio
    // rides through from the native protocol (which folded them from the
    // foreign log). All of these require (3, 7) with the feature named on
    // BOTH sides — the standard delta spelling.
    val continued =
      (p.readerFeatures ++ p.writerFeatures).filter(ContinuedFeatures).distinct
    val continuedW = p.writerFeatures.filter(ContinuedWriterFeatures).distinct
    // type widening is reader+writer: narrow-typed files written before a
    // widen need upcasting reads. Derived from the schema's typeChanges
    // history — unless the table already continues the PREVIEW spelling
    // (readers gating on that name know it; emitting both would be noise).
    val widenFeat =
      if (hasTypeChanges(meta) && !continued.contains("typeWidening-preview"))
        Seq("typeWidening") else Nil
    val schemaFeat =
      (if (hasVariantType(meta)) Seq("variantType") else Nil) ++
        (if (hasNtzType(meta)) Seq("timestampNtz") else Nil) ++
        (if (mappingMode(meta).isDefined) Seq("columnMapping") else Nil) ++
        widenFeat
    // writer-only standard features: SQL column defaults (foreign writers
    // must honor CURRENT_DEFAULT on inserts that omit the column) and
    // liquid clustering (the delta.clustering domain rides every commit;
    // clustering requires domainMetadata per the delta spec)
    val defFeat = if (hasColumnDefaults(meta)) Seq("allowColumnDefaults") else Nil
    val cluFeat =
      if (meta.properties.contains("clustering.columns"))
        Seq("clustering", "domainMetadata") else Nil
    val readerFeats = (dvFeat ++ schemaFeat ++ continued).distinct.sorted
    if (priv.nonEmpty || cdf || rt || ict || readerFeats.nonEmpty ||
        defFeat.nonEmpty || cluFeat.nonEmpty || continuedW.nonEmpty) {
      // v7 lists EVERY active writer capability, legacy ones included
      val legacy = Seq("invariants") ++
        (if (meta.constraints.nonEmpty) Seq("checkConstraints") else Nil) ++
        (if (appendOnly) Seq("appendOnly") else Nil)
      Protocol(if (readerFeats.nonEmpty) 3 else 1, 7, readerFeats,
        (priv ++ readerFeats ++ cdfFeat ++ rtFeat ++ ictFeat ++ defFeat ++
          cluFeat ++ continuedW ++ legacy).distinct.sorted)
    } else if (meta.constraints.nonEmpty) Protocol(1, 3)
    else Protocol(1, 2)
  }

  /** Is row tracking active on this metaData? (the compat emitter's and
    * commit chokepoint's shared gate) */
  def rowTrackingOn(meta: MetaData): Boolean =
    meta.properties.get("rowTracking.enabled").exists(_.equalsIgnoreCase("true"))

  /** Are in-commit timestamps active? The delta key is the graft property
    * (verbatim ride-through on adoption and fold-back). */
  def ictOn(meta: MetaData): Boolean =
    meta.properties.get("delta.enableInCommitTimestamps")
      .exists(_.equalsIgnoreCase("true"))

  /** Table state a delta-1.0 reader cannot honor; checked at every compat
    * commit (including the one that tries to ENABLE the property). */
  def refusal(meta: MetaData, actions: Seq[Action]): Option[String] = {
    // CDF under compat is ALLOWED since round 13 (round 14 for partitioned
    // tables): graft's compat _cdc/ sidecars are delta's AddCDCFile shape —
    // data columns + _change_type in the file, partition columns carried
    // as the cdc action's partitionValues (writeCdcFiles stages the change
    // frame partitionBy(partCols) under compat) — emitted as delta `cdc`
    // actions with the delta.enableChangeDataFeed mirror, so real delta
    // CDF readers reconstitute partition columns exactly like data files.
    // Column mapping (NAME mode) and VARIANT columns are ALLOWED since
    // round 15: the emitter spells mapping as the standard
    // delta.columnMapping.* metadata (field ids stamped at commit via
    // withFieldIds) and both gate the emitted protocol at (3, 7) with the
    // standard feature names — delta readers that predate the features
    // refuse loudly, exactly as the spec intends. ID-mode mapping is
    // ALLOWED since round 16: every data-write path stamps
    // `parquet.field.id` into new files from the same ids the committed
    // schema carries (ColumnMapping.physicalWriteSchema), so an
    // id-resolving reader binds graft-written files natively. Only a
    // mode neither name nor id — a resolution rule no delta reader
    // knows — still refuses.
    if (meta.properties.get("columnMapping.mode").exists(m =>
        !m.equalsIgnoreCase("name") && !m.equalsIgnoreCase("id") &&
          !m.equalsIgnoreCase("none")))
      Some("columnMapping.mode=" +
        meta.properties("columnMapping.mode") +
        " (only name and id modes have a delta spelling graft's files satisfy)")
    // deletionVectors.enabled is ALLOWED under compat since round 13:
    // merge-on-read DML writes genuine delta-format DV files and carries
    // packed descriptors (GraftTable.rewriteRows), which serialize to
    // the descriptor JSON real delta readers apply. Only LEGACY `_dv/`
    // parquet sidecars (written by older releases) have no delta
    // spelling — dropping them would resurrect deleted rows for every
    // foreign reader.
    else if (actions.exists {
      case a: AddFile => a.dvPath.exists(p => !DeltaDeletionVectors.isDescriptor(p))
      case _ => false })
      Some("native deletion-vector sidecar references (OPTIMIZE to purge " +
        "them before enabling compat)")
    // existence defaults (ADD COLUMN ... DEFAULT on a table with existing
    // files): graft's scan fills the default for files that predate the
    // column; delta readers fill NULL — silent per-row divergence, and
    // delta itself rejects the DDL. Refuse until the old files are
    // rewritten (OPTIMIZE materializes the values through the filling
    // scan) and the marker property cleared.
    else if (meta.properties.get(GraftTable.ExistenceDefaultsProp)
        .exists(_.nonEmpty))
      Some("existence defaults on column(s) " +
        meta.properties(GraftTable.ExistenceDefaultsProp) +
        " (files written before ADD COLUMN ... DEFAULT read the default " +
        "in graft but NULL in delta readers; OPTIMIZE to materialize the " +
        s"values, then clear ${GraftTable.ExistenceDefaultsProp})")
    // collated strings: delta spells collations behind its own (preview)
    // feature this engine does not emit — publishing the schema without it
    // would make delta readers compare the column by BINARY order,
    // silently changing equality, GROUP BY and sort semantics
    else if (hasCollatedStrings(meta))
      Some("collated string columns (no delta collation spelling is " +
        "emitted; a delta reader would compare by binary order, silently " +
        "changing equality/sort semantics)")
    else None
  }

  /** Key delta stores the mapping id high-water mark under. Graft uses
    * the DELTA key natively — one source of truth that rides through the
    * compat configuration and the fold-back verbatim (never a derived
    * mirror that could ghost). */
  val MaxColumnIdKey = "delta.columnMapping.maxColumnId"

  /** `meta` with a delta column-mapping field id stamped on every field
    * (nested included) that lacks one, and [[MaxColumnIdKey]] advanced to
    * the highest id — idempotent: fully-stamped metas return `meta`
    * itself. Runs at the COMMIT chokepoint (GraftLog.commit) for every
    * compat + name-mode metaData, which covers enable-in-either-order,
    * ADD COLUMN, and merge schema evolution with a single site; ids are
    * persisted in the committed schemaString, so they are stable across
    * every later commit (delta requires stable unique ids per field).
    * Adopted foreign schemas arrive pre-stamped and pass through; the
    * counter starts past their highest id so a later ADD can never
    * re-issue a foreign id. */
  def withFieldIds(meta: MetaData): MetaData = {
    val schema = parsedSchema(meta)
    if (schema.fields.isEmpty) return meta
    def maxIn(dt: DataType): Long = dt match {
      case s: StructType => s.fields.foldLeft(0L) { (acc, f) =>
        math.max(acc, math.max(
          if (f.metadata.contains(ColumnMapping.DeltaIdKey))
            f.metadata.getLong(ColumnMapping.DeltaIdKey) else 0L,
          maxIn(f.dataType)))
      }
      case a: ArrayType => maxIn(a.elementType)
      case m: MapType => math.max(maxIn(m.keyType), maxIn(m.valueType))
      case _ => 0L
    }
    var maxId = math.max(
      meta.properties.get(MaxColumnIdKey).flatMap(v =>
        scala.util.Try(v.toLong).toOption).getOrElse(0L),
      maxIn(schema))
    var changed = false
    def stampType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(stampField))
      case a: ArrayType => a.copy(elementType = stampType(a.elementType))
      case m: MapType => m.copy(keyType = stampType(m.keyType),
        valueType = stampType(m.valueType))
      case other => other
    }
    def stampField(f: StructField): StructField = {
      val dt = stampType(f.dataType)
      if (f.metadata.contains(ColumnMapping.DeltaIdKey)) f.copy(dataType = dt)
      else {
        maxId += 1; changed = true
        f.copy(dataType = dt, metadata = new MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(ColumnMapping.DeltaIdKey, maxId).build())
      }
    }
    val stamped = StructType(schema.fields.map(stampField))
    val propStale = !meta.properties.get(MaxColumnIdKey)
      .flatMap(v => scala.util.Try(v.toLong).toOption).exists(_ >= maxId)
    if (!changed && !propStale) meta
    else meta.copy(
      schemaString = if (changed) stamped.json else meta.schemaString,
      properties =
        if (propStale) meta.properties + (MaxColumnIdKey -> maxId.toString)
        else meta.properties)
  }

  /** The schemaString a delta name-mode reader expects: every field
    * (nested included) carries `delta.columnMapping.physicalName` (from
    * graft's binding — logical name when still implicit) alongside the
    * `delta.columnMapping.id` [[withFieldIds]] stamped. Graft's own
    * `graft.physicalName` key rides along untouched so the compat
    * fold-back (which returns the schemaString verbatim) keeps native
    * reads working — delta readers ignore unknown metadata keys. */
  def deltaMappedSchemaString(meta: MetaData): String = {
    // STRICT parse: an unparseable stored schema must fail the commit
    // loudly — the lenient parsedSchema would emit an EMPTY fields list
    // into the continued delta log, silently wiping the schema for every
    // downstream reader
    val schema = DataType.fromJson(meta.schemaString).asInstanceOf[StructType]
    def onType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(onField))
      case a: ArrayType => a.copy(elementType = onType(a.elementType))
      case m: MapType => m.copy(keyType = onType(m.keyType),
        valueType = onType(m.valueType))
      case other => other
    }
    def onField(f: StructField): StructField = {
      if (!f.metadata.contains(ColumnMapping.DeltaIdKey))
        throw new GraftProtocolException(
          s"field ${f.name} lacks a column-mapping id under compat — " +
            "withFieldIds must stamp every committed metaData")
      f.copy(dataType = onType(f.dataType),
        metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString(ColumnMapping.DeltaPhysKey,
            ColumnMapping.physicalName(f)).build())
    }
    StructType(schema.fields.map(onField)).json
  }

  /** Checkpoint parquet layout of delta 1.x: one nullable struct column
    * per action. Explicit (never inferred) — inference over a batch whose
    * partition values are all null would produce an unwritable NullType. */
  val checkpointSchema: StructType = StructType(Seq(
    StructField("txn", StructType(Seq(
      StructField("appId", StringType), StructField("version", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType, valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", LongType),
        StructField("sizeInBytes", LongType),
        StructField("cardinality", LongType))))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    // rowTracking's high-water mark rides checkpoints as the domain
    // action delta readers seed from (commits re-derive it per emit)
    StructField("domainMetadata", StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType))))))
}

/** Serializer for one table's actions in delta-1.0 shape. Stat values are
  * typed from the table SCHEMA (delta stats are typed JSON, graft's native
  * log stores strings); paths URI-encode; the Hive null-partition sentinel
  * maps back to JSON null — the exact inverses of what `Actions.fromJson`'s
  * foreign branch decodes, so a compat log round-trips through graft's own
  * reader AND reads natively in delta. */
final class DeltaShapeWriter(meta: MetaData) {
  private val mapper = new ObjectMapper()
  private val parsed: StructType = {
    try DataType.fromJson(meta.schemaString).asInstanceOf[StructType]
    catch { case _: Exception => new StructType() }
  }
  // Stat maps are keyed by the columns' PHYSICAL names (parquet footer
  // harvest; see GraftTable.pruneCandidates' p2l translation), so the
  // type-dispatch tables below must be too — keying by logical name
  // would miss every renamed mapped column (raw-micros timestamp stats,
  // losing foreign skipping) and could even type a stat by the WRONG
  // column when a rename shadows another column's physical name.
  // physicalName falls back to f.name for unmapped schemas.
  private val numericish: Set[String] = parsed.fields.collect {
    case f if (f.dataType match {
      case _: NumericType | BooleanType | DateType => true
      case _ => false
    }) => ColumnMapping.physicalName(f)
  }.toSet
  /** Timestamp stat columns: physical name → zoned? Delta serializes
    * timestamp min/max as ISO-8601 strings (a JSON integer would read
    * back as epoch SECONDS in delta's stats parser — million-fold-off
    * bounds, unsound foreign skipping); graft's native micros convert on
    * emit. Full microsecond precision — a millis truncation would round
    * the max DOWN, which is unsound for skipping. */
  private val tsCols: Map[String, Boolean] = parsed.fields.collect {
    case f if f.dataType == TimestampType => ColumnMapping.physicalName(f) -> true
    case f if f.dataType == TimestampNTZType => ColumnMapping.physicalName(f) -> false
  }.toMap

  private def isoOfMicros(micros: Long, zoned: Boolean): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val nanos = Math.floorMod(micros, 1000000L) * 1000L
    val ldt = java.time.LocalDateTime.ofEpochSecond(secs, nanos.toInt,
      java.time.ZoneOffset.UTC)
    val base = ldt.format(java.time.format.DateTimeFormatter
      .ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS"))
    if (zoned) base + "Z" else base
  }
  private val sentinel =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  private def encodePath(p: String): String =
    try new java.net.URI(null, null, p, null).toASCIIString
    catch { case _: java.net.URISyntaxException => p }

  private def statVal(node: ObjectNode, k: String, v: String): Unit =
    if (tsCols.contains(k))
      // native micros → delta's ISO-8601 spelling; an already-ISO value
      // (a file adopted from a foreign log) rides through verbatim
      try node.put(k, isoOfMicros(v.toLong, tsCols(k)))
      catch { case _: NumberFormatException => node.put(k, v) }
    else if (numericish(k))
      try node.put(k, new java.math.BigDecimal(v))
      catch { case _: NumberFormatException =>
        if (v == "true" || v == "false") node.put(k, v.toBoolean)
        else node.put(k, v)
      }
    else node.put(k, v)

  /** One delta-1.0 JSON log line for `a`. */
  def line(a: Action): String = {
    val root = mapper.createObjectNode()
    a match {
      case m: MetaData =>
        val n = root.putObject("metaData")
        n.put("id", m.id)
        n.putObject("format").put("provider", "parquet").putObject("options")
        val mapMode = DeltaWriteCompat.mappingMode(m)
        n.put("schemaString",
          if (mapMode.isDefined) DeltaWriteCompat.deltaMappedSchemaString(m)
          else m.schemaString)
        val pc = n.putArray("partitionColumns"); m.partitionColumns.foreach(pc.add)
        val conf = n.putObject("configuration")
        m.properties.foreach { case (k, v) => conf.put(k, v) }
        // the standard delta key (derived mirror of graft's
        // columnMapping.mode property; fold-back filters it)
        mapMode.foreach(conf.put("delta.columnMapping.mode", _))
        m.constraints.foreach { case (k, v) =>
          conf.put(s"constraint.$k", v)
          // the standard key real Delta writers (≥ writer 3) ENFORCE —
          // derived from the constraints map on every emit (fold-back
          // strips it, so a dropped constraint never lingers as a ghost)
          conf.put(s"delta.constraints.$k", v)
        }
        if (m.properties.get("appendOnly").exists(_.equalsIgnoreCase("true")))
          conf.put("delta.appendOnly", "true")
        if (m.properties.get("changeDataFeed.enabled").exists(_.equalsIgnoreCase("true")))
          conf.put("delta.enableChangeDataFeed", "true")
        if (DeltaWriteCompat.rowTrackingOn(m)) {
          // the standard delta keys (derived mirrors of graft's
          // rowTracking.enabled; fold-back filters them): row ids are
          // delivered to delta readers as baseRowId + the materialized
          // `_row_id` column graft stamps into rewritten files
          conf.put("delta.enableRowTracking", "true")
          conf.put("delta.rowTracking.materializedRowIdColumnName",
            GraftTable.RowIdCol)
        }
        conf.put(DeltaWriteCompat.WriterMarker, "true")
        n.put("createdTime", m.createdTime)
      case f: AddFile =>
        val n = root.putObject("add")
        n.put("path", encodePath(f.path))
        val pv = n.putObject("partitionValues")
        f.partitionValues.foreach { case (k, v) =>
          if (v == sentinel) pv.putNull(k) else pv.put(k, v)
        }
        n.put("size", f.size)
        n.put("modificationTime", f.modificationTime)
        // reorganization adds (OPTIMIZE output) say so — a delta STREAM on
        // the compat table must not treat compaction as a data rewrite
        n.put("dataChange", !f.tags.contains(Actions.DataChangeFalseTag))
        val st = mapper.createObjectNode()
        st.put("numRecords", f.numRecords)
        val mins = st.putObject("minValues")
        f.minValues.toSeq.sortBy(_._1).foreach { case (k, v) => statVal(mins, k, v) }
        val maxs = st.putObject("maxValues")
        f.maxValues.toSeq.sortBy(_._1).foreach { case (k, v) => statVal(maxs, k, v) }
        val nc = st.putObject("nullCount")
        f.nullCounts.toSeq.sortBy(_._1).foreach { case (k, v) => nc.put(k, v) }
        n.put("stats", mapper.writeValueAsString(st))
        // the reorg marker is EXPRESSED as the dataChange field above;
        // deltaAdd re-derives the tag on fold-back — never leak it as a tag
        val emitTags = f.tags - Actions.DataChangeFalseTag
        if (emitTags.nonEmpty) {
          val tg = n.putObject("tags")
          emitTags.foreach { case (k, v) => tg.put(k, v) }
        }
        f.baseRowId.foreach(b => n.put("baseRowId", b))
        f.defaultRowCommitVersion.foreach(v => n.put("defaultRowCommitVersion", v))
        f.dvPath.foreach { p =>
          // merge-on-read DVs are packed delta descriptors
          // (GraftTable.rewriteRows) — unpack into the descriptor JSON
          // real readers apply. A LEGACY sidecar here means a refusal
          // gate was bypassed: emitting the add WITHOUT it would
          // resurrect deleted rows for every delta reader — fail loudly.
          if (!DeltaDeletionVectors.isDescriptor(p)) throw new GraftProtocolException(
            s"add ${f.path} carries a native deletion-vector sidecar ($p) " +
              "— no delta-1.0 spelling exists; OPTIMIZE to purge DVs first")
          val d = DeltaDeletionVectors.unpack(p)
          val dv = n.putObject("deletionVector")
          dv.put("storageType", d.storageType)
          dv.put("pathOrInlineDv", d.pathOrInlineDv)
          if (d.storageType != "i") dv.put("offset", d.offset)
          dv.put("sizeInBytes", d.sizeInBytes)
          dv.put("cardinality", d.cardinality)
        }
      case r: RemoveFile =>
        val n = root.putObject("remove")
        n.put("path", encodePath(r.path))
        n.put("deletionTimestamp", r.deletionTimestamp)
        n.put("dataChange", r.dataChange)
      case p: Protocol =>
        // the feature-derived declaration (see compatProtocol): plain
        // tables say (1, 2); constraints gate at writer 3; graft-private
        // writer semantics gate at v7 under names no foreign engine claims
        val cp = DeltaWriteCompat.compatProtocol(p, meta)
        val n = root.putObject("protocol")
        n.put("minReaderVersion", cp.minReaderVersion)
        n.put("minWriterVersion", cp.minWriterVersion)
        if (cp.readerFeatures.nonEmpty) {
          val rf = n.putArray("readerFeatures")
          cp.readerFeatures.foreach(rf.add)
        }
        if (cp.writerFeatures.nonEmpty) {
          val wf = n.putArray("writerFeatures")
          cp.writerFeatures.foreach(wf.add)
        }
      case c: CommitInfo =>
        // versionless, like delta (the commit FILE names the version;
        // readVersion patches it back); engineInfo is the ownership marker
        val n = root.putObject("commitInfo")
        n.put("timestamp", c.timestamp)
        // under ICT the same monotone clock is ALSO spelled as the
        // authoritative inCommitTimestamp field delta 4.x readers use
        if (DeltaWriteCompat.ictOn(meta)) n.put("inCommitTimestamp", c.timestamp)
        n.put("operation", c.operation)
        val om = n.putObject("operationMetrics")
        c.operationMetrics.foreach { case (k, v) => om.put(k, v) }
        n.put("engineInfo", DeltaWriteCompat.EngineInfo)
      case t: Txn =>
        val n = root.putObject("txn")
        n.put("appId", t.appId); n.put("version", t.version)
      case c: CdcFile =>
        // delta's AddCDCFile: URI-encoded path, dataChange always false per
        // spec; graft's compat _cdc/ files ARE the expected layout (data
        // columns + _change_type, partition columns reconstituted from the
        // action's partitionValues — null values spell as JSON null, the
        // same inverse as adds)
        val n = root.putObject("cdc")
        n.put("path", encodePath(c.path))
        val pv = n.putObject("partitionValues")
        c.partitionValues.foreach { case (k, v) =>
          if (v == sentinel) pv.putNull(k) else pv.put(k, v)
        }
        n.put("size", c.size)
        n.put("dataChange", false)
      case other =>
        throw new GraftProtocolException(
          s"action $other has no delta-1.0 shape — compat refusal missed it")
    }
    mapper.writeValueAsString(root)
  }

}

object DeltaShapeWriter {
  private val mapper = new ObjectMapper()

  /** Extra delta-only action lines a commit/checkpoint must carry beyond
    * graft's own actions — both DERIVED from the metaData properties on
    * every emit, so they can never go stale. Graft's own fold skips
    * domainMetadata actions (IgnoredAction).
    *
    *  - `delta.rowTracking`: the row-id high-water mark (delta keeps it
    *    in a domain; graft in the metaData properties) — real delta
    *    readers require it to allocate ids safely after their own commits.
    *  - `delta.clustering`: the clustering columns (graft's own
    *    `clustering.columns` incremental maintenance), spelled as
    *    PHYSICAL single-element paths per delta-spark's convention — the
    *    write-side twin of adoptDelta's domain fold, so foreign engines
    *    see the clustering advice and a re-adoption of graft's own
    *    emission folds back to the identical property. */
  def domainLines(m: MetaData): Seq[String] = {
    val rt =
      if (!DeltaWriteCompat.rowTrackingOn(m)) Nil
      else m.properties.get(GraftTable.RowIdHwmKey).map { hwm =>
        val root = mapper.createObjectNode()
        val n = root.putObject("domainMetadata")
        n.put("domain", "delta.rowTracking")
        n.put("configuration", s"""{"rowIdHighWaterMark":$hwm}""")
        n.put("removed", false)
        mapper.writeValueAsString(root)
      }.toSeq
    val clu = m.properties.get("clustering.columns").toSeq.map { cols =>
      val schema =
        try DataType.fromJson(m.schemaString).asInstanceOf[StructType]
        catch { case _: Exception => new StructType() }
      def phys(name: String): String =
        schema.fields.find(_.name == name)
          .map(ColumnMapping.physicalName).getOrElse(name)
      val conf = mapper.createObjectNode()
      val arr = conf.putArray("clusteringColumns")
      cols.split(",").map(_.trim).filter(_.nonEmpty)
        .foreach(c => arr.addArray().add(phys(c)))
      val root = mapper.createObjectNode()
      val n = root.putObject("domainMetadata")
      n.put("domain", "delta.clustering")
      n.put("configuration", mapper.writeValueAsString(conf))
      n.put("removed", false)
      mapper.writeValueAsString(root)
    }
    rt ++ clu
  }
}
