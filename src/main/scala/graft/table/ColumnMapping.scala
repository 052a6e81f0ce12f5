package graft.table

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, Metadata,
  MetadataBuilder, StructField, StructType}

/** Column mapping (Delta's `columnMapping.mode = name`): each field's
  * PHYSICAL parquet column name is pinned in the field metadata, so the
  * LOGICAL name can change freely — RENAME COLUMN is a metadata-only
  * commit (files keep their physical columns), and DROP COLUMN merely
  * removes the logical binding (a later re-ADD of the same name gets a
  * fresh physical name, so dropped data can never resurrect). Absent
  * metadata means physical == logical (every pre-mapping file ever
  * written), which keeps enabling the feature a pure metadata operation.
  *
  * NESTED fields participate too (added by nested schema evolution): the
  * physical schema renames recursively, and the logical⇄physical
  * translation of a struct column is a single positional CAST — struct
  * casts rename field-by-field in declaration order, so one plan node
  * translates an arbitrarily deep column.
  *
  * Reference: the Delta protocol's columnMapping table feature — the
  * reference's tables (delta 1.0.0) predate it, but its stack grew into
  * it; the Protocol gate (Actions.scala) fails old readers loudly.
  */
object ColumnMapping {
  val PhysKey = "graft.physicalName"

  /** Delta's column-mapping metadata key (name mode) — translated into
    * [[PhysKey]] when folding a REAL delta-spark table (read-interop), so
    * every downstream consumer (physical schema projection, stats/
    * partition translation in pruning) works unchanged. */
  val DeltaPhysKey = "delta.columnMapping.physicalName"

  /** Delta's column-mapping FIELD ID key (id mode): columns resolve by
    * the id stamped in the parquet schema, not by name. Translated into
    * Spark's own `parquet.field.id` metadata key — Spark's parquet
    * readers (V1 scan and the vectorized V2 factory alike) resolve
    * requested fields by id natively once
    * `spark.sql.parquet.fieldId.read.enabled` is on, so graft inherits
    * the whole id-resolution machinery instead of reimplementing it. */
  val DeltaIdKey = "delta.columnMapping.id"
  /** Spark's parquet field-id metadata key
    * (ParquetUtils.FIELD_ID_METADATA_KEY). */
  val FieldIdKey = "parquet.field.id"

  /** Schema with delta's physicalName bindings copied into graft's key
    * and — in ID mode only — delta's field ids copied into Spark's
    * parquet key, recursively. Fields without the delta key keep
    * physical == logical (the same pre-mapping rule graft's own tables
    * use). `copyFieldIds` is the table's mode: NAME-mode schemas carry
    * `delta.columnMapping.id` metadata too, but their FILES resolve by
    * physical name and may predate field-id stamping — requesting ids
    * there would refuse files id resolution was never meant for. */
  def fromDeltaSchema(schema: StructType, copyFieldIds: Boolean = false): StructType =
    StructType(schema.fields.map(f => translateField(f, copyFieldIds)))

  private def translateField(f: StructField, copyFieldIds: Boolean): StructField = {
    val dt = f.dataType match {
      case s: StructType => fromDeltaSchema(s, copyFieldIds)
      case a: ArrayType => a.copy(elementType = translateType(a.elementType, copyFieldIds))
      case m: MapType => m.copy(keyType = translateType(m.keyType, copyFieldIds),
        valueType = translateType(m.valueType, copyFieldIds))
      case other => other
    }
    var b = new MetadataBuilder().withMetadata(f.metadata)
    var changed = false
    if (f.metadata.contains(DeltaPhysKey)) {
      b = b.putString(PhysKey, f.metadata.getString(DeltaPhysKey)); changed = true
    }
    if (copyFieldIds && f.metadata.contains(DeltaIdKey)) {
      b = b.putLong(FieldIdKey, f.metadata.getLong(DeltaIdKey)); changed = true
    }
    f.copy(dataType = dt, metadata = if (changed) b.build() else f.metadata)
  }

  /** Any field (nested included) carrying a parquet field id — the signal
    * that reads must enable Spark's field-id resolution. */
  def hasFieldIds(schema: StructType): Boolean = {
    def inType(dt: DataType): Boolean = dt match {
      case s: StructType => s.fields.exists(f =>
        f.metadata.contains(FieldIdKey) || inType(f.dataType))
      case a: ArrayType => inType(a.elementType)
      case m: MapType => inType(m.keyType) || inType(m.valueType)
      case _ => false
    }
    inType(schema)
  }

  private def translateType(dt: DataType, copyFieldIds: Boolean): DataType = dt match {
    case s: StructType => fromDeltaSchema(s, copyFieldIds)
    case a: ArrayType => a.copy(elementType = translateType(a.elementType, copyFieldIds))
    case m: MapType => m.copy(keyType = translateType(m.keyType, copyFieldIds),
      valueType = translateType(m.valueType, copyFieldIds))
    case other => other
  }

  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey) else f.name

  /** Any field whose physical name diverges from its logical name —
    * including nested ones? While false (including always for pre-mapping
    * tables), every translation below is the identity and costs nothing. */
  def active(schema: StructType): Boolean =
    schema.fields.exists(f => physicalName(f) != f.name || nestedActive(f.dataType))

  /** Divergence strictly BELOW a field: a nested field somewhere in `dt`
    * carries a physical name different from its logical one. */
  def nestedActive(dt: DataType): Boolean = dt match {
    case s: StructType => s.fields.exists(f =>
      physicalName(f) != f.name || nestedActive(f.dataType))
    case a: ArrayType => nestedActive(a.elementType)
    case m: MapType => nestedActive(m.keyType) || nestedActive(m.valueType)
    case _ => false
  }

  /** Metadata carrying ONLY the parquet field id (empty when absent):
    * the one key the physical read schema must keep — Spark's readers
    * resolve id-mode columns through it. */
  /** READ-schema metadata: the parquet field id (id resolution) plus the
    * EXISTS_DEFAULT existence default — Spark's parquet readers fill a
    * column MISSING from a file (added after the file was written) from
    * that key, which is what keeps ADD COLUMN ... DEFAULT metadata-only;
    * stripping it here made pre-add rows silently read NULL. Everything
    * else (mapping bindings, CURRENT_DEFAULT, comments) stays stripped —
    * the reader must never see graft's logical-side keys. */
  private def fieldIdOnly(md: Metadata): Metadata = {
    val hasId = md.contains(FieldIdKey)
    val hasExists = md.contains(ExistsDefaultKey)
    if (!hasId && !hasExists) Metadata.empty
    else {
      var b = new MetadataBuilder()
      if (hasId) b = b.putLong(FieldIdKey, md.getLong(FieldIdKey))
      if (hasExists)
        b = b.putString(ExistsDefaultKey, md.getString(ExistsDefaultKey))
      b.build()
    }
  }

  /** Spark's existence-default key (ResolveDefaultColumns) — what rows
    * written before a column existed read. */
  val ExistsDefaultKey = "EXISTS_DEFAULT"

  /** WRITE-side field-id metadata: the parquet field id Spark's writer
    * should stamp into new files — Spark's own key when present (adopted
    * foreign id-mode schemas, translated at fold time), else delta's
    * mapping id (graft-native mapped schemas, stamped by
    * DeltaWriteCompat.withFieldIds at the commit chokepoint). Distinct
    * from [[fieldIdOnly]] on purpose: READ schemas must carry ids only
    * when the table's files actually resolve by id (flipping resolution
    * on for a name-mode table whose old files predate ids would refuse
    * them), while WRITE schemas stamp ids whenever the mapping declares
    * them — the delta columnMapping spec requires field ids in every
    * file a mapped table writes, and id-mode READERS can only bind
    * graft-written files through them. */
  private def writeFieldId(md: Metadata): Option[Long] =
    if (md.contains(FieldIdKey)) Some(md.getLong(FieldIdKey))
    else if (md.contains(DeltaIdKey)) Some(md.getLong(DeltaIdKey))
    else None

  private def writeIdMetadata(md: Metadata): Metadata =
    writeFieldId(md).map(id =>
      new MetadataBuilder().putLong(FieldIdKey, id).build())
      .getOrElse(Metadata.empty)

  /** Any field (nested included) carrying a write-side id source. */
  def hasWriteIds(schema: StructType): Boolean = {
    def inType(dt: DataType): Boolean = dt match {
      case s: StructType => s.fields.exists(f =>
        writeFieldId(f.metadata).isDefined || inType(f.dataType))
      case a: ArrayType => inType(a.elementType)
      case m: MapType => inType(m.keyType) || inType(m.valueType)
      case _ => false
    }
    inType(schema)
  }

  /** `dt` with every nested field under its PHYSICAL name and the
    * write-side parquet field id attached — the schema new data files
    * are written with under column mapping. */
  def physicalWriteType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(name = physicalName(f), dataType = physicalWriteType(f.dataType),
        metadata = writeIdMetadata(f.metadata))))
    case a: ArrayType => a.copy(elementType = physicalWriteType(a.elementType))
    case m: MapType => m.copy(keyType = physicalWriteType(m.keyType),
      valueType = physicalWriteType(m.valueType))
    case other => other
  }

  /** The WRITE twin of [[physicalSchema]]: physical names + write-side
    * field ids (see [[writeIdMetadata]]). */
  def physicalWriteSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      f.copy(name = physicalName(f),
        dataType = physicalWriteType(f.dataType),
        metadata = writeIdMetadata(f.metadata))))

  /** `dt` with every nested field under its PHYSICAL name, metadata
    * stripped down to the parquet field id (if any) — the spelling the
    * parquet files use, plus the id Spark's readers resolve by. */
  def physicalType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(name = physicalName(f), dataType = physicalType(f.dataType),
        metadata = fieldIdOnly(f.metadata))))
    case a: ArrayType => a.copy(elementType = physicalType(a.elementType))
    case m: MapType => m.copy(keyType = physicalType(m.keyType),
      valueType = physicalType(m.valueType))
    case other => other
  }

  /** `dt` with logical names everywhere and mapping metadata stripped —
    * the clean target type for logical-side casts. */
  def cleanType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = cleanType(f.dataType), metadata = Metadata.empty)))
    case a: ArrayType => a.copy(elementType = cleanType(a.elementType))
    case m: MapType => m.copy(keyType = cleanType(m.keyType),
      valueType = cleanType(m.valueType))
    case other => other
  }

  /** The schema as the parquet files spell it (recursive). */
  def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      f.copy(name = physicalName(f),
        dataType = physicalType(f.dataType), metadata = fieldIdOnly(f.metadata))))

  def physicalOf(schema: StructType, logical: String): String =
    schema.fields.find(_.name == logical).map(physicalName).getOrElse(logical)

  /** physical → logical for the CURRENT schema. Injective: stale physical
    * keys (of dropped columns) are simply absent, which is what stops a
    * dropped column's stats or data binding to a same-named successor. */
  def physToLog(schema: StructType): Map[String, String] =
    schema.fields.map(f => physicalName(f) -> f.name).toMap

  /** Read field `f` from a physically-named frame back under its logical
    * name and (positionally cast) logical nested names. */
  def logicalColumn(f: StructField): Column = {
    val c = col(physicalName(f))
    if (nestedActive(f.dataType)) c.cast(cleanType(f.dataType)).as(f.name)
    else c.as(f.name)
  }

  /** Write field `f` from a logically-named frame out under its physical
    * name and (positionally cast) physical nested names. */
  def physicalColumn(f: StructField): Column = {
    val c = col(f.name)
    if (nestedActive(f.dataType)) c.cast(physicalType(f.dataType)).as(physicalName(f))
    else c.as(physicalName(f))
  }

  /** [[physicalColumn]] with write-side field ids attached: the alias
    * carries `parquet.field.id` metadata (Spark's parquet writer stamps
    * ids from it — PARQUET_FIELD_ID_WRITE_ENABLED defaults on) and
    * nested fields ride a cast whose TARGET type spells the ids. */
  def physicalWriteColumn(f: StructField): Column = {
    val c = col(f.name)
    val target = physicalWriteType(f.dataType)
    val base = if (target != f.dataType) c.cast(target) else c
    base.as(physicalName(f), writeIdMetadata(f.metadata))
  }

  /** `schema` with every mapping-related metadata key removed,
    * recursively — the birth state of a NEW table. A seed frame read from
    * a mapped (or id-mode foreign) table carries physicalName / field-id
    * bindings that describe the SOURCE's files; inheriting them into a
    * fresh table whose own files are written under logical names would
    * make every read request columns the files do not spell (silent
    * NULLs). Mapping on the new table starts fresh via setProperty. */
  def stripMappingMetadata(schema: StructType): StructType = {
    def clean(md: Metadata): Metadata = {
      val keys = Seq(PhysKey, DeltaPhysKey, DeltaIdKey, FieldIdKey)
      if (!keys.exists(md.contains)) md
      else {
        val b = new MetadataBuilder().withMetadata(md)
        keys.foreach(b.remove)
        b.build()
      }
    }
    def inType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = inType(f.dataType), metadata = clean(f.metadata))))
      case a: ArrayType => a.copy(elementType = inType(a.elementType))
      case m: MapType => m.copy(keyType = inType(m.keyType),
        valueType = inType(m.valueType))
      case other => other
    }
    inType(schema).asInstanceOf[StructType]
  }

  /** Stamp `f` with an explicit physical name (no-op key update if equal). */
  def withPhysical(f: StructField, physical: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysKey, physical).build())
}
