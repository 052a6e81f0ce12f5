package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.Collections
import scala.jdk.CollectionConverters._

import graft.table.{AddFile, FileOps, GraftTable, Snapshot}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 catalog: graft tables addressable BY NAME from Spark SQL —
  * the last line of the reference's session bootstrap not yet mirrored
  * (spark_project.py:11-13 registers Delta's catalog so `spark.sql` resolves
  * Delta tables; this is the graft equivalent, built only on the public
  * `org.apache.spark.sql.connector.catalog` API).
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  *   spark.sql("CREATE TABLE graft.default.people (id INT, name STRING) USING graft")
  *   spark.sql("INSERT INTO graft.default.people VALUES (1, 'Ada')")
  *   spark.sql("SELECT * FROM graft.default.people VERSION AS OF 0")
  * }}}
  *
  * Layout: a MANAGED table `graft.ns.t` lives at `<warehouse>/ns/t`; a table
  * created with `LOCATION '/path'` (or registered over an existing path
  * table) is EXTERNAL — a one-line `t._location` pointer file under the
  * namespace records the path, and DROP removes only the pointer.
  *
  * Reads go through the same stats/bloom/partition file-pruning path as
  * `GraftTable.scan` (ScanBuilder pushes filters + required columns, the
  * scan itself is a V1Scan so the parquet read reuses the proven relation
  * machinery); writes are V1 fallback writes committed through the table's
  * optimistic log protocol — INSERT INTO appends, INSERT OVERWRITE is the
  * single-commit atomic `overwrite`. SQL time travel (`VERSION AS OF` /
  * `TIMESTAMP AS OF`) maps to the log's snapshot resolution.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog with FunctionCatalog {

  /** V2 function surface: Spark's storage-partitioned-join planner loads
    * the `bucket` function from HERE (V2ExpressionUtils.loadV2FunctionOpt,
    * empty-namespace identifier) to resolve the bucket transform the
    * key-grouped scan reports — and to prove two bucketed tables hash
    * identically (TransformExpression compatibility is canonicalName-
    * based). Also lets SQL call it directly: `SELECT graft.bucket(16, id)`. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(namespace, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  /** Maintenance procedures: `CALL graft.system.optimize/vacuum/restore`
    * (GraftProcedures.scala) — the statements Delta adds a SQL parser
    * extension for, served through the public DSv2 procedure API. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  private var catalogName: String = "graft"
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Paths.get(Option(options.get("warehouse")).getOrElse {
      // default managed tables to the session's DURABLE Spark warehouse —
      // tests/bench opt into tmpfs explicitly via the warehouse option
      // (a silent /dev/shm default would put user tables in RAM)
      val wh = SparkSession.active.conf.get("spark.sql.warehouse.dir")
      val plain = if (wh.startsWith("file:")) Paths.get(java.net.URI.create(wh)).toString
                  else wh
      Paths.get(plain, "graft").toString
    })
    Files.createDirectories(warehouse.resolve("default"))
  }

  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  private def spark: SparkSession = SparkSession.active
  private def nsDir(ns: Array[String]): Path = ns.foldLeft(warehouse)(_.resolve(_))
  private def tableDir(ident: Identifier): Path = nsDir(ident.namespace).resolve(ident.name)
  private def pointer(ident: Identifier): Path =
    nsDir(ident.namespace).resolve(ident.name + "._location")

  /** Physical path of `ident`: the external pointer wins, else the managed
    * directory if it holds a table log. */
  private def resolvePath(ident: Identifier): Option[String] = {
    if (Files.isRegularFile(pointer(ident)))
      Some(Files.readString(pointer(ident)).trim)
    else {
      val dir = tableDir(ident).toString
      if (GraftTable.isGraftTable(dir)) Some(dir) else None
    }
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace :+ ident.name).mkString(".")

  override def tableExists(ident: Identifier): Boolean = resolvePath(ident).isDefined

  override def loadTable(ident: Identifier): Table = resolvePath(ident) match {
    case Some(p) => new GraftSqlTable(GraftTable.forPath(spark, p), fullName(ident))
    case None => throw new NoSuchTableException(ident)
  }

  /** SQL `VERSION AS OF v` — pin the scan to one log version. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = GraftTable.forPath(spark, resolvePath(ident).getOrElse(
      throw new NoSuchTableException(ident)))
    new GraftSqlTable(t, fullName(ident), Some(t.snapshotAt(version.toLong)))
  }

  /** SQL `TIMESTAMP AS OF ts` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = GraftTable.forPath(spark, resolvePath(ident).getOrElse(
      throw new NoSuchTableException(ident)))
    new GraftSqlTable(t, fullName(ident),
      Some(t.snapshotAt(t.versionAt(Math.floorDiv(timestamp, 1000L)))))
  }

  /** Spark-reserved properties the engine supplies on CREATE — everything
    * else persists as a graft table property (versioned in the log). */
  private val reservedProps = Set(
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE,
    TableCatalog.PROP_COLLATION, "path")

  /** Spark 4 parses `GENERATED ALWAYS AS (expr)` / `GENERATED ALWAYS AS
    * IDENTITY (START WITH s INCREMENT BY t)` natively once the catalog
    * declares the capabilities — the clauses arrive on the v2 Column
    * objects and route into the same engine metadata the TBLPROPERTIES
    * spelling (`'generated.<col>'` / `'identity.<col>'`) sets. */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val props = new java.util.HashMap[String, String](properties)
    columns.foreach { c =>
      Option(c.generationExpression()).foreach(e =>
        props.put(s"generated.${c.name}", e))
      Option(c.identityColumnSpec()).foreach { sp =>
        require(!sp.isAllowExplicitInsert,
          "GENERATED BY DEFAULT AS IDENTITY is not supported — use GENERATED ALWAYS")
        props.put(s"identity.${c.name}", s"${sp.getStart},${sp.getStep}")
      }
    }
    val schema = StructType(columns.map { c =>
      val b = new org.apache.spark.sql.types.MetadataBuilder()
      Option(c.metadataInJSON()).foreach(j =>
        b.withMetadata(org.apache.spark.sql.types.Metadata.fromJson(j)))
      // a user-declared DEFAULT arrives on Column.defaultValue(), not in
      // metadataInJSON — dropping it would silently discard the clause the
      // SUPPORT_COLUMN_DEFAULT_VALUE capability promised to honor
      Option(c.defaultValue()).flatMap(dv => Option(dv.getSql)).foreach { sql =>
        b.putString("CURRENT_DEFAULT", sql)
        b.putString("EXISTS_DEFAULT", sql)
      }
      Option(c.comment()).foreach(cm => b.putString("comment", cm))
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable, b.build())
    })
    createTable(ident, schema, partitions, props)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    val (partitionCols, bucketProps) = GraftCatalog.decodeTransforms(partitions.toSeq)
    val props = properties.asScala.toMap ++ bucketProps
    // Spark normalizes LOCATION to a file: URI; the table layer wants a
    // plain local path.
    val location = props.get(TableCatalog.PROP_LOCATION).map { loc =>
      if (loc.startsWith("file:")) Paths.get(java.net.URI.create(loc)).toString else loc
    }
    location match {
      case Some(loc) if GraftTable.isGraftTable(loc) =>
        // register an EXISTING path table by name (schema comes from its log)
        Files.writeString(pointer(ident), loc)
      case other =>
        require(schema.fields.nonEmpty,
          s"CREATE TABLE ${fullName(ident)} needs a column list " +
            "(or a LOCATION holding an existing graft table)")
        val dir = other.getOrElse(tableDir(ident).toString)
        // SQL front door for engine-maintained columns, since Spark's
        // generic parser has no GENERATED AS clause (Delta extends the
        // parser; we ride TBLPROPERTIES):
        //   TBLPROPERTIES('generated.day' = "cast(date_trunc('DAY', ts) as date)",
        //                 'identity.row_id' = '100,1')   -- start[,step]
        // The named columns must appear in the column list; they are
        // stripped from the seed frame (the engine computes/assigns them)
        // and their declared types must match what the expression yields.
        val generated = props.collect {
          case (k, v) if k.startsWith("generated.") => k.stripPrefix("generated.") -> v }
        val identity = props.collect {
          case (k, v) if k.startsWith("identity.") =>
            val parts = v.split(',').map(_.trim.toLong)
            k.stripPrefix("identity.") ->
              (parts(0), if (parts.length > 1) parts(1) else 1L) }
        (generated.keySet ++ identity.keySet).foreach(c =>
          require(schema.fieldNames.contains(c),
            s"generated/identity column '$c' must appear in the column list"))
        val seedSchema = StructType(schema.fields.filterNot(f =>
          generated.contains(f.name) || identity.contains(f.name)))
        val empty = spark.createDataFrame(
          Collections.emptyList[Row](), seedSchema)
        // validate BEFORE commit 0 lands — a post-create failure would
        // orphan the table directory and brick the corrected retry with
        // TableAlreadyExistsException
        generated.foreach { case (c, e) =>
          val computed = empty.withColumn(c, org.apache.spark.sql.functions.expr(e))
            .schema(c).dataType
          require(computed == schema(c).dataType,
            s"generated column '$c' declared ${schema(c).dataType.simpleString} " +
              s"but its expression yields ${computed.simpleString}")
        }
        identity.keys.foreach(c => require(
          schema(c).dataType == org.apache.spark.sql.types.LongType,
          s"identity column '$c' must be declared BIGINT"))
        val bloomCols = props.get("bloom.columns").toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val bucketBy = for {
          c <- props.get(graft.table.Bucketing.ColumnProp)
          n <- props.get(graft.table.Bucketing.CountProp)
        } yield (c, n.trim.toInt)
        val t = GraftTable.create(spark, dir, empty, partitionCols,
          bloomFilterOn = bloomCols,
          bloomNdv = props.get("bloom.ndv").map(_.toLong).getOrElse(100000L),
          generated = generated, identity = identity, bucketBy = bucketBy)
        props.filterNot { case (k, _) =>
          reservedProps.contains(k) || k.startsWith(TableCatalog.OPTION_PREFIX) ||
            k == "bloom.columns" || k == "bloom.ndv" ||
            k == graft.table.Bucketing.ColumnProp ||
            k == graft.table.Bucketing.CountProp ||
            k.startsWith("generated.") || k.startsWith("identity.")
        }.foreach {
          // a constraint declared at CREATE must land in
          // metaData.constraints (enforced on write), not as a dead
          // same-named property UNSET can never remove
          case (k, v) if k.startsWith("constraint.") =>
            t.addConstraint(k.stripPrefix("constraint."), v)
          case (k, v) => t.setProperty(k, v)
        }
        if (other.isDefined) Files.writeString(pointer(ident), dir)
    }
    loadTable(ident)
  }

  // ---- StagingTableCatalog: atomic CREATE/REPLACE TABLE AS SELECT ----------
  // Spark routes `CREATE TABLE ... AS SELECT` / `REPLACE TABLE ... AS
  // SELECT` / `CREATE OR REPLACE TABLE ... AS SELECT` through stage* when
  // the catalog implements the staging protocol, making the whole
  // statement ATOMIC: the query writes its data files into the table
  // directory first (invisible — nothing references them until a commit
  // lands), and commitStagedChanges() then publishes ONE log version. A
  // failure at ANY point before that commit leaves the previous table
  // fully intact and readable (abortStagedChanges deletes the orphaned
  // files); there is no window where the old table is gone and the new
  // one isn't ready — the failure mode a non-atomic drop-then-create
  // REPLACE exposes. History and time travel across a replace boundary
  // are preserved: the log keeps every prior commit.

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, allowExisting = false, requireExisting = false)

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, allowExisting = true, requireExisting = true)

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, allowExisting = true, requireExisting = false)

  private def stage(ident: Identifier, info: TableInfo,
      allowExisting: Boolean, requireExisting: Boolean): StagedTable = {
    val exists = tableExists(ident)
    if (exists && !allowExisting) throw new TableAlreadyExistsException(ident)
    if (!exists && requireExisting) throw new NoSuchTableException(ident)
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    val props = info.properties.asScala.toMap
    require(!props.keys.exists(k =>
        k.startsWith("generated.") || k.startsWith("identity.")),
      "staged CREATE/REPLACE ... AS SELECT does not support generated/" +
        "identity columns — CREATE the table first, then INSERT")
    val (partitionCols, bucketProps) =
      GraftCatalog.decodeTransforms(info.partitions.toSeq)
    val location = props.get(TableCatalog.PROP_LOCATION).map { loc =>
      if (loc.startsWith("file:")) Paths.get(java.net.URI.create(loc)).toString else loc
    }
    val dir = resolvePath(ident)
      .orElse(location)
      .getOrElse(tableDir(ident).toString)
    val tableProps = props.filterNot { case (k, _) =>
      reservedProps.contains(k) || k.startsWith(TableCatalog.OPTION_PREFIX)
    } ++ bucketProps
    graft.table.Bucketing.validate(info.schema(), partitionCols, tableProps)
    new GraftStagedTable(spark, this, ident, dir, info.schema(),
      partitionCols, tableProps, exists)
  }

  private[sources] def registerExternal(ident: Identifier, dir: String): Unit =
    if (!Paths.get(dir).normalize().equals(tableDir(ident).normalize()))
      Files.writeString(pointer(ident), dir)

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = GraftTable.forPath(spark, resolvePath(ident).getOrElse(
      throw new NoSuchTableException(ident)))
    changes.foreach {
      // CHECK constraints through SQL (no generic ALTER ... ADD CONSTRAINT
      // in Spark's parser): SET TBLPROPERTIES('constraint.<name>' = '<expr>')
      // routes through addConstraint — existing rows validate first, and
      // the constraint lands in metaData.constraints where every write
      // enforces it (a plain property would be dead configuration).
      case set: TableChange.SetProperty if set.property.startsWith("constraint.") =>
        t.addConstraint(set.property.stripPrefix("constraint."), set.value)
      case rm: TableChange.RemoveProperty if rm.property.startsWith("constraint.") =>
        t.dropConstraint(rm.property.stripPrefix("constraint."))
      case set: TableChange.SetProperty => t.setProperty(set.property, set.value)
      case rm: TableChange.RemoveProperty => t.removeProperty(rm.property)
      // native `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)` (Spark 4
      // constraint DDL; the capability above opts in): only CHECK is
      // enforceable write-side, the informational kinds are rejected
      case ac: TableChange.AddConstraint => ac.constraint() match {
        case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
          t.addConstraint(chk.name, chk.predicateSql())
        case other => throw new UnsupportedOperationException(
          s"graft tables support CHECK constraints only, got ${other.toDDL}")
      }
      case dc: TableChange.DropConstraint =>
        if (!dc.ifExists || t.snapshot.metaData.constraints.contains(dc.name))
          t.dropConstraint(dc.name)
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft tables support top-level ADD COLUMN only")
        // a user-declared DEFAULT rides the change as a ColumnDefaultValue
        // — dropping it silently would leave a column the user believes
        // defaulted reading NULL for every pre-existing row
        t.addColumn(add.fieldNames.head, add.dataType,
          Option(add.defaultValue()).flatMap(dv => Option(dv.getSql)))
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "graft tables support top-level RENAME COLUMN only")
        t.renameColumn(rn.fieldNames.head, rn.newName)
      // ALTER COLUMN ... TYPE: metadata-only type WIDENING (narrowing
      // rejects inside alterColumnType)
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          "graft tables support top-level ALTER COLUMN TYPE only")
        t.alterColumnType(ut.fieldNames.head, ut.newDataType)
      // ALTER COLUMN ... SET / DROP NOT NULL: SET validates existing rows
      case un: TableChange.UpdateColumnNullability =>
        require(un.fieldNames.length == 1,
          "graft tables support top-level ALTER COLUMN nullability only")
        t.setNullability(un.fieldNames.head, un.nullable)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "graft tables support top-level DROP COLUMN only")
        t.dropColumn(del.fieldNames.head)
      // ALTER COLUMN ... SET / DROP DEFAULT: metadata-only, future writes
      case ud: TableChange.UpdateColumnDefaultValue =>
        require(ud.fieldNames.length == 1,
          "graft tables support top-level ALTER COLUMN DEFAULT only")
        t.setColumnDefault(ud.fieldNames.head,
          Option(ud.newCurrentDefault()).flatMap(d => Option(d.getSql)))
      // ALTER TABLE ... CLUSTER BY (cols) / CLUSTER BY NONE: redeclare or
      // drop the clustering advice (metadata-only; the NEXT bare OPTIMIZE
      // re-clusters once — tag mismatch — then maintains incrementally)
      case cb: TableChange.ClusterBy =>
        val cols = cb.clusteringColumns().map(_.fieldNames.mkString("."))
        if (cols.isEmpty) t.removeProperty("clustering.columns")
        else t.setProperty("clustering.columns", cols.mkString(","))
      // ALTER COLUMN ... COMMENT: metadata-only documentation
      case uc: TableChange.UpdateColumnComment =>
        require(uc.fieldNames.length == 1,
          "graft tables support top-level ALTER COLUMN COMMENT only")
        t.setColumnComment(uc.fieldNames.head, Option(uc.newComment()))
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change not supported on graft tables: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (Files.isRegularFile(pointer(ident))) { // external: forget, keep data
      Files.delete(pointer(ident)); true
    } else if (GraftTable.isGraftTable(tableDir(ident).toString)) {
      deleteRecursively(tableDir(ident)); true
    } else false
  }

  override def renameTable(oldIdent: Identifier, newIdent0: Identifier): Unit = {
    // `RENAME TO gcat.ns.t` reaches us with the catalog name still on the
    // target's namespace — strip it so both spellings work.
    val newIdent =
      if (newIdent0.namespace.headOption.contains(catalogName))
        Identifier.of(newIdent0.namespace.drop(1), newIdent0.name)
      else newIdent0
    if (!tableExists(oldIdent))
      throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent))
      throw new TableAlreadyExistsException(newIdent)
    if (Files.isRegularFile(pointer(oldIdent)))
      Files.move(pointer(oldIdent), pointer(newIdent))
    else Files.move(tableDir(oldIdent), tableDir(newIdent))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Files.list(nsDir(namespace)).iterator().asScala.flatMap { p =>
      val n = p.getFileName.toString
      if (n.endsWith("._location"))
        Some(Identifier.of(namespace, n.stripSuffix("._location")))
      else if (GraftTable.isGraftTable(p.toString)) Some(Identifier.of(namespace, n))
      else None
    }.toArray
  }

  // ---- namespaces: directories under the warehouse that aren't tables ----

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.nonEmpty && Files.isDirectory(nsDir(namespace)) &&
      !GraftTable.isGraftTable(nsDir(namespace).toString)

  override def listNamespaces(): Array[Array[String]] =
    Files.list(warehouse).iterator().asScala
      .filter(p => Files.isDirectory(p) && !GraftTable.isGraftTable(p.toString))
      .map(p => Array(p.getFileName.toString)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Files.list(nsDir(namespace)).iterator().asScala
      .filter(p => Files.isDirectory(p) && !GraftTable.isGraftTable(p.toString))
      .map(p => namespace :+ p.getFileName.toString).toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    new java.util.HashMap[String, String]()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    Files.createDirectories(nsDir(namespace))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    deleteRecursively(nsDir(namespace)); true
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object GraftCatalog {
  /** Register (idempotently) a graft catalog on a live session — catalogs
    * resolve lazily from runtime conf, so no builder-time config is needed. */
  def register(spark: SparkSession, warehouse: String, name: String = "graft"): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
  }

  /** Split DSv2 partitioning transforms into (identity partition columns,
    * bucketing table properties). `PARTITIONED BY (bucket(16, doc_id))` is
    * the SQL front door for hash bucketing (graft.table.Bucketing);
    * at most one bucket transform, single-column, no mixing with identity
    * columns (enforced by Bucketing.validate at create). */
  private[sources] def decodeTransforms(
      partitions: Seq[Transform]): (Seq[String], Map[String, String]) = {
    // CREATE TABLE ... CLUSTER BY (cols): Spark 4 delivers the clause as a
    // ClusterByTransform in the partitioning array — it becomes graft's
    // clustering.columns property (liquid-clustering declaration; bare
    // OPTIMIZE maintains it incrementally), NOT a partition layout
    val (clusters, nonCluster) = partitions.partition(
      _.isInstanceOf[org.apache.spark.sql.connector.expressions.ClusterByTransform])
    val clusterProps = clusters match {
      case Seq() => Map.empty[String, String]
      case Seq(cb) => Map("clustering.columns" ->
        cb.references.map(_.fieldNames.mkString(".")).mkString(","))
      case many => throw new IllegalArgumentException(
        s"at most one CLUSTER BY clause per table, got ${many.toSeq}")
    }
    require(clusters.isEmpty || nonCluster.isEmpty,
      "CLUSTER BY cannot combine with PARTITIONED BY on graft tables " +
        "(clustering is a within-file layout; partitioning would shadow it)")
    val (buckets, rest) = nonCluster.partition(_.name == "bucket")
    val partitionCols = rest.map { t =>
      require(t.name == "identity",
        s"graft tables support identity and bucket partitioning only, got $t")
      t.references.head.fieldNames.mkString(".")
    }
    val bucketProps = buckets match {
      case Seq() => Map.empty[String, String]
      case Seq(b) =>
        val refs = b.references.map(_.fieldNames.mkString("."))
        require(refs.length == 1,
          s"bucket transform must name exactly one column, got ${refs.toSeq}")
        val n = b.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            String.valueOf(l.value()).toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform carries no bucket count: $b"))
        Map(graft.table.Bucketing.ColumnProp -> refs.head,
            graft.table.Bucketing.CountProp -> n.toString)
      case many => throw new IllegalArgumentException(
        s"at most one bucket transform per table, got ${many.toSeq}")
    }
    (partitionCols, bucketProps ++ clusterProps)
  }
}

/** A graft table surfaced through the DSv2 `Table` interface; `pinned` holds
  * a time-travel snapshot (reads serve it; writes always target the head). */
class GraftSqlTable(val table: GraftTable, ident: String,
    pinned: Option[Snapshot] = None, cdf: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns {

  /** CHECK constraints surfaced through the v2 Table API (DESCRIBE shows
    * them; Spark's constraint framework reads them back). */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    snap.metaData.constraints.map { case (n, e) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(e).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** CDF read surface (`readChangeFeed`): table columns + change metadata. */
  private def cdfSchema: StructType = StructType(snap.schema.fields ++ Seq(
    org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("_commit_version",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("_commit_timestamp",
      org.apache.spark.sql.types.TimestampType, nullable = true)))

  /** `_file`: which data file a row lives in, as a plain absolute path —
    * a metadata column for users (`SELECT _file, ... FROM t`). */
  override def metadataColumns(): Array[MetadataColumn] = {
    val file: MetadataColumn = new MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file holding the row"
    }
    // row tracking: `SELECT _row_id, ... FROM t` serves the stable id
    val rowId: MetadataColumn = new MetadataColumn {
      override def name(): String = GraftTable.RowIdCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String = "stable row id (rowTracking.enabled)"
    }
    if (table.rowTrackingEnabled(snap.metaData)) Array(file, rowId)
    else Array(file)
  }

  private def snap: Snapshot = pinned.getOrElse(table.snapshot)

  /** The metadata-only COUNT(*) rewrite (plans.MetadataOnlyCount) may
    * serve this relation from the log: not a CDF relation (its rows are
    * commit deltas, not the snapshot). Pinned time travel composes. */
  private[graft] def supportsMetadataCount: Boolean = !cdf

  /** ONE snapshot for the whole metadata-only aggregate: the rule must
    * never mix counts and extremes from different versions (a racing DV
    * delete between per-call `snap` resolutions would defeat the DV
    * guard), so it captures this once and folds everything from it. */
  private[graft] def metadataSnapshot: Snapshot = snap

  /** SQL `DELETE FROM` in a session without [[graft.GraftExtensions]]
    * (with it, [[GraftDml]] runs every DELETE through the same
    * `table.delete`): the predicate routes to the table layer's delete.
    * Supported iff every filter translates exactly (delete semantics can't
    * drop a conjunct the way best-effort pruning can); Spark refuses the
    * rest at planning. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.isEmpty || GraftFilters.toColumnStrict(filters.toSeq).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit =
    table.delete(GraftFilters.toColumnStrict(filters.toSeq).getOrElse(lit(true)))

  override def name(): String = ident
  override def schema(): StructType = if (cdf) cdfSchema else snap.schema

  override def partitioning(): Array[Transform] =
    snap.metaData.partitionColumns.map(Expressions.identity).toArray[Transform] ++
      graft.table.Bucketing.spec(snap.metaData)
        .map { case (c, n) => Expressions.bucket(n, c): Transform } ++
      // declared clustering reports back as the standard ClusterByTransform
      // (DESCRIBE shows `cluster_by`; round-trips CREATE ... CLUSTER BY)
      snap.metaData.properties.get("clustering.columns")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty))
        .filter(_.nonEmpty)
        .map(cols => org.apache.spark.sql.connector.expressions.ClusterByTransform(
          cols.toIndexedSeq.map(c => Expressions.column(c): NamedReference))
          : Transform)

  override def properties(): java.util.Map[String, String] =
    (snap.metaData.properties ++ Map(
      TableCatalog.PROP_PROVIDER -> "graft",
      TableCatalog.PROP_LOCATION -> table.path)).asJava

  // AUTOMATIC_SCHEMA_EVOLUTION opts into Spark 4's `MERGE INTO ... WITH
  // SCHEMA EVOLUTION`: the analyzer (ResolveMergeIntoSchemaEvolution)
  // derives the source-only columns as AddColumn changes, routes them
  // through the catalog's alterTable (an additive metadata-only commit
  // here), and re-resolves the merge against the evolved schema — the SQL
  // spelling of the native API's withSchemaEvolution().
  override def capabilities(): java.util.Set[TableCapability] =
    if (cdf) java.util.Set.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    else java.util.Set.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asCaseSensitiveMap().asScala.toMap
      .map { case (k, v) => k.toLowerCase -> v }
    if (cdf)
      return new ScanBuilder {
        override def build(): Scan = new GraftCdfScan(table, snap, cdfSchema, opts)
      }
    // option-based time travel on a NAMED table:
    // spark.read.option("versionAsOf", 3).table("graft.ns.t")
    val readSnap = (opts.get("versionasof"), opts.get("timestampasof")) match {
      case (Some(v), None) => table.snapshotAt(v.toLong)
      case (None, Some(ts)) =>
        table.snapshotAt(table.versionAt(java.sql.Timestamp.valueOf(ts).getTime))
      case (None, None) => snap
      case _ => throw new IllegalArgumentException(
        "specify at most one of versionAsOf / timestampAsOf")
    }
    new GraftScanBuilder(table, readSnap, opts)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(table, info)
}

/** Pushdown surface: required columns shrink the read schema; =/range/IN
  * filters feed the table layer's stats + bloom file pruning. Spark
  * re-evaluates EVERY filter on the surviving rows (we return the full
  * array from pushFilters), so pruning can never change results. */
class GraftScanBuilder(table: GraftTable, snap: Snapshot,
    options: Map[String, String] = Map.empty) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = snap.schema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftFilters.toColumn(Seq(f)).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Partitioned tables with native-reader-compatible projections serve the
    * key-grouped DSv2 batch (storage-partitioned joins + exchange-free
    * same-key aggregation); everything else keeps the V1 bridge. Both paths
    * share the pruning and the log-derived statistics, and Spark re-applies
    * every pushed filter row-level either way, so the choice can affect
    * only the plan shape, never results. `spark.graft.spj.enabled=false`
    * (or Spark's own v2-bucketing switch) restores the V1 path wholesale. */
  override def build(): Scan = {
    val prune = GraftFilters.toColumn(pushed.toSeq)
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.conf
    val bucketed = graft.table.Bucketing.spec(snap.metaData)
    val spjOk =
      (snap.metaData.partitionColumns.nonEmpty || bucketed.isDefined) &&
        conf.getConfString("spark.graft.spj.enabled", "true").toBoolean &&
        conf.getConfString("spark.sql.sources.v2.bucketing.enabled", "true").toBoolean &&
        !required.fieldNames.contains("_file") &&
        !required.fieldNames.contains(graft.table.GraftTable.RowIdCol) &&
        scala.util.Try(graft.streaming.GraftTableStream
          .validateSchema(required)).isSuccess &&
        snap.metaData.partitionColumns.forall(c =>
          graft.streaming.GraftTableStream
            .partitionKeyTypeSupported(snap.schema(c).dataType)) &&
        // every live file must carry its bucket id (a table created
        // bucketed always does; defensive against hand-built layouts)
        bucketed.forall(_ => snap.files.forall(
          _.partitionValues.contains(graft.table.Bucketing.BucketCol)))
    if (spjOk) new GraftKeyGroupedScan(table, snap, required, prune, options)
    else new GraftV1Scan(table, snap, required, prune, options)
  }
}

/** The scan: file pruning + parquet read through the proven V1 relation
  * machinery (`V1Scan` is the public bridge Spark's own JDBC source uses).
  * For `readStream` the same scan serves a `MicroBatchStream` whose
  * offsets are commit versions (streaming/GraftTableStream.scala). */
class GraftV1Scan(table: GraftTable, snap: Snapshot, required: StructType,
    prunePred: Option[Column], options: Map[String, String] = Map.empty) extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Log-derived size/row statistics (the numbers Delta reports from its
    * snapshot): with them, Catalyst's join planning can auto-broadcast a
    * small (or well-pruned) graft table — without them every graft scan
    * sizes as `defaultSizeInBytes` and a dimension-table join that should
    * broadcast becomes a 100-TB shuffle. Pruning first: a selective
    * predicate shrinks the estimate to the surviving files. */
  // memoized: Catalyst consults statistics repeatedly during join
  // planning, and pruning is an analyzer round-trip + O(files) fold —
  // snapshot and predicate are fixed per scan instance
  private lazy val stats: (Long, Long) = {
    val files = prunePred match {
      case Some(p) => scala.util.Try(table.prunedFiles(snap, p)).getOrElse(snap.files)
      case None => snap.files
    }
    (files.map(_.size).sum, files.map(_.liveRecords).sum)
  }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(stats._1)
      override def numRows(): java.util.OptionalLong =
        // stats-less foreign adds (numRecords = -1) poison the sum —
        // report "unknown" rather than a wrong row count to the optimizer
        if (snap.files.exists(_.numRecords < 0)) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(stats._2)
    }

  override def toV1TableScan[T <: BaseRelation with TableScan](ctx: SQLContext): T =
    new GraftV1ScanRelation(ctx, table, snap, required, prunePred).asInstanceOf[T]

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    graft.streaming.GraftTableStream.validateSchema(required)
    new graft.streaming.GraftMicroBatchStream(table.path, required,
      snap.metaData.partitionColumns, options)
  }
}

/** Change-data-feed scan: batch reads serve `table.changes()` over the
  * requested version range; `readStream` serves the CDF micro-batch mode
  * (per-commit deltas from `_cdc/` sidecars / added files). */
class GraftCdfScan(table: GraftTable, snap: Snapshot, cdfSchema: StructType,
    options: Map[String, String]) extends V1Scan {

  override def readSchema(): StructType = cdfSchema

  override def toV1TableScan[T <: BaseRelation with TableScan](ctx: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = cdfSchema
      override def buildScan(): RDD[Row] = {
        // Delta's batch CDF contract: startingVersion's own changes are
        // included; endingVersion defaults to the pinned snapshot's head
        val from = options.get("startingversion").map(_.toLong).getOrElse(0L)
        val to = options.get("endingversion").map(_.toLong).getOrElse(snap.version)
        table.changes(from - 1, to)
          .select(cdfSchema.fieldNames.map(col).toIndexedSeq: _*).rdd
      }
    }.asInstanceOf[T]

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new graft.streaming.GraftMicroBatchStream(table.path, cdfSchema,
      snap.metaData.partitionColumns, options + ("readchangefeed" -> "true"))
}

class GraftV1ScanRelation(ctx: SQLContext, table: GraftTable, snap: Snapshot,
    required: StructType, prunePred: Option[Column])
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = required
  // log-derived size (pruned): lets Catalyst auto-broadcast small scans
  // through the V1 bridge too — BaseRelation otherwise defaults to
  // spark.sql.defaultSizeInBytes (effectively "never broadcast").
  // Memoized: planning consults it repeatedly, pruning costs an analyzer
  // round-trip + O(files) fold.
  override lazy val sizeInBytes: Long = {
    val files = prunePred match {
      case Some(p) => scala.util.Try(table.prunedFiles(snap, p)).getOrElse(snap.files)
      case None => snap.files
    }
    files.map(_.size).sum
  }
  override def buildScan(): RDD[Row] = {
    val files = prunePred match {
      case Some(p) => table.prunedFiles(snap, p)
      case None => snap.files
    }
    // `_file` metadata column: which data file holds the row, as a plain
    // absolute path — bound from parquet's _metadata in the scan leaf.
    // `_row_id` (row tracking): the stable id, resolved the same way
    // scanWithRowIds does.
    val wantsFile = required.fieldNames.contains("_file")
    val wantsRowId = required.fieldNames.contains(GraftTable.RowIdCol)
    require(!(wantsFile && wantsRowId),
      "_file and _row_id cannot be combined in one scan")
    val df =
      if (wantsRowId) table.readFilesWithIds(snap, files)
      else if (wantsFile) table.readFilesWithFileCol(snap, files)
      else table.readFiles(snap, files)
    df.select(required.fieldNames.map(col).toIndexedSeq: _*).rdd
  }
}

/** Batch writes fall back to V1 (INSERT INTO appends through the
  * optimistic commit protocol; INSERT OVERWRITE/truncate is the atomic
  * single-commit overwrite — Spark has already validated/cast the query
  * schema); `writeStream` gets a real `StreamingWrite` committing one
  * epoch-identified APPEND per micro-batch. */
class GraftWriteBuilder(table: GraftTable, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, ignored: Boolean): Unit =
        if (overwrite) table.overwrite(data) else table.append(data)
    }
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!overwrite,
        "graft streaming sink supports Append output mode (complete/update rewrite the table each epoch — use foreachBatch + overwrite for that)")
      new GraftStreamingWrite(table, info.schema(), info.queryId())
    }
  }
}

/** Source-filter → pruning-Column translation, shared by the V1 relation
  * and the DSv2 scan. Untranslatable filters simply don't prune (Spark
  * still applies them row-level). */
object GraftFilters {
  def toColumn(filters: Seq[Filter]): Option[Column] = {
    import org.apache.spark.sql.sources._
    def convert(f: Filter): Option[Column] = f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs) if vs.nonEmpty => Some(col(a).isin(vs.toIndexedSeq: _*))
      case And(l, r) => (convert(l), convert(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b)             => a.orElse(b) // one side still prunes
      }
      case _ => None
    }
    filters.flatMap(convert(_)).reduceOption(_ && _)
  }

  /** Exact translation for DELETE: every filter must convert (None if any
    * doesn't), because dropping a conjunct would delete the wrong rows. */
  def toColumnStrict(filters: Seq[Filter]): Option[Column] = {
    import org.apache.spark.sql.sources._
    def convert(f: Filter): Option[Column] = f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
      case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
      case StringContains(a, v)     => Some(col(a).contains(v))
      case AlwaysTrue()             => Some(lit(true))
      case AlwaysFalse()            => Some(lit(false))
      case And(l, r) => for (a <- convert(l); b <- convert(r)) yield a && b
      case Or(l, r)  => for (a <- convert(l); b <- convert(r)) yield a || b
      case Not(c)    => convert(c).map(!_)
      case _ => None
    }
    val converted = filters.map(convert)
    if (filters.nonEmpty && converted.forall(_.isDefined))
      Some(converted.flatten.reduce(_ && _))
    else None
  }
}

/** The staged table handed back from stageCreate/stageReplace: Spark runs
  * the CTAS/RTAS query as a write INTO this object, then calls
  * commitStagedChanges — only that call publishes anything. The data files
  * land in the (eventual) table directory up front, invisible until the
  * single atomic log commit: commit 0 for a staged CREATE, or a
  * REPLACE commit (new MetaData + remove-all + adds) on the existing log
  * for a staged REPLACE. abortStagedChanges deletes the staged files and
  * leaves the previous table byte-identical. */
class GraftStagedTable(spark: SparkSession, catalog: GraftCatalog,
    ident: Identifier, dir: String, declaredSchema: StructType,
    partitionCols: Seq[String], props: Map[String, String],
    replacesExisting: Boolean)
    extends StagedTable with SupportsWrite {

  private val staged = scala.collection.mutable.ArrayBuffer[AddFile]()

  /** The table a staged REPLACE supersedes, as of staging: any commit that
    * lands on it before commitStagedChanges is a typed conflict. */
  private val replaced: Option[(GraftTable, Snapshot)] =
    if (!replacesExisting) None
    else { val t = GraftTable.forPath(spark, dir); Some((t, t.snapshot)) }

  override def name(): String = ident.toString
  override def schema(): StructType = declaredSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // RTAS plans arrive as truncate-then-write; the staged commit IS the
      // truncation, so the flag needs no separate handling
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation = new InsertableRelation {
          override def insert(data: DataFrame, overwrite: Boolean): Unit = {
            Files.createDirectories(Paths.get(dir))
            // the SAME guarded projection every other write path funnels
            // through (GraftTable.conform): a plain cast here would let a
            // CTAS whose aligned cast nulls or wraps values commit
            // silently, breaking the table's write-invariant contract
            // (safe cast + NOT NULL raise). CHECK constraints declared at
            // CREATE time (constraint.* props) gate the staged rows too.
            val aligned = GraftTable.guardedProjection(data, declaredSchema)
            val checks = props.collect {
              case (k, v) if k.startsWith("constraint.") =>
                k.stripPrefix("constraint.") -> v
            }
            val checked = GraftTable.constrained(aligned, checks, dir)
            // bucketed CTAS/RTAS: the staged files land in their hidden
            // __bucket dirs exactly like every post-create write
            val bucketMeta = graft.table.MetaData("", declaredSchema.json, 0L,
              partitionCols, Map.empty, props)
            val (dfB, partsB) =
              graft.table.Bucketing.withBucket(checked, bucketMeta, partitionCols)
            staged.synchronized {
              staged ++= FileOps.writeDataFiles(dfB, dir, partsB)
            }
          }
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    val adds = staged.synchronized(staged.toSeq)
    replaced match {
      case Some((t, s)) =>
        t.commitReplaceTable(s, adds, declaredSchema, partitionCols, props)
      case None =>
        GraftTable.createStaged(spark, dir, declaredSchema, partitionCols, props, adds)
    }
    catalog.registerExternal(ident, dir)
  }

  override def abortStagedChanges(): Unit = {
    val adds = staged.synchronized { val a = staged.toSeq; staged.clear(); a }
    adds.foreach(a => Files.deleteIfExists(Paths.get(dir, a.path)))
  }
}


/** The `bucket(numBuckets, col)` V2 function: `pmod(hash(col), numBuckets)`
  * where hash is Spark's own Murmur3 (seed 42) — EXACTLY the expression
  * the write path materializes (graft.table.Bucketing.idExpr), which is
  * the whole correctness argument for the bucketed storage-partitioned
  * join: the scan's reported transform and the files' physical layout are
  * the same function by construction. */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col): pmod(murmur3_hash(col), numBuckets) — the id " +
      "of the hash bucket col falls in; matches the write-side layout of " +
      "tables created with bucketBy / PARTITIONED BY (bucket(n, col))"

  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.length == 2,
      s"bucket takes (numBuckets INT, value), got ${inputType.simpleString}")
    require(inputType(0).dataType == org.apache.spark.sql.types.IntegerType,
      s"bucket count must be INT, got ${inputType(0).dataType.simpleString}")
    require(graft.table.Bucketing.typeSupported(inputType(1).dataType),
      s"bucket value type ${inputType(1).dataType.simpleString} is not bucketable")
    new GraftBoundBucket(inputType(1).dataType)
  }
}

final class GraftBoundBucket(dt: org.apache.spark.sql.types.DataType)
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(org.apache.spark.sql.types.IntegerType, dt)
  override def resultType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.IntegerType
  override def name(): String = "bucket"
  // one canonical name per value type: SPJ compatibility compares this —
  // two graft tables bucketed on same-typed columns bind to the same name
  override def canonicalName(): String = s"graft.bucket(${dt.catalogString})"
  override def isResultNullable: Boolean = false

  // the SAME catalyst expression the write side runs (hash() = Murmur3
  // seed 42 over the value at ordinal 1 of the (numBuckets, value) row)
  @transient private lazy val hasher =
    new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(
      org.apache.spark.sql.catalyst.expressions.BoundReference(1, dt, nullable = true)))

  override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
    val n = input.getInt(0)
    val h = hasher.eval(input).asInstanceOf[Int]
    ((h % n) + n) % n
  }
}
