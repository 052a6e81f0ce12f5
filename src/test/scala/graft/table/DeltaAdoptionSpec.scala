package graft.table

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** IN-PLACE adoption of a foreign delta-spark table (zero-copy migration):
  * `GraftTable.adoptDelta` commits ownership markers as the log's next
  * version instead of copying 100 TB through `import_delta`. These tests
  * pin (a) adoption unlocks graft DML/maintenance while the CONTINUED log
  * stays replayable by an independent delta-1.0 fold, (b) every refusal
  * gate (protocols graft cannot continue), (c) delta-config translation
  * into the keys graft enforcement reads, and (d) ownership reverts to
  * read-only foreign if a foreign engine writes past the adoption. */
class DeltaAdoptionSpec extends SparkTestBase {
  private val mapper = new ObjectMapper()

  // ---- foreign-log fixture plumbing (DeltaCompatSpec shapes) ----------------

  private def dataFile(tablePath: String, relPath: String,
      df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val stage = tmpDir("adopt-stage-")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val target = Paths.get(tablePath, relPath)
    Files.createDirectories(target.getParent)
    Files.move(Paths.get(part), target, StandardCopyOption.REPLACE_EXISTING)
    (Files.size(target), Files.getLastModifiedTime(target).toMillis)
  }

  private def commit(tablePath: String, v: Long, lines: Seq[String]): Unit = {
    val logDir = Paths.get(tablePath, "_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve(f"$v%020d.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private val idSchema =
    """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""

  private def metaLine(configuration: Map[String, String] = Map.empty,
      schema: String = idSchema): String = {
    val conf = configuration.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    s"""{"metaData":{"id":"aaaa-adopt-1111","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":$conf,"createdTime":1619112344000}}"""
  }

  private def addLine(path: String, size: Long, mtime: Long, rows: Long): String =
    s"""{"add":{"path":"$path","partitionValues":{},"size":$size,"modificationTime":$mtime,"dataChange":true,"stats":"{\\"numRecords\\":$rows,\\"minValues\\":{},\\"maxValues\\":{},\\"nullCount\\":{}}"}}"""

  private def infoLine(ts: Long, op: String): String =
    s"""{"commitInfo":{"timestamp":$ts,"operation":"$op","operationParameters":{},"isBlindAppend":true,"operationMetrics":{}}}"""

  private def df(range: Range) = {
    import spark.implicits._
    range.map(i => (i.toLong, s"row$i")).toDF("id", "s")
  }

  /** A plain 2-commit foreign delta table over `0 until 8`: commit 0 adds
    * two files, commit 1 deletes the high file the delta way. Live rows
    * after the fixture: 0..3. */
  private def foreignTable(configuration: Map[String, String] = Map.empty,
      protocolLine: String =
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      schema: String = idSchema): String = {
    val dir = tmpDir("adopt-foreign-")
    val (s1, m1) = dataFile(dir, "part-00000-lo-c000.snappy.parquet", df(0 until 4))
    val (s2, m2) = dataFile(dir, "part-00001-hi-c000.snappy.parquet", df(4 until 8))
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"), protocolLine,
      metaLine(configuration, schema),
      addLine("part-00000-lo-c000.snappy.parquet", s1, m1, 4L),
      addLine("part-00001-hi-c000.snappy.parquet", s2, m2, 4L)))
    commit(dir, 1, Seq(infoLine(1619112346000L, "DELETE"),
      s"""{"remove":{"path":"part-00001-hi-c000.snappy.parquet","deletionTimestamp":1619112346000,"dataChange":true}}"""))
    dir
  }

  /** Independent delta-1.0 replay (protocol-spec semantics, no graft code
    * in the fold): live relative file paths, last-writer-wins. */
  private def deltaReplayLiveFiles(dir: String): Set[String] = {
    val logDir = Paths.get(dir, "_delta_log")
    val live = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    def decode(p: String): String = new java.net.URI(p).getPath
    val versions = Files.list(logDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong).toSeq.sorted
    versions.foreach { v =>
      Files.readAllLines(logDir.resolve(f"$v%020d.json")).asScala
        .filter(_.nonEmpty).foreach { l =>
          val root = mapper.readTree(l)
          if (root.has("add")) live(decode(root.get("add").get("path").asText())) = true
          if (root.has("remove")) live.remove(decode(root.get("remove").get("path").asText()))
        }
    }
    live.keys.toSet
  }

  private def ids(t: GraftTable): Set[Long] =
    t.toDF.select("id").collect().map(_.getLong(0)).toSet

  // ---------------------------------------------------------------------------

  test("adopt, then graft DML on the foreign files; the continued log stays delta-replayable") {
    val dir = foreignTable()
    // pre-adoption: reads fine, writes refuse with the adoption hint
    val before = GraftTable.forPath(spark, dir)
    assert(ids(before) === Set(0L, 1L, 2L, 3L))
    val refusal = intercept[GraftProtocolException](before.delete(col("id") === 0L))
    assert(refusal.getMessage.contains("adopt_delta"),
      s"the refusal must point at the zero-copy path: ${refusal.getMessage}")

    val t = GraftTable.adoptDelta(spark, dir)
    // the adopting commit: delta-shaped, ownership-marked, metadata-only
    val adoptLines = Files.readAllLines(
      Paths.get(dir, "_delta_log", f"${2L}%020d.json")).asScala
    assert(adoptLines.exists(Actions.hasGraftWriterMarker),
      "the adopting commit must carry the graft ownership marker")
    assert(!adoptLines.exists(_.contains("\"add\"")),
      "adoption is metadata-only — no data file moves")
    assert(ids(t) === Set(0L, 1L, 2L, 3L), "adoption must not change content")

    // graft DML now works against the adopted files
    t.append(df(100 until 103))
    assert(t.delete(col("id") === 1L) === 1L)
    t.merge(df(102 until 105), "t.id = s.id")
      .whenMatchedUpdate(Map("s" -> "s.s"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "s" -> "s.s"))
      .execute()
    assert(ids(t) === Set(0L, 2L, 3L, 100L, 101L, 102L, 103L, 104L))

    // the whole continued log — foreign prefix AND graft continuation —
    // replays under an independent delta-1.0 fold to the same live set
    val replayed = deltaReplayLiveFiles(dir)
    assert(replayed === t.snapshot.files.map(_.path).toSet,
      s"delta replay $replayed must equal graft's live set")
    assert(spark.read.parquet(replayed.map(p => s"$dir/$p").toSeq: _*)
      .select("id").collect().map(_.getLong(0)).toSet ===
      Set(0L, 2L, 3L, 100L, 101L, 102L, 103L, 104L))

    // maintenance unlocks too (both refused pre-adoption)
    t.log.writeCheckpoint(t.latestVersion)
    t.setProperty("vacuum.retentionDurationCheck", "false")
    t.vacuum(retainVersions = 100, retentionMs = 0L)

    // a FRESH instance (new probe) also sees graft ownership
    val fresh = GraftTable.forPath(spark, dir)
    fresh.append(df(200 until 201))
    assert(ids(fresh).contains(200L))
    // time travel below the adoption still serves the foreign history
    assert(fresh.versionAsOf(0).count() === 8L)
    assert(fresh.versionAsOf(1).count() === 4L)
  }

  test("delta table configuration translates to the keys graft enforces") {
    val dir = foreignTable(configuration = Map(
      "delta.appendOnly" -> "true",
      "delta.dataSkippingNumIndexedCols" -> "7",
      "delta.checkpointInterval" -> "25"))
    val t = GraftTable.adoptDelta(spark, dir)
    val props = t.snapshot.metaData.properties
    assert(props.get("appendOnly").contains("true"))
    assert(props.get("dataSkipping.numIndexedCols").contains("7"))
    assert(props.get("delta.checkpointInterval").contains("25"),
      "unknown delta keys ride along untouched")
    assert(!props.contains(Actions.DeltaReadMarker),
      "the foreign-provenance marker must not survive adoption")
    // the translated key ENFORCES: appendOnly refuses the delete
    intercept[Exception](t.delete(col("id") === 0L))
    t.append(df(50 until 51)) // appends stay legal
    assert(ids(t).contains(50L))
  }

  test("refusal gates: protocols and features graft cannot continue") {
    def adoptFails(dir: String, needle: String): Unit = {
      val e = intercept[GraftProtocolException](GraftTable.adoptDelta(spark, dir))
      assert(e.getMessage.contains(needle) &&
        e.getMessage.contains("import_delta"),
        s"expected '$needle' + copy fallback, got: ${e.getMessage}")
    }
    // column mapping in a mode NEITHER name nor id — a resolution rule
    // no reader knows (name continues since round 15, id since round 16):
    // refuses at the READ gate, before adoption can even fold a snapshot
    val eMode = intercept[GraftProtocolException](GraftTable.adoptDelta(spark,
      foreignTable(configuration = Map(
        "delta.columnMapping.mode" -> "hash",
        "delta.columnMapping.maxColumnId" -> "2"))))
    assert(eMode.getMessage.contains("resolution rule"), s"got $eMode")
    // legacy reader 2 / writer 5 declaring mapping WITHOUT a stated mode
    adoptFails(foreignTable(protocolLine =
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""),
      "reader version 2")
    // v7 writer feature graft cannot maintain (rowTracking adopts in the
    // standard spelling since round 16 — dedicated test below)
    adoptFails(foreignTable(protocolLine =
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["icebergCompatV9"]}}"""),
      "icebergCompatV9")
    // v3 reader feature with no continuable semantics refuses at the READ
    // gate (the snapshot fold itself), before adoption can run
    val eReader = intercept[GraftProtocolException](GraftTable.adoptDelta(spark,
      foreignTable(protocolLine =
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["futureReaderFeature"],"writerFeatures":["futureReaderFeature"]}}""")))
    assert(eReader.getMessage.contains("futureReaderFeature"), s"got $eReader")
    // delta-spelled generated columns ADOPT since round 16 (translated
    // into graft's native machinery — dedicated test below); the refusal
    // set narrows to allowExplicitInsert / descending identity steps
    // a graft-owned table has nothing to adopt
    val own = tmpDir("adopt-own-")
    GraftTable.create(spark, own, df(0 until 3))
    val e = intercept[GraftProtocolException](GraftTable.adoptDelta(spark, own))
    assert(e.getMessage.contains("nothing to adopt"))
  }

  test("allowed protocols adopt: writer-7 feature subset, DV-capable reader") {
    val dir = foreignTable(protocolLine =
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors","appendOnly","invariants"]}}""",
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = GraftTable.adoptDelta(spark, dir)
    assert(t.snapshot.metaData.properties.get("deletionVectors.enabled")
      .contains("true"))
    assert(t.snapshot.protocol.minReaderVersion === 3)
    assert(t.snapshot.protocol.readerFeatures.contains("deletionVectors"))
    // merge-on-read DML on the adopted table writes DELTA-format DVs
    // (compat is on), so the continued log keeps its reader guarantee
    assert(t.delete(col("id") === 2L) === 1L)
    assert(ids(t) === Set(0L, 1L, 3L))
    val lastLines = Files.readAllLines(Paths.get(dir, "_delta_log",
      f"${t.latestVersion}%020d.json")).asScala
    assert(lastLines.exists(_.contains("deletionVector")),
      "the adopted DV delete must carry a delta deletionVector descriptor")
  }

  test("a foreign write past the adoption flips the table back to read-only") {
    val dir = foreignTable()
    val t = GraftTable.adoptDelta(spark, dir)
    t.append(df(10 until 12))
    // a foreign engine (no markers) commits the next version directly
    val (s3, m3) = dataFile(dir, "part-00009-foreign-c000.snappy.parquet", df(90 until 92))
    commit(dir, t.latestVersion + 1, Seq(infoLine(1619112399000L, "WRITE"),
      addLine("part-00009-foreign-c000.snappy.parquet", s3, m3, 2L)))
    val fresh = GraftTable.forPath(spark, dir)
    assert(ids(fresh).contains(90L), "the foreign tail still READS")
    val e = intercept[GraftProtocolException](fresh.delete(col("id") === 0L))
    assert(e.getMessage.contains("adopt_delta"),
      "contested ownership must revert to read-only foreign (re-adopt to reclaim)")
    // re-adoption reclaims
    val again = GraftTable.adoptDelta(spark, dir)
    again.append(df(300 until 301))
    assert(ids(again).contains(300L))
  }

  test("a LONG-LIVED adopted handle detects a foreign write too (no stale ownership cache)") {
    val dir = foreignTable()
    val t = GraftTable.adoptDelta(spark, dir)
    t.append(df(10 until 12)) // warm the ownership cache on THIS handle
    assert(ids(t).contains(10L))
    // a foreign engine commits past the adoption while the handle lives
    val (s3, m3) = dataFile(dir, "part-00010-foreign-c000.snappy.parquet", df(95 until 97))
    commit(dir, t.latestVersion + 1, Seq(infoLine(1619112400000L, "WRITE"),
      addLine("part-00010-foreign-c000.snappy.parquet", s3, m3, 2L)))
    // the SAME handle must refuse its next write — a memoized "owned"
    // answer here would interleave graft commits with the contesting
    // engine's, the exact dual-writer state the flip exists to prevent
    val e = intercept[GraftProtocolException](t.append(df(500 until 501)))
    assert(e.getMessage.contains("adopt_delta"),
      s"stale ownership cache: the live handle wrote past a foreign commit ($e)")
  }

  test("adopt a PARTITIONED foreign table with CDF: the feed continues across the ownership boundary") {
    import spark.implicits._
    // foreign partitioned delta table, CDF on: one file per lang, plus a
    // foreign DELETE with a partition-carrying AddCDCFile (round-14 read)
    val dir = tmpDir("adopt-part-cdf-")
    val partSchema =
      """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"lang\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    def ids(r: Range) = r.map(_.toLong).toDF("id")
    val (sE, mE) = dataFile(dir, "lang=en/part-00000-aaa-c000.snappy.parquet", ids(0 until 4))
    val (sF, mF) = dataFile(dir, "lang=fr/part-00001-bbb-c000.snappy.parquet", ids(10 until 13))
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      s"""{"metaData":{"id":"aaaa-adopt-2222","format":{"provider":"parquet","options":{}},"schemaString":"$partSchema","partitionColumns":["lang"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":1619112344000}}""",
      s"""{"add":{"path":"lang=en/part-00000-aaa-c000.snappy.parquet","partitionValues":{"lang":"en"},"size":$sE,"modificationTime":$mE,"dataChange":true}}""",
      s"""{"add":{"path":"lang=fr/part-00001-bbb-c000.snappy.parquet","partitionValues":{"lang":"fr"},"size":$sF,"modificationTime":$mF,"dataChange":true}}"""))
    val (sE2, mE2) = dataFile(dir, "lang=en/part-00002-ccc-c000.snappy.parquet", ids(0 until 3))
    val (sC, _) = dataFile(dir, "_change_data/lang=en/cdc-aaa-c000.snappy.parquet",
      Seq((3L, "delete")).toDF("id", "_change_type"))
    commit(dir, 1, Seq(infoLine(1619112346000L, "DELETE"),
      s"""{"add":{"path":"lang=en/part-00002-ccc-c000.snappy.parquet","partitionValues":{"lang":"en"},"size":$sE2,"modificationTime":$mE2,"dataChange":true}}""",
      s"""{"remove":{"path":"lang=en/part-00000-aaa-c000.snappy.parquet","deletionTimestamp":1619112346000,"dataChange":true,"partitionValues":{"lang":"en"}}}""",
      s"""{"cdc":{"path":"_change_data/lang=en/cdc-aaa-c000.snappy.parquet","partitionValues":{"lang":"en"},"size":$sC,"dataChange":false}}"""))
    // adopt (partitioned + CDF is compat-legal since round 14) and run
    // graft DML — its cdc sidecars land delta-shaped on a partitioned
    // compat table (values on the action, columns omitted from the file)
    val t = GraftTable.adoptDelta(spark, dir)
    t.delete($"id" === 11L) // lang=fr
    val adoptedHead = t.latestVersion
    val cdcLine = Files.readAllLines(
      Paths.get(dir, "_delta_log", f"$adoptedHead%020d.json")).asScala
      .find(_.contains("\"cdc\"")).get
    val cdcNode = mapper.readTree(cdcLine).get("cdc")
    assert(cdcNode.get("partitionValues").get("lang").asText() === "fr",
      s"graft's compat cdc action must carry the partition value: $cdcLine")
    // ONE feed across the boundary: foreign commit 1 + graft DML commit
    val ch = t.changes(0, adoptedHead)
      .filter($"_change_type" === "delete")
      .select("id", "lang", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ch === Set((3L, "en", 1L), (11L, "fr", adoptedHead)),
      s"the change feed must span foreign and graft eras, got $ch")
    assert(t.toDF.count() === 5L) // en 3 + fr 2
  }

  test("modern delta-spark defaults adopt: vacuumProtocolCheck + v2Checkpoint + timestampNtz continue") {
    // current delta-spark stamps exactly this trio on FRESH tables — the
    // round-14 allowlist refused them, routing the most common real
    // tables through the 100-TB copy; each is continuable: graft's vacuum
    // honors protocol gating, classic checkpoints stay legal on a
    // v2Checkpoint table, and NTZ is a native graft type since round 15
    val dir = foreignTable(protocolLine =
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz","v2Checkpoint","vacuumProtocolCheck"],"writerFeatures":["timestampNtz","v2Checkpoint","vacuumProtocolCheck","appendOnly","invariants"]}}""")
    val t = GraftTable.adoptDelta(spark, dir)
    // the continued protocol RETAINS the trio: dropping them would
    // invalidate state existing delta readers already gate on
    val p = t.snapshot.protocol
    for (f <- Seq("timestampNtz", "v2Checkpoint", "vacuumProtocolCheck")) {
      assert(p.readerFeatures.contains(f), s"reader feature $f must continue")
      assert(p.writerFeatures.contains(f), s"writer feature $f must continue")
    }
    assert(p.minReaderVersion === 3 && p.minWriterVersion === 7)
    // DML + maintenance on the adopted table
    assert(t.delete(col("id") === 1L) === 1L)
    t.append(df(70 until 72))
    assert(ids(t) === Set(0L, 2L, 3L, 70L, 71L))
    t.log.writeCheckpoint(t.latestVersion) // classic checkpoint stays legal
    t.setProperty("vacuum.retentionDurationCheck", "false")
    t.vacuum(retainVersions = 100, retentionMs = 0L)
    // independent delta-1.0 replay of the continued log equals graft
    assert(deltaReplayLiveFiles(dir) === t.snapshot.files.map(_.path).toSet)
  }

  test("NAME-mode mapped foreign table adopts: rename + DML continue in delta spelling") {
    import spark.implicits._
    val dir = tmpDir("adopt-mapped-")
    // physical parquet columns col-1/col-2 bound to logical id/s
    val (s1, m1) = dataFile(dir, "part-00000-m-c000.snappy.parquet",
      df(0 until 4).select($"id".as("col-1"), $"s".as("col-2")))
    val mappedSchema = org.apache.spark.sql.types.StructType(Seq(
      field("id", "col-1", 1L, org.apache.spark.sql.types.LongType),
      field("s", "col-2", 2L, org.apache.spark.sql.types.StringType)))
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"bbbb-adopt-2222","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(mappedSchema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"},"createdTime":1619112344000}}""",
      addLine("part-00000-m-c000.snappy.parquet", s1, m1, 4L)))
    val t = GraftTable.adoptDelta(spark, dir)
    assert(t.toDF.columns.toSeq === Seq("id", "s"))
    // RENAME — the schema change adoption existed to keep — then DML
    t.renameColumn("s", "label")
    t.append(df(90 until 92).withColumnRenamed("s", "label"))
    assert(t.toDF.filter($"label" === "row90").count() === 1L)
    assert(ids(t) === Set(0L, 1L, 2L, 3L, 90L, 91L))
    // the rename commit stays delta-shaped: metaData carries the standard
    // mapping spelling (mode + per-field physicalName/id), and the new
    // logical name binds the ORIGINAL physical column
    val metaJson = (t.latestVersion to 1L by -1L).iterator
      .flatMap(v => Files.readAllLines(
        Paths.get(dir, "_delta_log", f"$v%020d.json")).asScala)
      .find(_.contains("\"metaData\"")).get
    val mNode = mapper.readTree(metaJson).get("metaData")
    assert(mNode.get("configuration").get("delta.columnMapping.mode")
      .asText() === "name")
    val emitted = org.apache.spark.sql.types.DataType
      .fromJson(mNode.get("schemaString").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val lbl = emitted.fields.find(_.name == "label").get
    assert(lbl.metadata.getString("delta.columnMapping.physicalName") === "col-2")
    assert(lbl.metadata.getLong("delta.columnMapping.id") === 2L)
    // independent delta-1.0 replay equality over the continued log
    assert(deltaReplayLiveFiles(dir) === t.snapshot.files.map(_.path).toSet)
  }

  private def field(logical: String, physical: String, id: Long,
      dt: org.apache.spark.sql.types.DataType) =
    org.apache.spark.sql.types.StructField(logical, dt, nullable = true,
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .putString("delta.columnMapping.physicalName", physical)
        .putLong("delta.columnMapping.id", id).build())

  test("ID-mode mapped foreign table adopts: writes stamp ids; drop + re-add never resurrects") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir("adopt-idmap-")
    // the FILE binds by field id alone: its column names (x1/x2) match
    // NEITHER the logical names nor the log's physicalNames (col-1/col-2)
    val fileSchema = StructType(Seq(
      StructField("x1", LongType, nullable = true,
        metadata = new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("x2", StringType, nullable = true,
        metadata = new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val (s1, m1) = dataFile(dir, "part-00000-id-c000.snappy.parquet",
      spark.createDataFrame(df(0 until 4).rdd, fileSchema))
    val mappedSchema = StructType(Seq(
      field("id", "col-1", 1L, LongType),
      field("s", "col-2", 2L, StringType)))
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cccc-adopt-3333","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(mappedSchema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":1619112344000}}""",
      addLine("part-00000-id-c000.snappy.parquet", s1, m1, 4L)))
    val t = GraftTable.adoptDelta(spark, dir)
    assert(ids(t) === Set(0L, 1L, 2L, 3L), "id binding must survive adoption")
    // DML: graft-written files must carry the mapping's field ids under
    // the log's physical names — the contract id-resolving readers need
    assert(t.delete($"id" === 1L) === 1L)
    t.append(df(90 until 92))
    def footerIds(rel: String): Map[String, Option[Int]] = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(Paths.get(dir, rel).toString),
        new org.apache.hadoop.conf.Configuration())
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try rd.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName -> Option(f.getId).map(_.intValue)).toMap
      finally rd.close()
    }
    t.snapshot.files.map(_.path).filterNot(_ == "part-00000-id-c000.snappy.parquet")
      .foreach { rel =>
        val f = footerIds(rel)
        assert(f.keySet === Set("col-1", "col-2") &&
            f("col-1").contains(1) && f("col-2").contains(2),
          s"graft-written id-mode files must carry physical names + ids: $f in $rel")
      }
    assert(ids(t) === Set(0L, 2L, 3L, 90L, 91L))
    // DROP + re-ADD: the fresh column takes a FRESH id — under id
    // resolution the dropped column's data can never resurrect
    t.dropColumn("s")
    t.addColumn("s2", StringType)
    val metaJson = (t.latestVersion to 1L by -1L).iterator
      .flatMap(v => Files.readAllLines(
        Paths.get(dir, "_delta_log", f"$v%020d.json")).asScala)
      .find(_.contains("\"metaData\"")).get
    val mNode = mapper.readTree(metaJson).get("metaData")
    assert(mNode.get("configuration").get("delta.columnMapping.mode")
      .asText() === "id")
    val emitted = org.apache.spark.sql.types.DataType
      .fromJson(mNode.get("schemaString").asText()).asInstanceOf[StructType]
    val s2f = emitted.fields.find(_.name == "s2").get
    assert(s2f.metadata.getLong("delta.columnMapping.id") === 3L,
      "re-added column must take a fresh id, never the dropped column's")
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.toDF.filter($"s2".isNotNull).count() === 0L,
      "dropped data must not resurrect into the re-added column")
    // independent delta-1.0 replay equality over the continued log
    assert(deltaReplayLiveFiles(dir) === t2.snapshot.files.map(_.path).toSet)
    // V2 catalog leg: the vectorized scan resolves by field id, and the
    // V2 row writer stamps ids into its files too
    graft.sources.GraftCatalog.register(spark, tmpDir("adopt-idmap-wh-"),
      name = "idadopt")
    spark.sql(s"CREATE TABLE idadopt.default.t USING graft LOCATION '$dir'")
    assert(spark.sql("SELECT SUM(id) FROM idadopt.default.t").head.getLong(0)
      === (0L + 2L + 3L + 90L + 91L))
    val beforeIns = t2.snapshot.files.map(_.path).toSet
    spark.sql("INSERT INTO idadopt.default.t VALUES (200, 'v2')")
    val t3 = GraftTable.forPath(spark, dir)
    val insNew = t3.snapshot.files.map(_.path).filterNot(beforeIns)
    assert(insNew.size === 1)
    val insIds = footerIds(insNew.head)
    assert(insIds("col-1").contains(1),
      s"the V2 writer must stamp field ids on an adopted id-mode table: $insIds")
    assert(spark.sql("SELECT s2 FROM idadopt.default.t WHERE id = 200")
      .head.getString(0) === "v2")
  }

  test("adopted ID-mode table with deletionVectors: merge-on-read DML continues") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // the delta-spark 3.x DEFAULT table: id-mode mapping + DVs enabled.
    // Merge-on-read DML after adoption must tombstone through genuine
    // delta-format descriptors while every read binds by field id.
    val dir = tmpDir("adopt-iddv-")
    val fileSchema = StructType(Seq(
      StructField("x1", LongType, nullable = true,
        metadata = new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("x2", StringType, nullable = true,
        metadata = new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val (s1, m1) = dataFile(dir, "part-00000-iddv-c000.snappy.parquet",
      spark.createDataFrame(df(0 until 6).coalesce(1).rdd, fileSchema))
    val mappedSchema = StructType(Seq(
      field("id", "col-1", 1L, LongType),
      field("s", "col-2", 2L, StringType)))
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","deletionVectors"],"writerFeatures":["columnMapping","deletionVectors","invariants"]}}""",
      s"""{"metaData":{"id":"gggg-adopt-7777","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(mappedSchema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2","delta.enableDeletionVectors":"true"},"createdTime":1619112344000}}""",
      addLine("part-00000-iddv-c000.snappy.parquet", s1, m1, 6L)))
    val t = GraftTable.adoptDelta(spark, dir)
    assert(t.snapshot.metaData.properties.get("deletionVectors.enabled")
      .contains("true"))
    // merge-on-read DELETE: zero files rewritten, a delta-format
    // descriptor on the re-add (readable by DV-capable delta readers)
    assert(t.delete($"id".isin(1L, 4L)) === 2L)
    val delLines = Files.readAllLines(Paths.get(dir, "_delta_log",
      f"${t.latestVersion}%020d.json")).asScala
    val addN = delLines.map(mapper.readTree).find(_.has("add")).map(_.get("add")).get
    assert(addN.get("path").asText() === "part-00000-iddv-c000.snappy.parquet",
      "merge-on-read must re-add the SAME data file")
    assert(addN.has("deletionVector") &&
        addN.get("deletionVector").get("storageType").asText() == "u",
      s"the re-add must carry a delta-format DV descriptor: $addN")
    assert(ids(t) === Set(0L, 2L, 3L, 5L))
    // fresh fold: id resolution + DV tombstones both re-bind
    assert(ids(GraftTable.forPath(spark, dir)) === Set(0L, 2L, 3L, 5L))
    // a MERGE over the tombstoned id-mode table: matched update never
    // resurrects tombstoned rows; the insert allocates through conform
    t.merge(df(3 until 5).withColumn("s", concat($"s", lit("U"))), "t.id = s.id")
      .whenMatchedUpdate(Map("s" -> "s.s"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "s" -> "s.s"))
      .execute()
    val rows = t.toDF.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet === Set(0L, 2L, 3L, 4L, 5L))
    assert(rows(3L) === "row3U", "matched row updated")
    assert(rows(4L) === "row4U", "tombstoned id re-inserted as a fresh row")
    assert(deltaReplayLiveFiles(dir) === t.snapshot.files.map(_.path).toSet)
  }

  test("delta-spelled identity + generated columns adopt: the rules stay maintained") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir("adopt-idgen-")
    // the foreign table: rid GENERATED ALWAYS AS IDENTITY (start 10, step
    // 2, hwm 16 — four rows allocated), s, and g GENERATED ALWAYS AS
    // (upper(s)) — delta's schema-metadata spelling, gated at writer 7
    val seedDf = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(10L, "a", "A"), org.apache.spark.sql.Row(12L, "b", "B"),
      org.apache.spark.sql.Row(14L, "c", "C"), org.apache.spark.sql.Row(16L, "d", "D")),
      StructType(Seq(StructField("rid", LongType), StructField("s", StringType),
        StructField("g", StringType))))
    val (s1, m1) = dataFile(dir, "part-00000-idg-c000.snappy.parquet", seedDf)
    val foreignSchema = StructType(Seq(
      StructField("rid", LongType, nullable = true,
        metadata = new MetadataBuilder()
          .putLong("delta.identity.start", 10L)
          .putLong("delta.identity.step", 2L)
          .putLong("delta.identity.highWaterMark", 16L)
          .putBoolean("delta.identity.allowExplicitInsert", false).build()),
      StructField("s", StringType, nullable = true),
      StructField("g", StringType, nullable = true,
        metadata = new MetadataBuilder()
          .putString("delta.generationExpression", "upper(s)").build())))
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["identityColumns","generatedColumns","invariants"]}}""",
      s"""{"metaData":{"id":"dddd-adopt-4444","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(foreignSchema.json)},"partitionColumns":[],"configuration":{},"createdTime":1619112344000}}""",
      addLine("part-00000-idg-c000.snappy.parquet", s1, m1, 4L)))
    val t = GraftTable.adoptDelta(spark, dir)
    // INSERT: the engine assigns fresh identity values ABOVE the adopted
    // frontier and recomputes the generation expression
    t.append(Seq("x", "y").toDF("s"))
    val rows = t.toDF.orderBy($"rid").collect()
    assert(rows.length === 6)
    val fresh = rows.filter(r => Set("x", "y")(r.getAs[String]("s")))
    assert(fresh.length === 2)
    fresh.foreach { r =>
      assert(r.getAs[Long]("rid") > 16L,
        s"fresh identity values must exceed the adopted frontier: $r")
      assert(r.getAs[String]("g") === r.getAs[String]("s").toUpperCase,
        s"the generation rule must be maintained: $r")
    }
    assert(fresh.map(_.getAs[Long]("rid")).distinct.length === 2)
    // the frontier advanced in table properties (graft's spelling)
    val hwm = t.snapshot.metaData.properties("identity.rid.highWaterMark").toLong
    assert(hwm >= fresh.map(_.getAs[Long]("rid")).max)
    // a writer-supplied identity value refuses (GENERATED ALWAYS)
    intercept[Exception](t.append(Seq((99L, "z", "Z")).toDF("rid", "s", "g")))
    // the continued metaData keeps the delta spellings for provenance
    // (minus the schema-held frontier, which graft moves to properties)
    val metaJson = (t.latestVersion to 1L by -1L).iterator
      .flatMap(v => Files.readAllLines(
        Paths.get(dir, "_delta_log", f"$v%020d.json")).asScala)
      .find(_.contains("\"metaData\"")).get
    val emitted = org.apache.spark.sql.types.DataType
      .fromJson(mapper.readTree(metaJson).get("metaData")
        .get("schemaString").asText()).asInstanceOf[StructType]
    val ridF = emitted.fields.find(_.name == "rid").get
    assert(ridF.metadata.getLong("delta.identity.start") === 10L)
    assert(ridF.metadata.getLong("delta.identity.step") === 2L)
    assert(!ridF.metadata.contains("delta.identity.highWaterMark"),
      "the schema-held frontier must not linger (it would go stale)")
    assert(emitted.fields.find(_.name == "g").get.metadata
      .getString("delta.generationExpression") === "upper(s)")
    // foreign writers are locked out under the graft-private v7 names
    val proto = t.snapshot.protocol
    assert(proto.writerFeatures.contains("graft.identityColumns") &&
      proto.writerFeatures.contains("graft.generatedColumns"), s"$proto")
    // independent delta-1.0 replay equality
    assert(deltaReplayLiveFiles(dir) === t.snapshot.files.map(_.path).toSet)
    // refusals narrow to genuinely unsupported semantics
    def schemaWith(md: MetadataBuilder): String = StructType(Seq(
      StructField("rid", LongType, nullable = true, metadata = md.build()),
      StructField("s", StringType, nullable = true))).json
    val dirA = tmpDir("adopt-idgen-aei-")
    val (sa, ma) = dataFile(dirA, "part-00000-a.snappy.parquet",
      Seq((10L, "a")).toDF("rid", "s"))
    commit(dirA, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
      s"""{"metaData":{"id":"eeee-adopt-5555","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schemaWith(new MetadataBuilder()
        .putLong("delta.identity.start", 10L)
        .putLong("delta.identity.step", 1L)
        .putBoolean("delta.identity.allowExplicitInsert", true)))},"partitionColumns":[],"configuration":{},"createdTime":1619112344000}}""",
      addLine("part-00000-a.snappy.parquet", sa, ma, 1L)))
    val eA = intercept[GraftProtocolException](GraftTable.adoptDelta(spark, dirA))
    assert(eA.getMessage.contains("allowExplicitInsert") ||
      eA.getMessage.contains("explicit inserts"), s"got $eA")
    val dirB = tmpDir("adopt-idgen-neg-")
    val (sb, mb) = dataFile(dirB, "part-00000-b.snappy.parquet",
      Seq((10L, "a")).toDF("rid", "s"))
    commit(dirB, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
      s"""{"metaData":{"id":"ffff-adopt-6666","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schemaWith(new MetadataBuilder()
        .putLong("delta.identity.start", 10L)
        .putLong("delta.identity.step", -1L)))},"partitionColumns":[],"configuration":{},"createdTime":1619112344000}}""",
      addLine("part-00000-b.snappy.parquet", sb, mb, 1L)))
    val eB = intercept[GraftProtocolException](GraftTable.adoptDelta(spark, dirB))
    assert(eB.getMessage.contains("non-positive step"), s"got $eB")
  }

  test("rowTracking foreign table adopts: the hwm folds from the domain, ids continue") {
    import spark.implicits._
    val dir = tmpDir("adopt-rt-")
    val (s1, m1) = dataFile(dir, "part-00000-rt-c000.snappy.parquet", df(0 until 4))
    // the domain's hwm (9) is deliberately HIGHER than what the live file
    // consumed (0..3): a removed file allocated 4..9 — continuing from
    // the live-derived max alone would re-issue those ids
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking","domainMetadata","invariants"]}}""",
      metaLine(configuration = Map("delta.enableRowTracking" -> "true")),
      s"""{"add":{"path":"part-00000-rt-c000.snappy.parquet","partitionValues":{},"size":$s1,"modificationTime":$m1,"dataChange":true,"baseRowId":0,"defaultRowCommitVersion":0,"stats":"{\\"numRecords\\":4,\\"minValues\\":{},\\"maxValues\\":{},\\"nullCount\\":{}}"}}""",
      """{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\"rowIdHighWaterMark\":9}","removed":false}}"""))
    val t = GraftTable.adoptDelta(spark, dir)
    assert(t.snapshot.metaData.properties.get("rowTracking.enabled")
      .contains("true"))
    assert(t.snapshot.metaData.properties(GraftTable.RowIdHwmKey).toLong === 9L,
      "the hwm must fold from the delta.rowTracking domain, not the live max")
    // fresh allocations start ABOVE the domain hwm
    t.append(df(90 until 92))
    val rows = t.scanWithRowIds().collect()
    assert(rows.length === 6)
    val rids = rows.map(_.getAs[Long](GraftTable.RowIdCol))
    assert(rids.distinct.length === 6)
    val freshIds = rows.filter(_.getAs[Long]("id") >= 90L)
      .map(_.getAs[Long](GraftTable.RowIdCol))
    assert(freshIds.forall(_ > 9L),
      s"fresh ids must exceed the adopted hwm: ${freshIds.toSeq}")
    // the append commit carries the STANDARD delta spelling: baseRowId +
    // defaultRowCommitVersion on the add, and the refreshed hwm domain
    val appendLines = Files.readAllLines(
      Paths.get(dir, "_delta_log", f"${t.latestVersion}%020d.json")).asScala
    val addLine2 = appendLines.find(_.contains("\"add\"")).get
    val addN = mapper.readTree(addLine2).get("add")
    assert(addN.get("baseRowId").asLong() > 9L)
    assert(addN.get("defaultRowCommitVersion").asLong() === t.latestVersion)
    val domLine = appendLines.find(_.contains("\"domainMetadata\"")).get
    val domN = mapper.readTree(domLine).get("domainMetadata")
    assert(domN.get("domain").asText() === "delta.rowTracking")
    assert(mapper.readTree(domN.get("configuration").asText())
      .get("rowIdHighWaterMark").asLong() >= freshIds.max)
    // the continued protocol declares the standard features + config keys
    val protoLine = appendLines.find(_.contains("\"protocol\""))
      .orElse(Files.readAllLines(Paths.get(dir, "_delta_log",
        f"${1L}%020d.json")).asScala.find(_.contains("\"protocol\""))).get
    assert(protoLine.contains("\"rowTracking\"") &&
      protoLine.contains("\"domainMetadata\""), protoLine)
    val metaLine2 = Files.readAllLines(Paths.get(dir, "_delta_log",
      f"${1L}%020d.json")).asScala.find(_.contains("\"metaData\"")).get
    assert(metaLine2.contains("\"delta.enableRowTracking\":\"true\""))
    assert(metaLine2.contains(
      "\"delta.rowTracking.materializedRowIdColumnName\":\"_row_id\""))
    // independent replay equality over the continued log
    assert(deltaReplayLiveFiles(dir) === t.snapshot.files.map(_.path).toSet)
    // a foreign materialized-id column name graft cannot bind refuses
    val dir2 = tmpDir("adopt-rt-mat-")
    val (s2, m2) = dataFile(dir2, "part-00000-rtm-c000.snappy.parquet", df(0 until 2))
    commit(dir2, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking","domainMetadata"]}}""",
      metaLine(configuration = Map("delta.enableRowTracking" -> "true",
        "delta.rowTracking.materializedRowIdColumnName" -> "_row-id-col-abc")),
      addLine("part-00000-rtm-c000.snappy.parquet", s2, m2, 2L)))
    val eMat = intercept[GraftProtocolException](GraftTable.adoptDelta(spark, dir2))
    assert(eMat.getMessage.contains("materializes row ids"), s"got $eMat")
  }

  test("rowTracking hwm folds from the CHECKPOINT when the JSON tail never mentions the domain") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // delta's metadata cleanup can leave the checkpoint as the ONLY
    // carrier of the rowTracking domain; a live-derived fallback alone
    // could re-issue ids a REMOVED file had allocated
    val dir = tmpDir("adopt-rt-cp-")
    val (s1, m1) = dataFile(dir, "part-00000-rtc-c000.snappy.parquet", df(0 until 4))
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking","domainMetadata","invariants"]}}""",
      metaLine(configuration = Map("delta.enableRowTracking" -> "true")),
      s"""{"add":{"path":"part-00000-rtc-c000.snappy.parquet","partitionValues":{},"size":$s1,"modificationTime":$m1,"dataChange":true,"baseRowId":0,"stats":"{\\"numRecords\\":4,\\"minValues\\":{},\\"maxValues\\":{},\\"nullCount\\":{}}"}}"""))
    // classic checkpoint at v0: protocol + metaData + add + the domain
    val cpSchema = StructType(Seq(
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
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("baseRowId", LongType)))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
    val plainSchema = idSchema.replace("\\\"", "\"")
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(Row("rtcp-adopt-1", Row("parquet"), plainSchema,
      Seq.empty[String], Map("delta.enableRowTracking" -> "true"),
      1619112344000L), null, null, null))
    rows.add(Row(null, Row(1, 7,
      Seq("rowTracking", "domainMetadata", "invariants")), null, null))
    rows.add(Row(null, null, Row("part-00000-rtc-c000.snappy.parquet",
      Map.empty[String, String], s1, m1, true, 0L), null))
    rows.add(Row(null, null, null,
      Row("delta.rowTracking", """{"rowIdHighWaterMark":9}""", false)))
    val stage = tmpDir("adopt-rt-cp-stage-")
    spark.createDataFrame(rows, cpSchema)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val cpPart = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(cpPart), Paths.get(dir, "_delta_log",
      f"${0L}%020d.checkpoint.parquet"))
    Files.write(Paths.get(dir, "_delta_log", "_last_checkpoint"),
      """{"version":0}""".getBytes("UTF-8"))
    val t = GraftTable.adoptDelta(spark, dir)
    assert(t.snapshot.metaData.properties(GraftTable.RowIdHwmKey).toLong === 9L,
      "the hwm must fold from the checkpoint's domain row (live max is 3)")
    t.append(df(70 until 72))
    val fresh = t.scanWithRowIds()
      .filter(col("id") >= 70L).collect()
      .map(_.getAs[Long](GraftTable.RowIdCol))
    assert(fresh.forall(_ > 9L), s"fresh ids must clear the checkpoint hwm: ${fresh.toSeq}")
  }

  test("liquid-clustered foreign table adopts: the clustering domain folds onto clustering.columns") {
    val dir = tmpDir("adopt-liquid-")
    val (s1, m1) = dataFile(dir, "part-00000-lc-c000.snappy.parquet", df(0 until 4))
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["clustering","domainMetadata","invariants"]}}""",
      metaLine(),
      addLine("part-00000-lc-c000.snappy.parquet", s1, m1, 4L),
      """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"id\"]]}","removed":false}}"""))
    val t = GraftTable.adoptDelta(spark, dir)
    assert(t.snapshot.metaData.properties.get("clustering.columns")
      .contains("id"),
      "the foreign clustering domain must fold onto graft's clustering")
    // graft's own incremental clustering maintains the layout from here
    t.append(df(50 until 54))
    t.optimize()
    assert(ids(t) === (0 until 4).map(_.toLong).toSet ++ (50 until 54).map(_.toLong))
    assert(deltaReplayLiveFiles(dir) === t.snapshot.files.map(_.path).toSet)
    // a clustering domain naming an unknown column DROPS (layout advice,
    // never data) instead of refusing the whole adoption
    val dir2 = tmpDir("adopt-liquid-unk-")
    val (s2, m2) = dataFile(dir2, "part-00000-lcu-c000.snappy.parquet", df(0 until 2))
    commit(dir2, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["clustering","domainMetadata"]}}""",
      metaLine(),
      addLine("part-00000-lcu-c000.snappy.parquet", s2, m2, 2L),
      """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"nested\",\"col\"]]}","removed":false}}"""))
    val t2 = GraftTable.adoptDelta(spark, dir2)
    assert(!t2.snapshot.metaData.properties.contains("clustering.columns"))
  }

  test("ICT foreign table adopts: the authoritative clock continues monotone") {
    import spark.implicits._
    val dir = tmpDir("adopt-ict-")
    val (s1, m1) = dataFile(dir, "part-00000-ict-c000.snappy.parquet", df(0 until 3))
    // the foreign inCommitTimestamp deliberately diverges from (and leads)
    // the legacy timestamp field — the spec makes ICT authoritative, and a
    // continuation keyed off the legacy field would emit a NON-monotone
    // authoritative clock
    val foreignIct = System.currentTimeMillis() + 3600L * 1000
    commit(dir, 0, Seq(
      s"""{"commitInfo":{"timestamp":1619112345000,"inCommitTimestamp":$foreignIct,"operation":"WRITE","operationParameters":{},"operationMetrics":{}}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["inCommitTimestamp","invariants"]}}""",
      metaLine(configuration = Map(
        "delta.enableInCommitTimestamps" -> "true",
        "delta.inCommitTimestampEnablementVersion" -> "0",
        "delta.inCommitTimestampEnablementTimestamp" -> foreignIct.toString)),
      addLine("part-00000-ict-c000.snappy.parquet", s1, m1, 3L)))
    val t = GraftTable.adoptDelta(spark, dir)
    t.append(df(50 until 52))
    // every continued commit carries the ICT field, strictly above the
    // foreign clock (never reset to wall time behind it)
    (1L to t.latestVersion).foreach { v =>
      val ci = Files.readAllLines(Paths.get(dir, "_delta_log",
        f"$v%020d.json")).asScala.map(mapper.readTree)
        .find(_.has("commitInfo")).map(_.get("commitInfo")).get
      assert(ci.has("inCommitTimestamp"), s"v$v must carry the ICT field")
      assert(ci.get("inCommitTimestamp").asLong() > foreignIct,
        s"the continued clock must stay monotone past the foreign ICT at v$v")
    }
    // history() serves the authoritative clock for the FOREIGN commit too
    val h0 = t.history().filter(col("version") === 0L)
      .select("timestamp").head.getTimestamp(0).getTime
    assert(h0 === foreignIct)
    assert(deltaReplayLiveFiles(dir) === t.snapshot.files.map(_.path).toSet)
  }

  test("CHECKPOINT-ONLY v2 foreign log adopts: zero JSON commits, the v2 manifest is the seed") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the delta-3.x metadata-cleanup shape: every JSON commit deleted,
    // a v2 UUID manifest + _sidecars/ is the ONLY replay seed — exactly
    // what a long-lived production table looks like when adopted
    val dir = tmpDir("adopt-v2cp-")
    val (s1, m1) = dataFile(dir, "part-00000-v2-c000.snappy.parquet", df(0 until 4))
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType, true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    val sidecarSchema = StructType(Seq(StructField("add", addType)))
    val stage = tmpDir("adopt-v2cp-stage-")
    spark.createDataFrame(java.util.Arrays.asList(
      Row(Row("part-00000-v2-c000.snappy.parquet", Map.empty[String, String], s1, m1, false))),
      sidecarSchema).coalesce(1).write.mode("overwrite").parquet(stage)
    val scPart = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(dir, "_delta_log", "_sidecars"))
    Files.move(Paths.get(scPart),
      Paths.get(dir, "_delta_log", "_sidecars", "sc-v2a.parquet"))
    val manifestSchema = StructType(Seq(
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
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType))))))
    val plainSchema = idSchema.replace("\\\"", "\"")
    // one ACTION per row, as real delta checkpoints lay out
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(
      Row("v2cp-adopt-1", Row("parquet"), plainSchema, Seq.empty[String],
        Map.empty[String, String], 1619112344000L),
      null, null, null))
    rows.add(Row(null,
      Row(3, 7, Seq("v2Checkpoint", "vacuumProtocolCheck"),
        Seq("v2Checkpoint", "vacuumProtocolCheck")), null, null))
    rows.add(Row(null, null, Row(3L), null))
    rows.add(Row(null, null, null, Row("sc-v2a.parquet", 1024L)))
    val stage2 = tmpDir("adopt-v2cp-man-")
    spark.createDataFrame(rows, manifestSchema)
      .coalesce(1).write.mode("overwrite").parquet(stage2)
    val manPart = Files.list(Paths.get(stage2)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(manPart), Paths.get(dir, "_delta_log",
      "00000000000000000003.checkpoint.9a7b55ae-0001.parquet"))
    Files.write(Paths.get(dir, "_delta_log", "_last_checkpoint"),
      """{"version":3}""".getBytes("UTF-8"))
    // zero JSON commits exist — reads fold from the manifest alone
    assert(ids(GraftTable.forPath(spark, dir)) === Set(0L, 1L, 2L, 3L))
    // adoption continues the log at v4 and unlocks DML
    val t = GraftTable.adoptDelta(spark, dir)
    assert(t.latestVersion === 4L, "adoption commits the checkpoint version + 1")
    val p = t.snapshot.protocol
    assert(p.readerFeatures.contains("v2Checkpoint") &&
      p.writerFeatures.contains("vacuumProtocolCheck"),
      s"the continued protocol must retain the adopted features: $p")
    assert(t.delete(col("id") === 1L) === 1L)
    t.append(df(80 until 82))
    assert(ids(t) === Set(0L, 2L, 3L, 80L, 81L))
    // independent fold: v2 sidecar adds seeded, then the graft-authored
    // delta-shaped JSON tail replayed last-writer-wins
    val live = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    spark.read.parquet(Paths.get(dir, "_delta_log", "_sidecars").toString)
      .select("add.path").collect()
      .foreach(r => if (!r.isNullAt(0)) live(r.getString(0)) = true)
    Files.list(Paths.get(dir, "_delta_log")).toArray.map(_.toString)
      .filter(_.matches(".*\\d{20}\\.json$")).sorted
      .foreach { f =>
        Files.readAllLines(Paths.get(f)).forEach { l =>
          if (l.nonEmpty) {
            val n = mapper.readTree(l)
            if (n.has("add"))
              live(new java.net.URI(n.get("add").get("path").asText()).getPath) = true
            if (n.has("remove"))
              live.remove(new java.net.URI(n.get("remove").get("path").asText()).getPath)
          }
        }
      }
    assert(live.keys.toSet === t.snapshot.files.map(_.path).toSet,
      "checkpoint-seed + continued-tail replay must equal graft's live set")
  }

  test("type-widened foreign table adopts: typeChanges history continues, narrow files upcast") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir("adopt-widen-")
    // the foreign table's only file is INT32-typed for `id`; the current
    // schema says LONG with the delta.typeChanges record of the widen —
    // exactly the post-ALTER state a real type-widened delta table holds
    val narrow = (0 until 4).map(i => (i, i + 10, s"row$i")).toDF("id", "v", "s")
    val (s1, m1) = dataFile(dir, "part-00000-tw-c000.snappy.parquet", narrow)
    val widenedSchema = StructType(Seq(
      StructField("id", LongType, nullable = true,
        metadata = new MetadataBuilder().putMetadataArray("delta.typeChanges",
          Array(new MetadataBuilder().putString("fromType", "integer")
            .putString("toType", "long").build())).build()),
      StructField("v", IntegerType, nullable = true),
      StructField("s", StringType, nullable = true)))
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening","invariants"]}}""",
      s"""{"metaData":{"id":"aaaa-widen-1","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(widenedSchema.json)},"partitionColumns":[],"configuration":{},"createdTime":1619112344000}}""",
      addLine("part-00000-tw-c000.snappy.parquet", s1, m1, 4L)))
    val t = GraftTable.adoptDelta(spark, dir)
    // the narrow-typed foreign file reads through the wide schema
    assert(t.toDF.schema("id").dataType === LongType)
    assert(t.toDF.select(sum($"id")).head().getLong(0) === 6L)
    // the history survived the adoption fold
    val idField = t.snapshot.schema.fields.find(_.name == "id").get
    assert(idField.metadata.contains("delta.typeChanges"))
    // continued writes: a wide-era append and a FURTHER graft-initiated
    // widen both land in delta shape with the feature still declared
    t.append(Seq((10L * Int.MaxValue, 99, "wide")).toDF("id", "v", "s"))
    t.alterColumnType("v", LongType)
    val widenV = t.latestVersion
    val lines = Files.readAllLines(
      Paths.get(dir, "_delta_log", f"$widenV%020d.json")).asScala
    val protoN = lines.map(mapper.readTree).find(_.has("protocol"))
      .map(_.get("protocol")).get
    assert(protoN.get("readerFeatures").toString.contains("typeWidening"))
    val metaN = lines.map(mapper.readTree).find(_.has("metaData"))
      .map(_.get("metaData")).get
    val vField = DataType.fromJson(metaN.get("schemaString").asText())
      .asInstanceOf[StructType].fields.find(_.name == "v").get
    assert(vField.metadata.getMetadataArray("delta.typeChanges")
      .head.getString("toType") === "long")
    assert(t.toDF.select(max($"id")).head().getLong(0) === 10L * Int.MaxValue)
    assert(deltaReplayLiveFiles(dir) === t.snapshot.files.map(_.path).toSet)
    // the PREVIEW spelling adopts and continues verbatim (readers gating
    // on that name know it; no duplicate stable-name emission)
    val dir2 = tmpDir("adopt-widen-prev-")
    val (s2, m2) = dataFile(dir2, "part-00000-twp-c000.snappy.parquet",
      (0 until 3).map(i => (i, s"r$i")).toDF("id", "s"))
    val prevSchema = StructType(Seq(
      StructField("id", LongType, nullable = true,
        metadata = new MetadataBuilder().putMetadataArray("delta.typeChanges",
          Array(new MetadataBuilder().putString("fromType", "integer")
            .putString("toType", "long").build())).build()),
      StructField("s", StringType, nullable = true)))
    commit(dir2, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening-preview"],"writerFeatures":["typeWidening-preview","invariants"]}}""",
      s"""{"metaData":{"id":"aaaa-widen-2","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(prevSchema.json)},"partitionColumns":[],"configuration":{},"createdTime":1619112344000}}""",
      addLine("part-00000-twp-c000.snappy.parquet", s2, m2, 3L)))
    val t2 = GraftTable.adoptDelta(spark, dir2)
    t2.setProperty("some.key", "v")
    // the newest protocol line is the ADOPTING commit's (plain property
    // commits re-state no protocol)
    val proto2 = (t2.latestVersion to 1L by -1L).iterator
      .flatMap(v => Files.readAllLines(
        Paths.get(dir2, "_delta_log", f"$v%020d.json")).asScala)
      .map(mapper.readTree).find(_.has("protocol")).map(_.get("protocol")).get
    val rf = proto2.get("readerFeatures").toString
    assert(rf.contains("typeWidening-preview"))
    assert(!rf.contains("\"typeWidening\""),
      s"the stable name must not duplicate the continued preview spelling: $rf")
  }

  test("foreign table with allowColumnDefaults adopts: INSERTs omitting the column receive the default") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("adopt-defaults-")
    val (s1, m1) = dataFile(dir, "part-00000-def-c000.snappy.parquet", df(0 until 4))
    // delta spells column defaults in Spark's own CURRENT_DEFAULT /
    // EXISTS_DEFAULT field metadata — the exact keys graft's SET DEFAULT
    // machinery maintains, so the schema adopts verbatim
    val defSchema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("s", StringType, nullable = true,
        metadata = new MetadataBuilder()
          .putString("CURRENT_DEFAULT", "'fresh'")
          .putString("EXISTS_DEFAULT", "'orig'").build())))
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["allowColumnDefaults","invariants"]}}""",
      s"""{"metaData":{"id":"aaaa-defs-1","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(defSchema.json)},"partitionColumns":[],"configuration":{},"createdTime":1619112344000}}""",
      addLine("part-00000-def-c000.snappy.parquet", s1, m1, 4L)))
    val t = GraftTable.adoptDelta(spark, dir)
    val sField = t.snapshot.schema.fields.find(_.name == "s").get
    assert(sField.metadata.getString("CURRENT_DEFAULT") === "'fresh'")
    // the adopting commit re-declares the feature (the continued protocol
    // keeps foreign default-blind writers locked out)
    val adoptProto = Files.readAllLines(Paths.get(dir, "_delta_log",
      f"${t.latestVersion}%020d.json")).asScala
      .map(mapper.readTree).find(_.has("protocol")).map(_.get("protocol")).get
    assert(adoptProto.get("writerFeatures").toString.contains("allowColumnDefaults"))
    // INSERT omitting the defaulted column receives it (Spark's analyzer
    // fills CURRENT_DEFAULT from the adopted schema metadata)
    graft.sources.GraftCatalog.register(spark, tmpDir("adopt-def-wh-"), name = "adfc")
    spark.sql(s"CREATE TABLE adfc.default.d USING graft LOCATION '$dir'")
    spark.sql("INSERT INTO adfc.default.d (id) VALUES (100)")
    val got = spark.sql("SELECT s FROM adfc.default.d WHERE id = 100")
      .head().getString(0)
    assert(got === "fresh", s"the adopted default must fill the omitted column, got $got")
    // graft's native SET DEFAULT keeps maintaining the same metadata
    t.setColumnDefault("s", Some("'newer'"))
    spark.sql("INSERT INTO adfc.default.d (id) VALUES (101)")
    assert(spark.sql("SELECT s FROM adfc.default.d WHERE id = 101")
      .head().getString(0) === "newer")
    assert(deltaReplayLiveFiles(dir) === GraftTable.forPath(spark, dir)
      .snapshot.files.map(_.path).toSet)
  }

  test("allowlist audit: known-unsupported delta features refuse BY NAME with the import_delta fallback") {
    // table-driven over the delta feature registry's known-unsupported
    // tail — the allowlist's completeness is a test, not a hope: any
    // feature graft cannot maintain must refuse naming ITSELF and the
    // copy fallback, never a generic error
    val unsupportedWriter = Seq(
      "icebergCompatV1", "icebergCompatV2", // graft cannot maintain the Iceberg mirror
      "catalogOwned-preview",               // commits coordinated through a catalog service
      "coordinatedCommits-preview",         // same, older spelling
      "redirectReaderWriter-preview",       // table redirection protocol
      "collations-preview")                 // collation-aware comparators graft lacks
    unsupportedWriter.foreach { f =>
      val dir = foreignTable(protocolLine =
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["$f","invariants"]}}""")
      val e = intercept[GraftProtocolException](GraftTable.adoptDelta(spark, dir))
      assert(e.getMessage.contains(f),
        s"the refusal must name the feature $f: ${e.getMessage}")
      assert(e.getMessage.contains("import_delta"),
        s"the refusal must point at the copy fallback: ${e.getMessage}")
    }
    // reader-side spellings refuse at the READ gate (before adoption can
    // fold a snapshot), still naming the feature. checkpointProtection is
    // registered writer-side in the delta spec — a log that (wrongly)
    // lists it reader-side keeps refusing, like any unknown reader gate.
    Seq("collations-preview", "checkpointProtection").foreach { f =>
      val dir = foreignTable(protocolLine =
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["$f"],"writerFeatures":["$f"]}}""")
      val e = intercept[GraftProtocolException](GraftTable.adoptDelta(spark, dir))
      assert(e.getMessage.contains(f),
        s"the reader gate must name the feature $f: ${e.getMessage}")
    }
  }

  test("checkpointProtection adopts: cleanup clamps below the protected version, then unblocks") {
    import spark.implicits._
    // a feature-drop workflow pinned the protected range up to version 15
    val dir = foreignTable(
      configuration =
        Map("delta.requireCheckpointProtectionBeforeVersion" -> "15"),
      protocolLine =
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["checkpointProtection","invariants"]}}""")
    val t = GraftTable.adoptDelta(spark, dir)
    // the continued protocol keeps the feature declared — WRITER-side
    // only (the spec registers it there; a reader-side spelling would
    // make real delta readers refuse a table they can read)
    val proto = Files.readAllLines(Paths.get(dir, "_delta_log",
      f"${t.latestVersion}%020d.json")).asScala
      .map(mapper.readTree).find(_.has("protocol")).map(_.get("protocol")).get
    assert(proto.get("writerFeatures").toString.contains("checkpointProtection"))
    assert(proto.get("readerFeatures") == null ||
      !proto.get("readerFeatures").toString.contains("checkpointProtection"))
    // grow past a checkpoint BELOW the protected version (interval 10)
    (0 until 10).foreach(i => t.append(Seq((100L + i, s"g$i")).toDF("id", "s")))
    val tt = GraftTable.forPath(spark, dir)
    assert(tt.latestVersion >= 10 && tt.latestVersion < 15,
      s"fixture must sit between the checkpoint and the protected version, at ${tt.latestVersion}")
    // newest in-retention checkpoint (10) < protected version (15): no
    // legal truncation exists — cleanup must no-op, protected history
    // fully readable
    assert(tt.cleanupExpiredLogs(retentionMs = 0) == 0,
      "cleanup must not truncate below the protected version")
    assert(tt.log.earliestVersion == 0)
    assert(tt.versionAsOf(0).count() == 8)
    // once the table's own checkpoints pass the protected version the
    // truncation unblocks and removes the whole protected range atomically
    (0 until 10).foreach(i => tt.append(Seq((200L + i, s"h$i")).toDF("id", "s")))
    assert(tt.cleanupExpiredLogs(retentionMs = 0) > 0,
      "a boundary at or above the protected version must clean up")
    assert(tt.log.earliestVersion >= 15)
    assert(GraftTable.forPath(spark, dir).toDF.count() === 4 + 20)
  }

  test("delta 4.x kitchen sink adopts: id mapping + ICT + widening + defaults + checkpointProtection + rowTracking + DVs in ONE table") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // every round-15..17 interop leg ACTIVE AT ONCE — the adoption test
    // that matters, because real delta-4.x tables carry these together
    // and the features interact (stats keys are physical under mapping,
    // the widen era binds by field id, defaults ride the mapped schema,
    // ICT orders every continued commit, the rowTracking hwm must outlive
    // the DV tombstones)
    val dir = tmpDir("adopt-sink-")
    // the FILE: INT32-typed id (the pre-widen era) + string s, bound by
    // FIELD ID alone (names x1/x2 match nothing in the log)
    val fileSchema = StructType(Seq(
      StructField("x1", IntegerType, nullable = true,
        metadata = new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("x2", StringType, nullable = true,
        metadata = new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val prevFieldId = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val (s1, m1) =
      try dataFile(dir, "part-00000-sink-c000.snappy.parquet",
        spark.createDataFrame(
          df(0 until 4).select(col("id").cast("int"), col("s")).rdd, fileSchema))
      finally prevFieldId match {
        case Some(v) => spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
        case None => spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
      }
    val sinkSchema = StructType(Seq(
      StructField("id", LongType, nullable = true,
        metadata = new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-1")
          .putLong("delta.columnMapping.id", 1L)
          .putMetadataArray("delta.typeChanges", Array(
            new MetadataBuilder().putString("fromType", "integer")
              .putString("toType", "long").build())).build()),
      StructField("s", StringType, nullable = true,
        metadata = new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-2")
          .putLong("delta.columnMapping.id", 2L)
          .putString("CURRENT_DEFAULT", "'fresh'")
          .putString("EXISTS_DEFAULT", "'orig'").build())))
    val foreignIct = System.currentTimeMillis() + 3600L * 1000
    commit(dir, 0, Seq(
      // commitInfo FIRST — the ICT spec's ordering, which graft must keep
      s"""{"commitInfo":{"timestamp":1619112345000,"inCommitTimestamp":$foreignIct,"operation":"WRITE","operationParameters":{},"operationMetrics":{}}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","typeWidening","deletionVectors"],"writerFeatures":["columnMapping","typeWidening","deletionVectors","allowColumnDefaults","checkpointProtection","rowTracking","domainMetadata","inCommitTimestamp","invariants"]}}""",
      s"""{"metaData":{"id":"dddd-sink-4444","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(sinkSchema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2","delta.enableInCommitTimestamps":"true","delta.inCommitTimestampEnablementVersion":"0","delta.inCommitTimestampEnablementTimestamp":"$foreignIct","delta.requireCheckpointProtectionBeforeVersion":"1","delta.enableRowTracking":"true","delta.enableDeletionVectors":"true"},"createdTime":1619112344000}}""",
      s"""{"add":{"path":"part-00000-sink-c000.snappy.parquet","partitionValues":{},"size":$s1,"modificationTime":$m1,"dataChange":true,"baseRowId":0,"defaultRowCommitVersion":0,"stats":"{\\"numRecords\\":4,\\"minValues\\":{},\\"maxValues\\":{},\\"nullCount\\":{}}"}}""",
      """{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\"rowIdHighWaterMark\":3}","removed":false}}"""))
    val t = GraftTable.adoptDelta(spark, dir)
    // int32 era upcasts under field-id resolution into the widened schema
    assert(ids(t) === Set(0L, 1L, 2L, 3L))
    assert(t.snapshot.schema("id").dataType === LongType)
    assert(t.snapshot.metaData.properties(GraftTable.RowIdHwmKey).toLong === 3L)
    // the continued protocol keeps EVERY feature, checkpointProtection
    // writer-side only
    val adoptProto = Files.readAllLines(Paths.get(dir, "_delta_log",
      f"${t.latestVersion}%020d.json")).asScala
      .map(mapper.readTree).find(_.has("protocol")).map(_.get("protocol")).get
    val wf = adoptProto.get("writerFeatures").toString
    Seq("columnMapping", "typeWidening", "allowColumnDefaults",
        "checkpointProtection", "rowTracking", "domainMetadata",
        "inCommitTimestamp", "deletionVectors").foreach(f =>
      assert(wf.contains(f), s"continued protocol must keep $f: $wf"))
    assert(!adoptProto.get("readerFeatures").toString.contains("checkpointProtection"))
    // merge-on-read DELETE through the adopted combo, then an append
    assert(t.delete($"id" === 1L) === 1L)
    t.append(df(90 until 92))
    val t2 = GraftTable.forPath(spark, dir)
    assert(ids(t2) === Set(0L, 2L, 3L, 90L, 91L))
    // row ids: distinct, fresh ones above the adopted hwm
    val rids = t2.scanWithRowIds().collect()
      .map(_.getAs[Long](GraftTable.RowIdCol))
    assert(rids.distinct.length === rids.length)
    // every continued commit LEADS with a commitInfo whose ICT stays
    // strictly monotone past the foreign clock
    var prevIct = foreignIct
    (1L to t2.latestVersion).foreach { v =>
      val first = Files.readAllLines(Paths.get(dir, "_delta_log",
        f"$v%020d.json")).asScala.head
      val node = mapper.readTree(first)
      assert(node.has("commitInfo"), s"v$v must lead with commitInfo (ICT)")
      val ict = node.get("commitInfo").get("inCommitTimestamp").asLong()
      assert(ict > prevIct, s"ICT must stay monotone at v$v")
      prevIct = ict
    }
    // SQL INSERT omitting the defaulted column receives the adopted default
    graft.sources.GraftCatalog.register(spark, tmpDir("adopt-sink-wh-"),
      name = "sinkc")
    spark.sql(s"CREATE TABLE sinkc.default.t USING graft LOCATION '$dir'")
    spark.sql("INSERT INTO sinkc.default.t (id) VALUES (200)")
    assert(spark.sql("SELECT s FROM sinkc.default.t WHERE id = 200")
      .head.getString(0) === "fresh")
    // metadata cleanup honors the protection clamp (boundary would sit
    // below requireCheckpointProtectionBeforeVersion=1 only if a v0
    // checkpoint existed; either way nothing below the protected version
    // may vanish)
    GraftTable.forPath(spark, dir).cleanupExpiredLogs(retentionMs = 0)
    assert(Files.exists(Paths.get(dir, "_delta_log", f"${0L}%020d.json")),
      "the protected foreign commit must survive cleanup")
    // independent delta replay equality over the whole continued log
    assert(deltaReplayLiveFiles(dir) ===
      GraftTable.forPath(spark, dir).snapshot.files.map(_.path).toSet)
  }

  test("MAPPED clustering domain folds to LOGICAL names; graft's emission round-trips") {
    import org.apache.spark.sql.types._
    // delta-spark spells the clustering domain in PHYSICAL names under
    // column mapping — the fold must translate back to logical so graft's
    // maintenance (and the physical re-emission) keys the same columns
    val dir = tmpDir("adopt-clu-map-")
    val phys = Map("id" -> "pc_one", "s" -> "pc_two")
    val mappedSchema = StructType(Seq(
      StructField("id", LongType, nullable = true,
        metadata = new MetadataBuilder()
          .putLong("delta.columnMapping.id", 1L)
          .putString("delta.columnMapping.physicalName", phys("id")).build()),
      StructField("s", StringType, nullable = true,
        metadata = new MetadataBuilder()
          .putLong("delta.columnMapping.id", 2L)
          .putString("delta.columnMapping.physicalName", phys("s")).build())))
    // the data file spells the physical names
    val physDf = df(0 until 4).toDF(phys("id"), phys("s"))
    val (s1, m1) = dataFile(dir, "part-00000-clum-c000.snappy.parquet", physDf)
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"),
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":7,"writerFeatures":["columnMapping","clustering","domainMetadata","invariants"]}}""",
      s"""{"metaData":{"id":"aaaa-clum-1","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(mappedSchema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"},"createdTime":1619112344000}}""",
      addLine("part-00000-clum-c000.snappy.parquet", s1, m1, 4L),
      s"""{"domainMetadata":{"domain":"delta.clustering","configuration":"{\\"clusteringColumns\\":[[\\"${phys("id")}\\"]]}","removed":false}}"""))
    val t = GraftTable.adoptDelta(spark, dir)
    assert(t.snapshot.metaData.properties.get("clustering.columns")
      .contains("id"),
      "the physical-spelled domain must fold to the LOGICAL column name")
    // graft's own emission spells physical again: the write-side twin
    t.setProperty("some.key", "v")
    val domN = Files.readAllLines(Paths.get(dir, "_delta_log",
      f"${t.latestVersion}%020d.json")).asScala
      .map(mapper.readTree)
      .find(n => n.has("domainMetadata") &&
        n.get("domainMetadata").get("domain").asText() == "delta.clustering")
      .map(_.get("domainMetadata"))
    assert(domN.isDefined, "every compat commit re-derives the clustering domain")
    val cols = mapper.readTree(domN.get.get("configuration").asText())
      .get("clusteringColumns")
    assert(cols.size === 1 && cols.get(0).get(0).asText() === phys("id"),
      s"graft must re-emit the domain in PHYSICAL spelling: $cols")
  }

  test("adopt_delta procedure: one CALL, ownership taken, result row reports it") {
    val dir = foreignTable()
    graft.sources.GraftCatalog.register(spark, tmpDir("adopt-wh-"), name = "adpt")
    val rows = spark.sql(
      s"CALL adpt.system.adopt_delta(path => '$dir')").collect()
    assert(rows.length === 1)
    assert(rows(0).getLong(0) === 2L, "adopted_version = foreign head + 1")
    assert(rows(0).getLong(1) === 1L, "one live file after the foreign delete")
    val t = GraftTable.forPath(spark, dir)
    t.append(df(40 until 42))
    assert(ids(t) === Set(0L, 1L, 2L, 3L, 40L, 41L))
  }

  // ---- synthetic foreign logs: n files named in the log, none ever opened --

  /** A foreign log over `n` synthetic files: v0 protocol + metaData, v1
    * every add, a classic checkpoint at v1 carrying them plus the
    * `checkpointOnly` lines, then a 10-commit JSON tail of one add each. */
  private def syntheticForeignLog(dir: String, n: Int, proto: String, meta: String,
      add: Int => String, checkpointOnly: Seq[String] = Nil): Unit = {
    import spark.implicits._
    commit(dir, 0, Seq(infoLine(1619112345000L, "WRITE"), proto, meta))
    commit(dir, 1, infoLine(1619112346000L, "WRITE") +: (0 until n).map(add))
    val stage = tmpDir("adopt-synth-cp-")
    spark.read.json((Seq(proto, meta) ++ checkpointOnly ++ (0 until n).map(add)).toDS)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(dir, "_delta_log", f"${1L}%020d.checkpoint.parquet"))
    Files.write(Paths.get(dir, "_delta_log", "_last_checkpoint"),
      s"""{"version":1,"size":${n + 2 + checkpointOnly.size}}""".getBytes("UTF-8"))
    (2 to 11).foreach(v =>
      commit(dir, v, Seq(infoLine(1619112346000L + v, "WRITE"), add(n + v))))
  }

  /** The adopting commit at v12: no add, and O(1) bytes whatever n is. */
  private def assertMetadataOnlyAdoption(dir: String): Unit = {
    val adoptFile = Paths.get(dir, "_delta_log", f"${12L}%020d.json")
    assert(!Files.readAllLines(adoptFile).asScala.exists(_.contains("\"add\"")),
      "adoption is metadata-only — no data file moves")
    assert(Files.size(adoptFile) < 8192, s"adopting commit is ${Files.size(adoptFile)} B")
  }

  test("a 2,000-file foreign log adopts metadata-only; every fold seeds from its checkpoint") {
    val n = 2000
    val dir = tmpDir("adopt-synth-")
    def add(i: Int): String =
      s"""{"add":{"path":"part-$i-a-c000.snappy.parquet","partitionValues":{},"size":134217728,"modificationTime":1619112345000,"dataChange":true,"stats":"{\\"numRecords\\":1000,\\"minValues\\":{\\"id\\":${i * 1000L}},\\"maxValues\\":{\\"id\\":${(i + 1) * 1000L}},\\"nullCount\\":{\\"id\\":0}}"}}"""
    syntheticForeignLog(dir, n,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["vacuumProtocolCheck"],"writerFeatures":["vacuumProtocolCheck"]}}""",
      metaLine(), add)
    // a full JSON replay would read all 12 commits, the n-add v1 among them
    val pre = new GraftLog(dir)
    assert(pre.snapshotAt(11L).files.size === n + 10)
    assert(pre.uncachedVersionReads <= 11,
      s"the foreign fold read ${pre.uncachedVersionReads} commits; the tail is 10")
    GraftTable.adoptDelta(spark, dir)
    assertMetadataOnlyAdoption(dir)
    val post = new GraftLog(dir)
    assert(post.snapshotAt(12L).files.size === n + 10)
    assert(post.uncachedVersionReads <= 11,
      s"the first post-adoption fold read ${post.uncachedVersionReads} commits; the tail is 11")
    assert(GraftTable.forPath(spark, dir).history().count() === 13L)
  }

  test("a 2,000-file ID-mode rowTracking foreign log adopts metadata-only; the hwm folds from the checkpoint") {
    import org.apache.spark.sql.types._
    val n = 2000
    val dir = tmpDir("adopt-synth-id-")
    val schema = StructType(Seq(StructField("id", LongType, nullable = true,
      new MetadataBuilder().putLong("delta.columnMapping.id", 1L)
        .putString("delta.columnMapping.physicalName", "col-1").build())))
    // the domain lives only in the checkpoint (delta's metadata-cleanup
    // shape), and leads the live-derived floor of n * 1000 ids
    val hwm = n * 1000L + 999999L
    def add(i: Int): String =
      s"""{"add":{"path":"part-$i-a-c000.snappy.parquet","partitionValues":{},"size":134217728,"modificationTime":1619112345000,"dataChange":true,"baseRowId":${i * 1000L},"defaultRowCommitVersion":1,"stats":"{\\"numRecords\\":1000,\\"minValues\\":{\\"id\\":${i * 1000L}},\\"maxValues\\":{\\"id\\":${(i + 1) * 1000L}},\\"nullCount\\":{\\"id\\":0}}"}}"""
    syntheticForeignLog(dir, n,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping","rowTracking","domainMetadata","invariants"]}}""",
      s"""{"metaData":{"id":"adopt-synth-id-1","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"1","delta.enableRowTracking":"true"},"createdTime":1619112344000}}""",
      add,
      checkpointOnly = Seq(s"""{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\\"rowIdHighWaterMark\\":$hwm}","removed":false}}"""))
    val t = GraftTable.adoptDelta(spark, dir)
    assertMetadataOnlyAdoption(dir)
    val props = t.snapshot.metaData.properties
    assert(props.get("columnMapping.mode").contains("id"), "id-mode mapping must translate")
    assert(props.get(GraftTable.RowIdHwmKey).map(_.toLong).contains(hwm),
      s"the hwm must fold from the checkpoint domain ($hwm), got ${props.get(GraftTable.RowIdHwmKey)}")
  }
}
