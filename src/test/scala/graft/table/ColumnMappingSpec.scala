package graft.table

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column mapping (`columnMapping.mode = name`): RENAME/DROP COLUMN as
  * metadata-only commits, physical names pinned in field metadata, time
  * travel across schema evolution, no-resurrection on re-add, and the
  * protocol gate that fails pre-mapping readers loudly. */
class ColumnMappingSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("score", IntegerType, nullable = false)))

  private def df(rows: (Int, String, Int)*): DataFrame =
    spark.createDataFrame(rows.map { case (i, n, v) => Row(i, n, v) }.asJava, schema)

  private def mapped(): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("cm-"),
      df((1, "a", 10), (2, "b", 20), (3, "c", 30)))
    t.setProperty("columnMapping.mode", "name")
    t
  }

  test("RENAME COLUMN is metadata-only; reads, DML, and pruning follow the new name") {
    val t = mapped()
    val filesBefore = t.snapshot.files.map(_.path).toSet
    t.renameColumn("score", "points")
    assert(t.snapshot.files.map(_.path).toSet === filesBefore,
      "rename must not touch a single data file")
    assert(t.toDF.columns.toSeq === Seq("id", "name", "points"))
    assert(t.toDF.filter(col("points") > 15).count() === 2)
    // stats pruning on the renamed column still works (physical-keyed
    // stats translate through the current mapping)
    assert(t.scan(col("points") === 10).collect().map(_.getInt(0)).toSeq === Seq(1))
    // DML through the logical name; new files carry the SAME physical name
    t.delete(col("points") === 30)
    assert(t.toDF.collect().map(r => (r.getInt(0), r.getInt(2))).toSet ===
      Set((1, 10), (2, 20)))
    t.append(df((4, "d", 40)).toDF("id", "name", "points"))
    assert(t.toDF.filter(col("points") === 40).count() === 1)
  }

  test("time travel reads pre-rename versions with the old logical name") {
    val t = mapped()
    val vBefore = t.latestVersion
    t.renameColumn("score", "points")
    assert(t.versionAsOf(vBefore).columns.toSeq === Seq("id", "name", "score"))
    assert(t.versionAsOf(vBefore).agg(sum("score")).head().getLong(0) === 60L)
    assert(t.toDF.agg(sum("points")).head().getLong(0) === 60L)
  }

  test("DROP COLUMN unbinds; re-ADD of the same name starts null (no resurrection)") {
    val t = mapped()
    val filesBefore = t.snapshot.files.map(_.path).toSet
    t.dropColumn("score")
    assert(t.snapshot.files.map(_.path).toSet === filesBefore)
    assert(t.toDF.columns.toSeq === Seq("id", "name"))
    t.addColumn("score", IntegerType)
    // the old physical data must NOT bind to the successor column
    assert(t.toDF.filter(col("score").isNotNull).count() === 0,
      "re-added column must read null from pre-drop files")
    val vDropped = t.latestVersion - 1
    assert(t.versionAsOf(vDropped).columns.toSeq === Seq("id", "name"))
  }

  test("rename then re-add of the old name: distinct physical columns coexist") {
    val t = mapped()
    t.renameColumn("score", "points")
    t.addColumn("score", IntegerType) // fresh physical name
    val rows = t.toDF.orderBy("id").collect()
    assert(t.toDF.columns.toSeq === Seq("id", "name", "points", "score"))
    assert(rows.map(_.getInt(2)).toSeq === Seq(10, 20, 30), "points keeps old data")
    assert(rows.forall(_.isNullAt(3)), "new score is null everywhere")
    // pruning on the NEW score must not use the old column's stats
    assert(t.scan(col("score") === 10).count() === 0)
  }

  test("RENAME/DROP require the columnMapping protocol feature") {
    val t = GraftTable.create(spark, tmpDir("cm-off-"), df((1, "a", 10)))
    intercept[IllegalArgumentException](t.renameColumn("score", "points"))
    intercept[IllegalArgumentException](t.dropColumn("score"))
    // enabling commits the protocol upgrade in the same version
    t.setProperty("columnMapping.mode", "name")
    assert(t.snapshot.protocol.readerFeatures.contains("columnMapping"))
  }

  test("CDF stream decodes sidecars by LOGICAL name after a rename") {
    // _cdc sidecars are written from logical-named frames; the streaming
    // CDF reader must not ask the parquet footer for the PHYSICAL name of
    // a renamed column (it would silently decode null).
    val t = mapped()
    t.setProperty("changeDataFeed.enabled", "true")
    t.renameColumn("name", "label")
    val deleteV = t.latestVersion + 1
    t.delete(col("id") === 2)
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", deleteV.toString)
      .load(t.path)
      .writeStream.format("memory").queryName("cm_cdf_stream")
      .option("checkpointLocation", tmpDir("cm-cdf-ckpt-"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("cm_cdf_stream")
      .filter(col("_change_type") === "delete").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("label") === "b",
      "renamed column must decode its sidecar values, not null")
  }

  test("partition-value key space survives a partition-column rename (stream read)") {
    // AddFile.partitionValues is keyed by PHYSICAL name on every write
    // path; the streaming reader translates the LOGICAL schema field back
    // to that key — a renamed partition column must reconstruct, not throw.
    val dir = tmpDir("cm-part-")
    val t = GraftTable.create(spark, dir,
      df((1, "a", 10), (2, "b", 20)), partitionBy = Seq("score"))
    t.setProperty("columnMapping.mode", "name")
    t.renameColumn("score", "points")
    t.append(df((3, "c", 30)).toDF("id", "name", "points"))
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("cm_part_stream")
      .option("checkpointLocation", tmpDir("cm-part-ckpt-"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("cm_part_stream").select("id", "points").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet === Set((1, 10), (2, 20), (3, 30)))
  }

  test("MERGE schema evolution under column mapping binds a fresh physical name") {
    val t = mapped()
    t.renameColumn("score", "points")
    val srcSchema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("points", IntegerType, nullable = false),
      StructField("score", IntegerType, nullable = true))) // re-uses the OLD logical name
    val src = spark.createDataFrame(
      Seq(Row(2, "b2", 21, 99)).asJava, srcSchema)
    t.merge(src, "t.id = s.id")
      .withSchemaEvolution()
      .whenMatchedUpdate(Map("name" -> "s.name", "points" -> "s.points",
        "score" -> "s.score"))
      .execute()
    val rows = t.toDF.orderBy("id").collect()
    assert(t.toDF.columns.toSeq === Seq("id", "name", "points", "score"))
    // the NEW "score" must not resurrect the old physical column's data:
    // untouched rows read null, the merged row reads the source value
    assert(rows.map(r => if (r.isNullAt(3)) None else Some(r.getInt(3))).toSeq ===
      Seq(None, Some(99), None))
    assert(rows.map(_.getInt(2)).toSeq === Seq(10, 21, 30), "points keeps old data")
  }

  test("MERGE and SQL row-level DML work through renamed columns") {
    val t = mapped()
    t.renameColumn("name", "label")
    t.merge(df((2, "B2", 21)).toDF("id", "label", "score"), "t.id = s.id")
      .whenMatchedUpdate(Map("label" -> "s.label", "score" -> "s.score"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "label" -> "s.label", "score" -> "s.score"))
      .execute()
    assert(t.toDF.filter(col("label") === "B2").count() === 1)
    // SQL path: register and UPDATE through the catalog (the native
    // update writes physical-named files)
    graft.sources.GraftCatalog.register(spark, tmpDir("cm-wh-"), name = "cmcat")
    spark.sql(s"CREATE TABLE cmcat.default.cm_sql (dummy INT) USING graft LOCATION '${t.path}'")
    spark.sql("UPDATE cmcat.default.cm_sql SET score = score + 100 WHERE id = 1")
    assert(t.toDF.filter(col("id") === 1).head().getInt(2) === 110)
    spark.sql("ALTER TABLE cmcat.default.cm_sql RENAME COLUMN score TO pts")
    assert(spark.sql("SELECT pts FROM cmcat.default.cm_sql WHERE id = 1")
      .head().getInt(0) === 110)
    spark.sql("ALTER TABLE cmcat.default.cm_sql DROP COLUMN pts")
    assert(spark.table("cmcat.default.cm_sql").columns.toSeq === Seq("id", "label"))
  }
}
