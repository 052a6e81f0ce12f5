package graft.table

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row tracking (`rowTracking.enabled`): stable `_row_id` per row — fresh
  * rows derive base + position (zero storage), rewritten rows carry a
  * materialized id column; ids survive CoW DELETE/UPDATE/MERGE, OPTIMIZE,
  * DV-mode DML, and checkpointed log reloads. */
class RowTrackingSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: (Int, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (k, v) => Row(k, v) }.asJava, schema)

  private def mk(dv: Boolean = false): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("rt-"),
      df((1, "a"), (2, "b"), (3, "c")).repartition(2))
    if (dv) t.setProperty("deletionVectors.enabled", "true")
    t.setProperty("rowTracking.enabled", "true")
    t
  }

  private def idsByKey(t: GraftTable): Map[Int, Long] =
    t.scanWithRowIds().select("k", GraftTable.RowIdCol)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("enablement backfills: every existing row gets a distinct stable id") {
    val t = mk()
    val ids = idsByKey(t)
    assert(ids.size == 3 && ids.values.toSeq.distinct.size == 3)
    assert(t.snapshot.files.forall(_.baseRowId.isDefined))
    assert(t.snapshot.metaData.properties.contains(GraftTable.RowIdHwmKey))
    assert(t.snapshot.protocol.writerFeatures.contains("rowTracking"))
  }

  test("appends allocate fresh ids above the frontier") {
    val t = mk()
    val before = idsByKey(t)
    t.append(df((4, "d"), (5, "e")))
    val after = idsByKey(t)
    assert(after.size == 5 && after.values.toSeq.distinct.size == 5)
    assert(before.forall { case (k, id) => after(k) == id })
    assert((after.keySet -- before.keySet).forall(k => after(k) > before.values.max))
  }

  test("CoW DELETE: surviving rows of rewritten files keep their ids") {
    val t = mk()
    val before = idsByKey(t)
    t.delete(col("k") === 2)
    val after = idsByKey(t)
    assert(after.keySet == Set(1, 3))
    assert(after.forall { case (k, id) => before(k) == id })
  }

  test("UPDATE keeps the updated row's id; MERGE keeps matched ids and mints insert ids") {
    val t = mk()
    val before = idsByKey(t)
    t.update("k = 2", Map("v" -> "'B'"))
    assert(idsByKey(t) == before) // values changed, identity did not
    t.merge(df((3, "C"), (9, "i")), "t.k = s.k")
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .whenNotMatchedInsert(Map("k" -> "s.k", "v" -> "s.v"))
      .execute()
    val after = idsByKey(t)
    assert(after(3) == before(3))
    assert(after(9) > before.values.max)
    assert(after.values.toSeq.distinct.size == 4)
  }

  test("OPTIMIZE moves rows between files without re-identifying them") {
    val t = mk()
    t.append(df((4, "d")))
    val before = idsByKey(t)
    t.optimize(targetFileBytes = 1L << 30) // compact to one file
    assert(idsByKey(t) == before)
  }

  test("DV-mode DELETE and UPDATE keep ids without rewriting files") {
    val t = mk(dv = true)
    val before = idsByKey(t)
    t.delete(col("k") === 1)
    val afterDelete = idsByKey(t)
    assert(afterDelete == before - 1)
    t.update("k = 3", Map("v" -> "'Z'"))
    val afterUpdate = idsByKey(t)
    assert(afterUpdate(3) == before(3)) // post-image carried the id
    assert(afterUpdate(2) == before(2))
  }

  test("ids survive a checkpointed log reload") {
    val t = mk()
    t.append(df((4, "d")))
    val before = idsByKey(t)
    t.log.writeCheckpoint(t.latestVersion)
    val reloaded = GraftTable.forPath(spark, t.path)
    assert(idsByKey(reloaded) == before)
  }

  test("MERGE commits its id allocation: a following append cannot collide") {
    val t = mk()
    t.merge(df((9, "i"), (10, "j")), "t.k = s.k")
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .whenNotMatchedInsert(Map("k" -> "s.k", "v" -> "s.v"))
      .execute()
    t.append(df((11, "k")))
    val ids = idsByKey(t)
    assert(ids.size == 6 && ids.values.toSeq.distinct.size == 6,
      s"merge must bump the hwm so append allocates fresh ids: $ids")
  }

  test("replaceWhere works with row tracking + CDF; carried rows keep ids") {
    val t = mk()
    t.setProperty("changeDataFeed.enabled", "true")
    val before = idsByKey(t)
    t.overwriteWhere(col("k") === 2, df((2, "B2")))
    val after = idsByKey(t)
    assert(after.keySet == Set(1, 2, 3))
    assert(after(1) == before(1) && after(3) == before(3))
    assert(after.values.toSeq.distinct.size == 3)
    // CDC sidecars stay engine-column-free
    val v = t.latestVersion
    assert(!t.changes(v - 1, v).columns.contains(GraftTable.RowIdCol))
  }

  test("re-enablement resumes the frontier — ids never re-issue") {
    val t = mk()
    t.delete(col("k") === 2) // rewrite: materialized ids in the new file
    val before = idsByKey(t)
    t.setProperty("rowTracking.enabled", "false")
    t.setProperty("rowTracking.enabled", "true")
    val after = idsByKey(t)
    assert(after == before, "re-enabling must not reset the frontier")
    t.append(df((7, "g")))
    val ids = idsByKey(t)
    assert(ids.values.toSeq.distinct.size == ids.size)
    assert(ids(7) > before.values.max)
  }

  test("_row_id serves as a SQL metadata column through the catalog") {
    graft.sources.GraftCatalog.register(spark, tmpDir("rt-wh-"), name = "rtc")
    val t = mk()
    spark.sql(s"CREATE TABLE rtc.default.rt USING graft LOCATION '${t.path}'")
    val rows = spark.sql(
      s"SELECT k, ${GraftTable.RowIdCol} FROM rtc.default.rt ORDER BY k")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == idsByKey(t))
    t.delete(col("k") === 2)
    val after = spark.sql(
      s"SELECT k, ${GraftTable.RowIdCol} FROM rtc.default.rt ORDER BY k")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(after == rows - 2, "SQL-served ids must survive the rewrite")
  }

  test("MetaData-less commits on a native rowTracking table still stamp defaultRowCommitVersion") {
    // OPTIMIZE re-adds preserve ids (materialized column), so the commit
    // carries NO MetaData action — the version stamp must derive from the
    // GOVERNING metaData (previous snapshot), not from this commit's
    // actions: if compat is enabled later, the compat checkpoint
    // re-serializes these adds and delta's rowTracking expects the field
    // on every add of an enabled table.
    val t = mk()
    t.append(df((4, "d"), (5, "e")))
    t.optimize(targetFileBytes = 512L * 1024 * 1024)
    val optV = t.latestVersion
    val actions = t.log.readVersion(optV)
    assert(!actions.exists(_.isInstanceOf[MetaData]),
      "the compaction commit must be the MetaData-less shape under test")
    val adds = actions.collect { case a: AddFile => a }
    assert(adds.nonEmpty, "OPTIMIZE must have re-added compacted files")
    adds.foreach(a => assert(a.defaultRowCommitVersion.contains(optV),
      s"compaction re-add ${a.path} must stamp defaultRowCommitVersion=$optV"))
    // enabling compat afterwards re-serializes the live set through the
    // checkpoint with the field intact
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.log.writeCheckpoint(t.latestVersion)
    val cp = java.nio.file.Paths.get(t.path, "_delta_log",
      f"${t.latestVersion}%020d.checkpoint.parquet")
    val cpAdds = spark.read.parquet(cp.toString)
      .select("add.path", "add.defaultRowCommitVersion")
      .collect().filter(!_.isNullAt(0))
    assert(cpAdds.nonEmpty && cpAdds.forall(!_.isNullAt(1)),
      "the compat checkpoint must carry defaultRowCommitVersion on every add")
  }

  test("streaming sink refuses row-tracking tables; SQL UPDATE and MERGE INTO keep row ids") {
    val t = mk()
    val se = intercept[IllegalArgumentException](
      new graft.sources.GraftStreamingWrite(t, t.snapshot.schema, "q")
        .createStreamingWriterFactory(null))
    assert(se.getMessage.contains("row ids"))
    graft.sources.GraftCatalog.register(spark, tmpDir("rt-sql-wh-"), name = "rtcat")
    spark.sql(s"CREATE TABLE rtcat.default.r USING graft LOCATION '${t.path}'")
    val before = idsByKey(t)
    spark.sql("UPDATE rtcat.default.r SET v = 'B' WHERE k = 2")
    spark.sql(
      """MERGE INTO rtcat.default.r t
        |USING (SELECT 3 AS k, 'C' AS v UNION ALL SELECT 4, 'd') s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(t.toDF.collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> "a", 2 -> "B", 3 -> "C", 4 -> "d"))
    val after = idsByKey(t)
    assert(before.forall { case (k, id) => after(k) == id }, s"$before vs $after")
    assert(after(4) > before.values.max)
    // the SQL metadata column serves the same ids
    assert(spark.sql(s"SELECT k, ${GraftTable.RowIdCol} FROM rtcat.default.r").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == after)
  }
}
