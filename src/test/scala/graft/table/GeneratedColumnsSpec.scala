package graft.table

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Generated columns (`GENERATED ALWAYS AS`): expression pinned in schema
  * metadata, engine-computed on every write path (append, MERGE, UPDATE —
  * including post-images whose base columns changed), direct SET rejected,
  * base-column predicates prune the generated partition layout, and the
  * writer-feature protocol gate fails unsupported writers loudly. */
class GeneratedColumnsSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("v", IntegerType, nullable = false)))

  private def ts(day: Int, hour: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-03-$day%02d $hour%02d:00:00")

  private def df(rows: (Int, java.sql.Timestamp, Int)*): DataFrame =
    spark.createDataFrame(rows.map { case (i, t, v) => Row(i, t, v) }.asJava, schema)

  private def mkTable(partition: Boolean = true): GraftTable =
    GraftTable.create(spark, tmpDir("gen-"),
      df((1, ts(1, 5), 10), (2, ts(1, 18), 20), (3, ts(2, 9), 30), (4, ts(3, 9), 40)),
      partitionBy = if (partition) Seq("day") else Nil,
      generated = Map("day" -> "cast(date_trunc('DAY', ts) as date)"))

  private def days(t: GraftTable): Map[Int, String] =
    t.toDF.select(col("id"), col("day").cast("string"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap

  test("create computes the generated column and pins its expression in the schema") {
    val t = mkTable()
    assert(GeneratedColumns.of(t.snapshot.schema) ==
      Seq("day" -> "cast(date_trunc('DAY', ts) as date)"))
    assert(days(t) == Map(1 -> "2024-03-01", 2 -> "2024-03-01",
      3 -> "2024-03-02", 4 -> "2024-03-03"))
    // the schema (and therefore the expression) survives a log round-trip
    val reloaded = GraftTable.forPath(spark, t.path)
    assert(GeneratedColumns.names(reloaded.snapshot.schema) == Set("day"))
  }

  test("append may omit the generated column; a supplied value is replaced") {
    val t = mkTable()
    t.append(df((5, ts(4, 1), 50)))                    // no day column
    assert(days(t)(5) == "2024-03-04")
    // writer-supplied WRONG day is recomputed, not trusted
    val withWrong = df((6, ts(5, 1), 60))
      .withColumn("day", lit(java.sql.Date.valueOf("1999-01-01")))
    t.append(withWrong)
    assert(days(t)(6) == "2024-03-05")
  }

  test("MERGE recomputes the generated column when its base column changes") {
    val t = mkTable()
    // move id=1 from day 1 to day 6 by updating ts only
    t.merge(df((1, ts(6, 7), 11)), "t.id = s.id")
      .whenMatchedUpdate(Map("ts" -> "s.ts", "v" -> "s.v"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "ts" -> "s.ts", "v" -> "s.v"))
      .execute()
    assert(days(t)(1) == "2024-03-06")
    // inserts omit day too
    t.merge(df((7, ts(7, 7), 70)), "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "ts" -> "s.ts", "v" -> "s.v"))
      .execute()
    assert(days(t)(7) == "2024-03-07")
  }

  test("UPDATE recomputes the generated column; direct SET is rejected") {
    val t = mkTable()
    t.update("id = 2", Map("ts" -> "timestamp'2024-03-09 00:30:00'"))
    assert(days(t)(2) == "2024-03-09")
    val e = intercept[IllegalArgumentException](
      t.update("id = 2", Map("day" -> "date'1999-01-01'")))
    assert(e.getMessage.contains("generated column"))
    val m = intercept[IllegalArgumentException](
      t.merge(df((2, ts(1, 1), 2)), "t.id = s.id")
        .whenMatchedUpdate(Map("day" -> "date'1999-01-01'"))
        .execute())
    assert(m.getMessage.contains("generated column"))
  }

  test("a ts predicate prunes the generated day partitions") {
    val t = mkTable()
    val s = t.snapshot
    assert(s.files.size >= 3) // one file per day at minimum
    val pruned = t.prunedFiles(s, col("ts") < lit(ts(2, 0)))
    assert(pruned.size < s.files.size)
    // pruning never loses rows: scan == unpruned filter
    assert(t.scan(col("ts") < lit(ts(2, 0))).count() == 2)
    // and the day partition value itself prunes as an exact stat
    val byDay = t.prunedFiles(s, col("day") === lit(java.sql.Date.valueOf("2024-03-02")))
    assert(byDay.size < s.files.size)
  }

  test("protocol: commit 0 carries the generatedColumns writer feature; " +
       "unknown writer features gate DML loudly") {
    val t = mkTable()
    assert(t.snapshot.protocol.writerFeatures.contains("generatedColumns"))
    assert(t.snapshot.protocol.readerFeatures.isEmpty) // readers unaffected
    // a future writer feature this build lacks must block writes, not data
    // corruption: hand-commit a protocol upgrade and expect loud failure
    val s = t.snapshot
    t.log.commit(s.version + 1, Seq(
      Protocol(1, 2, writerFeatures = Seq("generatedColumns", "futureFeature")),
      CommitInfo(s.version + 1, t.log.nextTimestamp(), "UPGRADE", Map.empty)))
    val e = intercept[GraftProtocolException](t.delete(col("id") === 1))
    assert(e.getMessage.contains("futureFeature"))
    // reads still fine (writer-only feature)
    assert(t.toDF.count() == 4)
  }

  test("streaming sink refuses generated tables; SQL UPDATE and MERGE INTO maintain them") {
    val t = GraftTable.create(spark, tmpDir("gen-sql-"),
      df((1, ts(1, 5), 10), (2, ts(2, 9), 20)),
      generated = Map("day" -> "cast(date_trunc('DAY', ts) as date)"),
      identity = Map("rid" -> (100L, 1L)))
    val se = intercept[IllegalArgumentException](
      new graft.sources.GraftStreamingWrite(t, t.snapshot.schema, "q")
        .createStreamingWriterFactory(null))
    assert(se.getMessage.contains("foreachBatch"))
    def rids: Map[Int, Long] =
      t.toDF.select("id", "rid").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val before = rids
    graft.sources.GraftCatalog.register(spark, tmpDir("gen-sql-wh-"), name = "gencat")
    spark.sql(s"CREATE TABLE gencat.default.g USING graft LOCATION '${t.path}'")
    // the UPDATE moves the generated column's base: day is recomputed
    spark.sql("UPDATE gencat.default.g SET ts = timestamp'2024-03-09 01:00:00' WHERE id = 1")
    assert(days(t) == Map(1 -> "2024-03-09", 2 -> "2024-03-02"))
    // the MERGE recomputes day on the updated row and on the insert, which
    // omits day and rid: the insert takes a fresh identity value
    spark.sql(
      """MERGE INTO gencat.default.g t
        |USING (SELECT 2 AS id, timestamp'2024-03-07 03:00:00' AS ts, 21 AS v
        |       UNION ALL SELECT 3, timestamp'2024-03-08 04:00:00', 30) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.ts = s.ts, t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, ts, v) VALUES (s.id, s.ts, s.v)""".stripMargin)
    assert(days(t) == Map(1 -> "2024-03-09", 2 -> "2024-03-07", 3 -> "2024-03-08"))
    val after = rids
    assert(before.forall { case (id, rid) => after(id) == rid }, s"$before vs $after")
    assert(after(3) > before.values.max)
    // a SET of the generated column itself is refused, as in the API
    val e = intercept[IllegalArgumentException](
      spark.sql("UPDATE gencat.default.g SET day = date'1999-01-01' WHERE id = 1"))
    assert(e.getMessage.contains("generated"))
  }
}
