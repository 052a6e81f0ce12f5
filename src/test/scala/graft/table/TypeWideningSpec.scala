package graft.table

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Type widening (`ALTER TABLE ... ALTER COLUMN ... TYPE`): a
  * metadata-only commit — zero data files rewrite, old narrow-typed files
  * read through the scan's declared (wider) schema via the parquet
  * vectorized reader's native upcast. The only affordable schema
  * lifecycle on a table too big to rewrite. Narrowing and lossy
  * conversions reject.
  */
class TypeWideningSpec extends SparkTestBase {
  import spark.implicits._

  private def dataFileCount(t: GraftTable): Int = t.snapshot.files.size

  test("int → long widens metadata-only; old files read and aggregate correctly") {
    val t = GraftTable.create(spark, tmpDir("tw-"),
      Seq((1, 10), (2, 20)).toDF("id", "v"))
    val filesBefore = t.snapshot.files.map(_.path).toSet
    t.alterColumnType("v", LongType)
    // no rewrite happened
    assert(t.snapshot.files.map(_.path).toSet == filesBefore)
    assert(t.snapshot.schema("v").dataType == LongType)
    // old int32 files serve the long read
    assert(t.toDF.agg(sum("v")).as[Long].head() == 30L)
    // values beyond Int.MaxValue now append
    t.append(Seq((3L, 10000000000L)).toDF("id", "v")
      .select(col("id").cast(IntegerType), col("v")))
    assert(t.toDF.agg(sum("v")).as[Long].head() == 10000000030L)
    assert(t.toDF.schema("v").dataType == LongType)
  }

  test("float → double and int → double widen") {
    val t = GraftTable.create(spark, tmpDir("tw2-"),
      Seq((1, 1.5f, 7)).toDF("id", "f", "i"))
    t.alterColumnType("f", DoubleType)
    t.alterColumnType("i", DoubleType)
    val row = t.toDF.select("f", "i").head()
    assert(row.getDouble(0) == 1.5d && row.getDouble(1) == 7.0d)
  }

  test("decimal precision growth widens; shrink rejects") {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("amt", DecimalType(5, 2))))
    val t = GraftTable.create(spark, tmpDir("tw3-"),
      spark.createDataFrame(java.util.List.of(
        Row(Integer.valueOf(1), new java.math.BigDecimal("123.45"))), schema))
    t.alterColumnType("amt", DecimalType(10, 2))
    assert(t.toDF.agg(sum("amt")).head().getDecimal(0)
      .compareTo(new java.math.BigDecimal("123.45")) == 0)
    intercept[IllegalArgumentException](t.alterColumnType("amt", DecimalType(5, 2)))
    // scale growth without integer-digit growth also rejects (would shrink
    // the representable integer range)
    intercept[IllegalArgumentException](t.alterColumnType("amt", DecimalType(10, 8)))
  }

  test("narrowing and lossy conversions reject; identity/generated pinned") {
    val t = GraftTable.create(spark, tmpDir("tw4-"),
      Seq((1L, 5)).toDF("big", "small"))
    intercept[IllegalArgumentException](t.alterColumnType("big", IntegerType))
    intercept[IllegalArgumentException](t.alterColumnType("big", DoubleType)) // lossy
    intercept[IllegalArgumentException](t.alterColumnType("small", StringType))
    val ti = GraftTable.create(spark, tmpDir("tw5-"),
      Seq(("x")).toDF("name"), identity = Map("rid" -> (1L, 1L)))
    intercept[IllegalArgumentException](ti.alterColumnType("rid", DoubleType))
  }

  test("time travel across the widen boundary reads the era's schema") {
    val t = GraftTable.create(spark, tmpDir("tw6-"),
      Seq((1, 10)).toDF("id", "v"))
    val preWiden = t.latestVersion
    t.alterColumnType("v", LongType)
    t.append(Seq((2, 20L)).toDF("id", "v").select(col("id"), col("v")))
    assert(t.snapshotAt(preWiden).schema("v").dataType == IntegerType)
    assert(t.versionAsOf(preWiden).agg(sum("v")).head().getLong(0) == 10L)
    assert(t.toDF.agg(sum("v")).as[Long].head() == 30L)
  }

  test("stats-based skipping still prunes through a widened column") {
    val t = GraftTable.create(spark, tmpDir("tw7-"),
      Seq((1, 5)).toDF("id", "v"))
    t.append(Seq((2, 500)).toDF("id", "v"))
    t.alterColumnType("v", LongType)
    t.append(Seq((3L, 5000000000L)).toDF("id", "v")
      .select(col("id").cast(IntegerType), col("v")))
    assert(dataFileCount(t) == 3)
    // old-file stats ("5", "500") and new-file stats compare as longs:
    // a > 1e9 predicate must prune down to the one wide file
    val pruned = t.prunedFiles(t.snapshot, col("v") > 1000000000L)
    assert(pruned.size == 1, s"expected 1 file, got ${pruned.size}")
    assert(t.scan(col("v") > 1000000000L).count() == 1)
  }

  test("SQL ALTER COLUMN TYPE routes through the catalog") {
    val cat = "twcat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir("tw-wh-"))
    try {
      spark.sql(s"CREATE TABLE $cat.default.w (id INT, v INT) USING graft")
      spark.sql(s"INSERT INTO $cat.default.w VALUES (1, 10)")
      spark.sql(s"ALTER TABLE $cat.default.w ALTER COLUMN v TYPE BIGINT")
      spark.sql(s"INSERT INTO $cat.default.w VALUES (2, 10000000000)")
      assert(spark.sql(s"SELECT sum(v) FROM $cat.default.w").as[Long].head()
        == 10000000010L)
      val ex = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.default.w ALTER COLUMN v TYPE INT"))
      // Spark's analyzer rejects the narrowing before the catalog does
      // (NOT_SUPPORTED_CHANGE_COLUMN); the engine-side guard covers the
      // API path (previous test)
      assert(ex.getMessage.contains("not a supported widening") ||
        ex.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("DDL on a 2,000-file table lands as small metadata-only commits; pruning stays collation-safe") {
    // a synthetic log: none of these operations may open a data file
    val n = 2000
    val dir = tmpDir("tw-ddl-")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("cnt", IntegerType),
      StructField("name", StringType("UTF8_LCASE"))))
    val now = System.currentTimeMillis()
    val log = new GraftLog(dir)
    log.commit(0L, Seq(
      MetaData(java.util.UUID.randomUUID().toString, schema.json, now, Nil, Map.empty, Map.empty),
      CommitInfo(0L, log.nextTimestamp(), "CONVERT", Map.empty)) ++
      (0 until n).map(i => AddFile(
        f"part-$i%07d-xxxxxxxx.parquet", 128L * 1024 * 1024, now, 1000000L,
        Map("id" -> (i * 1000L).toString, "cnt" -> "0", "name" -> "AAAA"),
        Map("id" -> ((i + 1) * 1000L).toString, "cnt" -> "99", "name" -> "MZZZ"))))
    val t = GraftTable.forPath(spark, dir)
    assert(dataFileCount(t) === n)
    // a commit that re-listed the files would be ~300 KB at this n
    def commitBytes(v: Long): Long = java.nio.file.Files.size(
      java.nio.file.Paths.get(dir, "_delta_log", f"$v%020d.json"))
    t.addColumn("tier", StringType, Some("'legacy'"))
    t.alterColumnType("cnt", LongType)
    t.setProperty("clustering.columns", "id")
    assert(t.latestVersion === 3L)
    (1L to 3L).foreach(v => assert(commitBytes(v) < 64 * 1024, s"v$v is ${commitBytes(v)} B"))
    assert(dataFileCount(t) === n, "no DDL may touch the file set")
    // stats pruning: a binary predicate prunes, a collated one never does
    val snap = t.snapshot
    def kept(pred: org.apache.spark.sql.Column): Int =
      DataSkipping.prune(DataSkipping.resolve(spark, snap.schema, pred), snap.files).size
    assert(kept(col("id") < 5000L) < n / 100)
    assert(kept(col("name") === "zz") === n, "a collated predicate must never prune")
  }
}
