package graft.table

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** FSCK REPAIR TABLE: when a physical data file (or DV sidecar) vanishes
  * out from under the log, the scan dies — fsck drops exactly the broken
  * entries (distributed existence probe, normal conflict protocol) and
  * the table reads again with the surviving rows. */
class FsckSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: (Int, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (i, v) => Row(i, v) }.asJava, schema)

  test("repairs a missing data file; dry run audits without committing") {
    val t = GraftTable.create(spark, tmpDir("fsck-"), df((1, "a")).coalesce(1))
    t.append(df((2, "b")).coalesce(1))
    t.append(df((3, "c")).coalesce(1))
    assert(t.fsck() === Nil, "intact table reports nothing")

    // delete the middle file's parquet behind the log's back
    val victim = t.snapshot.files.sortBy(_.path).apply(1)
    Files.delete(Paths.get(t.path, victim.path))
    intercept[Exception](t.toDF.count()) // broken: scan dies

    val v0 = t.latestVersion
    assert(t.fsck(dryRun = true) === Seq(victim.path))
    assert(t.latestVersion === v0, "dry run must not commit")

    assert(t.fsck() === Seq(victim.path))
    assert(t.latestVersion === v0 + 1)
    assert(t.history().head().getString(2) === "FSCK")
    // table reads again with the survivors
    assert(t.toDF.collect().map(_.getInt(0)).toSet ===
      Set(1, 2, 3) - victim.minValues("id").toInt)
    assert(t.fsck() === Nil)
  }

  test("missing DV sidecar also flags the file (tombstones must not resurrect)") {
    val t = GraftTable.create(spark, tmpDir("fsck-dv-"),
      df((1, "a"), (2, "b"), (3, "c")).coalesce(1))
    t.setProperty("deletionVectors.enabled", "true")
    t.delete(col("id") === 2)
    val withDv = t.snapshot.files.filter(_.dvPath.isDefined)
    assert(withDv.nonEmpty, "DV delete must leave a DV-carrying file")
    Files.delete(Paths.get(t.path,
      DeltaDeletionVectors.referencedFile(withDv.head.dvPath.get).get))
    assert(t.fsck(dryRun = true) === Seq(withDv.head.path))
    t.fsck()
    assert(t.toDF.count() === 0, "the DV-broken file's rows are gone")
  }

  test("CALL graft.system.fsck surfaces the repair in SQL") {
    val t = GraftTable.create(spark, tmpDir("fsck-sql-"), df((1, "a")).coalesce(1))
    t.append(df((2, "b")).coalesce(1))
    val victim = t.snapshot.files.sortBy(_.path).head
    Files.delete(Paths.get(t.path, victim.path))
    val cat = "fsckcat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir("fsck-wh-"))
    try {
      val rows = spark.sql(
        s"CALL $cat.system.fsck(`table` => '${t.path}')").collect()
      assert(rows.map(r => (r.getString(0), r.getBoolean(1))).toSeq ===
        Seq((victim.path, true)))
      assert(t.toDF.count() === 1)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }
}
