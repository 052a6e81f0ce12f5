package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.table.{CommitInfo, GraftTable}
import org.apache.spark.sql.functions._

/** SQL `UPDATE` and `MERGE INTO` run the table layer's native update and
  * merge: CHECK constraints are enforced inside the write pass (a violation
  * commits and leaves nothing), an UPDATE costs no more Spark jobs than the
  * API call, a DV table tombstones the updated rows instead of rewriting
  * their files, and a MERGE prunes the target by the source's key range. */
class SqlDmlSpec extends SparkTestBase {

  private lazy val registered: Unit =
    GraftCatalog.register(spark, tmpDir("sqldml-wh-"), name = "dmlcat")

  /** A 1,000-row table in two files under `dmlcat.default.<name>`. */
  private def mk(name: String, props: (String, String)*): GraftTable = {
    registered
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir(s"sqldml-$name-"),
      spark.range(1000).select($"id".cast("int").as("id"), ($"id" % 50 + 1).cast("int").as("v"))
        .repartition(2))
    props.foreach { case (k, v) => t.setProperty(k, v) }
    spark.sql(s"CREATE TABLE dmlcat.default.$name USING graft LOCATION '${t.path}'")
    t
  }

  private def filesUnder(dir: String): Set[String] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
    finally walk.close()
  }

  private def metrics(t: GraftTable): Map[String, String] =
    t.log.readVersion(t.latestVersion).collectFirst { case c: CommitInfo => c.operationMetrics }.get

  for (dv <- Seq(false, true))
    test(s"a SQL UPDATE that violates a CHECK constraint commits nothing and writes no file (DV $dv)") {
      val name = s"chk_bad_$dv"
      val t = mk(name, "deletionVectors.enabled" -> dv.toString)
      t.addConstraint("v_pos", "v > 0")
      val version = t.latestVersion
      val files = filesUnder(t.path)
      val e = intercept[Exception](spark.sql(s"UPDATE dmlcat.default.$name SET v = -1 WHERE id = 3"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("v_pos")), e.toString)
      assert(t.latestVersion == version)
      assert(filesUnder(t.path) == files)
      assert(t.toDF.filter(col("v") <= 0).count() == 0)
    }

  test("a SQL UPDATE on a 2-constraint table runs no more Spark jobs than the API update") {
    val api = mk("chk_api")
    val sql = mk("chk_sql")
    Seq(api, sql).foreach { t =>
      t.addConstraint("v_pos", "v > 0")
      t.addConstraint("id_nonneg", "id >= 0")
    }
    val apiJobs = jobsDuring(api.update(col("id") < 10, Map("v" -> "v + 1")))
    val sqlJobs = jobsDuring(spark.sql("UPDATE dmlcat.default.chk_sql SET v = v + 1 WHERE id < 10"))
    assert(sqlJobs <= apiJobs, s"SQL UPDATE ran $sqlJobs jobs, the API update $apiJobs")
    assert(sql.toDF.collect().toSet == api.toDF.collect().toSet)
    assert(metrics(sql)("numUpdatedRows") == "10")
  }

  test("SQL UPDATE on a DV table tombstones the updated rows instead of rewriting their file") {
    val t = mk("dv_upd", "deletionVectors.enabled" -> "true")
    spark.sql("UPDATE dmlcat.default.dv_upd SET v = 0 WHERE id IN (1, 2, 3)")
    val m = metrics(t)
    assert(m.get("numDeletionVectors").isDefined, s"$m")
    assert(m.get("numRewrittenFiles").contains("0"), s"$m")
    assert(m.get("numUpdatedRows").contains("3"), s"$m")
    assert(spark.sql("SELECT count(*) FROM dmlcat.default.dv_upd WHERE v = 0").head.getLong(0) == 3)
    assert(t.toDF.count() == 1000)
  }

  test("SQL MERGE INTO prunes the target files by the source's key range") {
    registered
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("sqldml-prune-"),
      spark.range(0, 1000).select($"id".cast("int").as("id"), lit("x").as("v")).coalesce(1))
    (1 to 2).foreach(b => t.append(spark.range(b * 1000, b * 1000 + 1000)
      .select($"id".cast("int").as("id"), lit("x").as("v")).coalesce(1)))
    spark.sql(s"CREATE TABLE dmlcat.default.prune USING graft LOCATION '${t.path}'")
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        reads.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      jobsDuring(spark.sql(
        """MERGE INTO dmlcat.default.prune t
          |USING (SELECT * FROM VALUES (1500, 'U'), (1501, 'V') AS s(id, v)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin))
    } finally spark.sparkContext.removeSparkListener(listener)
    // discovery, rewrite and the insert anti-join each read only the middle
    // file (3,000 rows, plus the row of jobsDuring's drain job); without
    // pruning discovery and the anti-join read all three files (7,000)
    assert(reads.get() <= 3001, s"MERGE read ${reads.get()} rows")
    assert(t.toDF.filter(col("v") =!= "x").count() == 2)
  }

  test("SQL UPDATE runs an uncorrelated subquery and refuses one correlated with the target") {
    val t = mk("subq")
    val o = mk("subq_other")
    o.delete(col("id") >= 3)
    spark.sql("UPDATE dmlcat.default.subq SET v = 0 WHERE id IN (SELECT id FROM dmlcat.default.subq_other)")
    assert(t.toDF.filter(col("v") === 0).collect().map(_.getInt(0)).toSet == Set(0, 1, 2))
    val version = t.latestVersion
    val e = intercept[UnsupportedOperationException](spark.sql(
      """UPDATE dmlcat.default.subq SET v = 0
        |WHERE EXISTS (SELECT 1 FROM dmlcat.default.subq_other o WHERE o.id + 5 = subq.id)""".stripMargin))
    assert(e.getMessage.contains("correlated"))
    assert(t.latestVersion == version)
  }
}
