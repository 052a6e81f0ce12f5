package graft.table

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DELETE, UPDATE, MERGE and replaceWhere give the same table whichever
  * way `rewriteRows` applies them: three twins — copy-on-write, deletion
  * vectors, and deletion vectors with a zero tombstone cap (so every op
  * falls back to a rewrite) — run the same op sequence with CDF on and
  * must agree on the rows at every version, on the change feed, on the
  * returned counts and on the row-count metrics. With row tracking on,
  * every row must also keep the same `_row_id` in all three. The SQL
  * spellings (`DELETE FROM`, `UPDATE`, `MERGE INTO` through the catalog)
  * must give each twin the same table as the API spellings. */
class RowLevelParitySpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: (Int, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (i, s) => Row(i, s) }.asJava, schema)

  /** Table properties of each twin, set in this order after CREATE. */
  private val modes = Seq(
    "copy-on-write" -> Seq(
      "deletionVectors.enabled" -> "false", "deletionVectors.maxTombstones" -> "4000000"),
    "deletion vectors" -> Seq(
      "deletionVectors.enabled" -> "true", "deletionVectors.maxTombstones" -> "4000000"),
    "deletion vectors, cap 0" -> Seq(
      "deletionVectors.enabled" -> "true", "deletionVectors.maxTombstones" -> "0"))

  /** The op sequence; each op returns its row count, when it has one. */
  private val apiOps: Seq[(String, GraftTable => Option[Long])] = Seq(
    "DELETE" -> (t => Some(t.delete(col("id").isin(2, 7)))),
    "UPDATE" -> (t => Some(t.update(col("id") >= 8, Map("v" -> "concat(v, '!')")))),
    "MERGE" -> { t =>
      t.merge(df((3, "three"), (4, "gone"), (8, "eight"), (20, "twenty")), "t.id = s.id")
        .whenMatchedDelete("s.v = 'gone'")
        .whenMatchedUpdate(Map("v" -> "s.v"))
        .whenNotMatchedInsert(Map("id" -> "s.id", "v" -> "s.v"))
        .execute()
      None
    },
    replaceWhere)

  private def replaceWhere: (String, GraftTable => Option[Long]) =
    "replaceWhere" -> { t =>
      t.overwriteWhere(col("id").between(10, 12), df((10, "ten"), (11, "eleven")))
      None
    }

  private lazy val catalog: Unit =
    graft.sources.GraftCatalog.register(spark, tmpDir("rowpar-wh-"), name = "parcat")
  private val sqlNames = scala.collection.mutable.Map[String, String]()

  /** `t`'s name in the SQL catalog, registering it on first use. */
  private def sqlName(t: GraftTable): String = {
    catalog
    sqlNames.getOrElseUpdate(t.path, {
      val name = s"parcat.default.t${sqlNames.size}"
      spark.sql(s"CREATE TABLE $name USING graft LOCATION '${t.path}'")
      name
    })
  }

  /** [[apiOps]] spelled in SQL; the DELETE predicate does not translate to
    * data source filters. replaceWhere has no SQL spelling. */
  private val sqlOps: Seq[(String, GraftTable => Option[Long])] = Seq(
    "DELETE" -> { t =>
      spark.sql(s"DELETE FROM ${sqlName(t)} WHERE id IN (2, 7) AND length(v) > 0"); None },
    "UPDATE" -> { t =>
      spark.sql(s"UPDATE ${sqlName(t)} SET v = concat(v, '!') WHERE id >= 8"); None },
    "MERGE" -> { t =>
      spark.sql(
        s"""MERGE INTO ${sqlName(t)} t
           |USING (SELECT * FROM VALUES (3, 'three'), (4, 'gone'), (8, 'eight'), (20, 'twenty')
           |       AS s(id, v)) s
           |ON t.id = s.id
           |WHEN MATCHED AND s.v = 'gone' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.v = s.v
           |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
      None
    },
    replaceWhere)

  private val rowCountMetrics = Seq("numDeletedRows", "numUpdatedRows")

  private def metricsAt(t: GraftTable, v: Long): Map[String, String] =
    t.log.readVersion(v).collectFirst { case c: CommitInfo => c.operationMetrics }.get

  private def sorted(d: DataFrame): Seq[String] = d.collect().map(_.toString).toSeq.sorted

  /** Builds the twins, runs `ops` on each and checks they agree; returns
    * the twins, the version the first op committed and the ops' counts. */
  private def runTwins(prefix: String, extra: Seq[(String, String)],
      ops: Seq[(String, GraftTable => Option[Long])] = apiOps)
      : (Seq[GraftTable], Long, Seq[Option[Long]]) = {
    val twins = modes.map { case (mode, props) =>
      val t = GraftTable.create(spark, tmpDir(prefix),
        df((1 to 12).map(i => (i, s"v$i")): _*).repartition(3))
      (("changeDataFeed.enabled" -> "true") +: (extra ++ props)).foreach {
        case (k, v) => t.setProperty(k, v) }
      mode -> t
    }
    val first = twins.head._2.latestVersion + 1
    val results = twins.map { case (mode, t) =>
      mode -> ops.map { case (op, run) =>
        val n = run(t)
        val m = metricsAt(t, t.latestVersion)
        // each twin really takes its own path
        val tombstoned = m.contains("numDeletionVectors")
        assert(tombstoned == (mode == "deletion vectors"), s"$mode $op: $m")
        (op, n, rowCountMetrics.flatMap(k => m.get(k).map(k -> _)))
      }
    }
    results.tail.foreach { case (mode, r) =>
      assert(r == results.head._2, s"$mode counts differ from ${results.head._1}")
    }
    val tables = twins.map(_._2)
    val latest = tables.head.latestVersion
    assert(tables.forall(_.latestVersion == latest))
    (0L to latest).foreach { v =>
      val want = sorted(tables.head.versionAsOf(v))
      tables.tail.foreach(t => assert(sorted(t.versionAsOf(v)) == want, s"version $v"))
    }
    val feed = tables.map(t => sorted(t.changes(first - 1, latest).drop("_commit_timestamp")))
    assert(feed.head.nonEmpty)
    feed.tail.foreach(f => assert(f == feed.head, "change feeds differ"))
    (tables, first, results.head._2.map(_._2))
  }

  private def rowIds(t: GraftTable, v: Long): Seq[String] = {
    val s = t.snapshotAt(v)
    sorted(t.readFilesWithIds(s, s.files).select("id", "v", GraftTable.RowIdCol))
  }

  test("DELETE, UPDATE, MERGE and replaceWhere agree across copy-on-write, DV and DV past the cap") {
    val (tables, _, counts) = runTwins("rowpar-", Nil)
    assert(counts == Seq(Some(2L), Some(5L), None, None))
    assert(sorted(tables.head.toDF) == sorted(df(
      (1, "v1"), (3, "three"), (5, "v5"), (6, "v6"), (8, "eight"), (9, "v9!"),
      (10, "ten"), (11, "eleven"), (20, "twenty"))))
  }

  test("row ids agree across copy-on-write, DV and DV past the cap") {
    val (tables, first, counts) = runTwins("rowpar-rt-", Seq("rowTracking.enabled" -> "true"))
    assert(counts == Seq(Some(2L), Some(5L), None, None))
    (first - 1 to tables.head.latestVersion).foreach { v =>
      val ids = tables.map(rowIds(_, v))
      ids.tail.foreach(i => assert(i == ids.head, s"row ids differ at version $v"))
    }
  }

  test("SQL DELETE, UPDATE and MERGE INTO agree with the API spellings in every mode") {
    val rt = Seq("rowTracking.enabled" -> "true")
    val (api, first, _) = runTwins("rowpar-api-", rt)
    val (sql, _, _) = runTwins("rowpar-sql-", rt, sqlOps)
    modes.map(_._1).zip(api.zip(sql)).foreach { case (mode, (a, q)) =>
      assert(q.latestVersion == a.latestVersion, mode)
      (0L to a.latestVersion).foreach { v =>
        assert(sorted(q.versionAsOf(v)) == sorted(a.versionAsOf(v)), s"$mode rows at $v")
        val (ma, mq) = (metricsAt(a, v), metricsAt(q, v))
        assert(rowCountMetrics.map(mq.get) == rowCountMetrics.map(ma.get), s"$mode metrics at $v")
        assert(mq.contains("numDeletionVectors") == ma.contains("numDeletionVectors"), mode)
        if (v >= first - 1) assert(rowIds(q, v) == rowIds(a, v), s"$mode row ids at $v")
      }
      def feed(t: GraftTable) = sorted(t.changes(first - 1, t.latestVersion).drop("_commit_timestamp"))
      assert(feed(q) == feed(a), s"$mode change feeds differ")
    }
  }
}
