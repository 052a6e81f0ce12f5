package graft.queries

import java.util.concurrent.ConcurrentHashMap

import graft.sources.GraftCatalog
import org.apache.spark.sql.SparkSession

/** SQL-catalog front door, oracle-checked: graft tables addressed BY NAME
  * from `spark.sql` — the reference's `spark.sql.catalog` bootstrap line
  * (spark_project.py:11-13) re-expressed as a DSv2 `TableCatalog`
  * (sources/GraftCatalog.scala). Both queries run PURE SQL end to end:
  * DDL, DML and reads never touch the DataFrame API, which is exactly the
  * surface a Spark SQL user hits first.
  */
object CatalogQueries {

  /** One warehouse + catalog registration per JVM; fixtures memoized like
    * every other table scenario (Verify and Bench re-run builders). */
  private val cache = new ConcurrentHashMap[String, String]()

  private def registered(s: SparkSession): Unit =
    cache.computeIfAbsent("warehouse", _ => {
      val wh = graft.Scratch.dir("graft-sql-wh-").toString
      GraftCatalog.register(s, wh)
      wh
    })

  private def sfx(dir: String): String = dir.replaceAll("[^A-Za-z0-9]+", "_")

  /** Build the per-dir CTAS fixture without running the measured query —
    * Bench warms this untimed so q133 times the name-resolved aggregate,
    * not the one-time CTAS load. */
  def warmFixtures(s: SparkSession, dir: String): Unit = { ctasTable(s, dir); () }

  private def ctasTable(s: SparkSession, dir: String): String = {
    registered(s)
    val t = s"graft.default.orders_${sfx(dir)}"
    cache.computeIfAbsent(s"ctas:$dir", _ => {
      s.sql(s"""CREATE TABLE $t USING graft AS
               |SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
               |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      t
    })
    t
  }

  val all: Seq[(String, Q)] = Seq(

    // ---- Name-based SQL over a CTAS-created catalog table --------------------------
    // CREATE TABLE ... USING graft AS SELECT loads orders into the
    // warehouse; the measured query aggregates BY NAME through the DSv2
    // scan (filter + column pushdown feed the same stats-pruning path as
    // GraftTable.scan). The oracle runs the identical SQL on the raw
    // parquet — proving the catalog round trip (CTAS write → log →
    // name-resolved read) is lossless.
    "q133_catalog_sql_agg" -> Q(
      (s, dir) => {
        val t = ctasTable(s, dir)
        s.sql(
          s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
             |  ${Exact.sqlSumExact("o_totalprice")} AS total_price
             |FROM $t
             |WHERE o_totalprice > 50000.0
             |GROUP BY o_orderstatus, o_orderpriority
             |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
      },
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
         |  ${Exact.sqlSumExact("o_totalprice")} AS total_price
         |FROM orders
         |WHERE o_totalprice > 50000.0
         |GROUP BY o_orderstatus, o_orderpriority
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),

    // ---- SQL time travel across a DDL+DML history ----------------------------------
    // The golden-scenario shape (q70/q71) driven ENTIRELY through SQL:
    // CREATE, two INSERTs, a DELETE — then every version read back with
    // `VERSION AS OF` and tagged, so one result pins the whole history.
    // The literal-VALUES oracle is the ground truth of each snapshot.
    "q134_sql_time_travel" -> Q(
      (s, _) => {
        registered(s)
        val t = "graft.default.people_tt"
        cache.computeIfAbsent("people_tt", _ => {
          s.sql(s"CREATE TABLE $t (id INT, firstname STRING, lastname STRING) USING graft")
          s.sql(s"INSERT INTO $t VALUES (1, 'James', 'Bond'), " +
            "(2, 'Alice', 'Rogers'), (3, 'Joe', 'Bloggs')") // v1
          s.sql(s"INSERT INTO $t VALUES (4, 'New', 'Person')") // v2
          s.sql(s"DELETE FROM $t WHERE id = 1 OR id = 3") // v3
          t
        })
        s.sql(
          s"""SELECT 1 AS v, * FROM $t VERSION AS OF 1
             |UNION ALL SELECT 2 AS v, * FROM $t VERSION AS OF 2
             |UNION ALL SELECT 3 AS v, * FROM $t
             |ORDER BY v, id""".stripMargin)
      },
      """SELECT * FROM (VALUES
        |  (1, 1, 'James', 'Bond'), (1, 2, 'Alice', 'Rogers'), (1, 3, 'Joe', 'Bloggs'),
        |  (2, 1, 'James', 'Bond'), (2, 2, 'Alice', 'Rogers'), (2, 3, 'Joe', 'Bloggs'),
        |  (2, 4, 'New', 'Person'),
        |  (3, 2, 'Alice', 'Rogers'), (3, 4, 'New', 'Person'))
        |AS t(v, id, firstname, lastname) ORDER BY v, id""".stripMargin),

    // ---- The reference's golden DML scenario, driven by PURE SQL ------------------
    // q70 replays api.py:88-107 through the Scala table API; this replays
    // the IDENTICAL scenario through nothing but spark.sql statements —
    // CREATE, seed INSERT, the same MERGE INTO (update one + insert one),
    // the same DELETE — and must land on the identical final state. The
    // MERGE and the DELETE run the table layer's native merge and delete
    // through GraftExtensions' DML rule (sources/GraftDml.scala), one
    // atomic commit each. The history tail in the output pins that each
    // statement became exactly one commit of the right kind.
    "q136_sql_golden_dml" -> Q(
      (s, _) => s.sql(s"SELECT * FROM ${goldenDml(s)} ORDER BY id"),
      """SELECT * FROM (VALUES (2, 'Alice', 'Smith'), (4, 'New', 'Person'))
        |AS t(id, firstname, lastname) ORDER BY id""".stripMargin),

    // ---- DESCRIBE HISTORY front door: the graft_history table function -----------
    // Delta users read a table's operation ledger from SQL; graft_history
    // (GraftExtensions.scala — injectTableFunction, analysis-time driver
    // metadata fold) is that front door. The ledger of the q136 scenario
    // pins that each pure-SQL statement became exactly one commit of the
    // right operation kind.
    "q137_sql_history" -> Q(
      (s, _) => {
        goldenDml(s)
        s.sql(s"""SELECT version, operation
                 |FROM graft_history('${goldenDmlPath(s)}')
                 |ORDER BY version DESC""".stripMargin)
      },
      """SELECT * FROM (VALUES (3, 'DELETE'), (2, 'MERGE'), (1, 'WRITE'), (0, 'CREATE'))
        |AS t(version, operation) ORDER BY version DESC""".stripMargin),

    // ---- SQL change data feed: the graft_table_changes table function ------------
    // Delta's table_changes shape over the q136 history: the MERGE's
    // copy-on-write file rewrite must surface ONLY its semantic deltas
    // (update = delete-pre + insert-post, plus the insert) — rows merely
    // rewritten unchanged cancel in the file-diff CDF — and the DELETE's
    // two removed rows close the feed. Literal-VALUES oracle, q74 pattern.
    "q138_sql_cdf" -> Q(
      (s, _) => {
        goldenDml(s)
        // `_commit_timestamp` is wall-clock — assert it equals the commit's
        // history timestamp (deterministic) instead of selecting it raw
        s.sql(s"""SELECT c.id, c.firstname, c.lastname, c._change_type,
                 |       c._commit_version,
                 |       c._commit_timestamp = h.timestamp AS ts_ok
                 |FROM graft_table_changes('${goldenDmlPath(s)}', 0, 3) c
                 |JOIN graft_history('${goldenDmlPath(s)}') h
                 |  ON c._commit_version = h.version
                 |ORDER BY _commit_version, _change_type, id""".stripMargin)
      },
      """SELECT * FROM (VALUES
        |  (1, 'James', 'Bond',   'insert', CAST(1 AS BIGINT), TRUE),
        |  (2, 'Alice', 'Rogers', 'insert', CAST(1 AS BIGINT), TRUE),
        |  (3, 'Joe',   'Bloggs', 'insert', CAST(1 AS BIGINT), TRUE),
        |  (2, 'Alice', 'Rogers', 'delete', CAST(2 AS BIGINT), TRUE),
        |  (2, 'Alice', 'Smith',  'insert', CAST(2 AS BIGINT), TRUE),
        |  (4, 'New',   'Person', 'insert', CAST(2 AS BIGINT), TRUE),
        |  (1, 'James', 'Bond',   'delete', CAST(3 AS BIGINT), TRUE),
        |  (3, 'Joe',   'Bloggs', 'delete', CAST(3 AS BIGINT), TRUE))
        |AS t(id, firstname, lastname, _change_type, _commit_version, ts_ok)
        |ORDER BY _commit_version, _change_type, id""".stripMargin),
  )

  /** The q136 pure-SQL golden scenario, built once per JVM; returns the
    * catalog NAME (q137/q138 read its metadata surfaces by PATH). */
  private def goldenDml(s: SparkSession): String = {
    registered(s)
    val t = "graft.default.people_dml"
    cache.computeIfAbsent("people_dml", _ => {
      s.sql(s"CREATE TABLE $t (id INT, firstname STRING, lastname STRING) USING graft")
      s.sql(s"INSERT INTO $t VALUES (1, 'James', 'Bond'), " +
        "(2, 'Alice', 'Rogers'), (3, 'Joe', 'Bloggs')") // v1
      s.sql(s"""MERGE INTO $t t
               |USING (SELECT * FROM VALUES (2, 'Alice', 'Smith'), (4, 'New', 'Person')
               |       AS s(id, firstname, lastname)) s
               |ON t.id = s.id
               |WHEN MATCHED THEN UPDATE SET t.firstname = s.firstname, t.lastname = s.lastname
               |WHEN NOT MATCHED THEN INSERT (id, firstname, lastname)
               |  VALUES (s.id, s.firstname, s.lastname)""".stripMargin) // v2
      s.sql(s"DELETE FROM $t WHERE id = 1 OR id = 3") // v3
      t
    })
    t
  }

  private def goldenDmlPath(s: SparkSession): String =
    s"${cache.get("warehouse")}/default/people_dml"
}
