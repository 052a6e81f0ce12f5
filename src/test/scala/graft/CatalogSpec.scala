package graft

import java.nio.file.{Files, Paths}

import graft.sources.GraftCatalog
import graft.table.GraftTable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** DSv2 TableCatalog surface: name-based SQL create/read/insert/delete,
  * time travel, CTAS, external-location registration, namespaces, rename,
  * drop — the SQL front door over the graft table layer. */
class CatalogSpec extends SparkTestBase {

  private lazy val wh = tmpDir("graft-cat-wh-")
  private def sql(q: String) = spark.sql(q)

  private lazy val registered: Unit =
    GraftCatalog.register(spark, wh, name = "gcat")

  test("CREATE TABLE / INSERT INTO / SELECT by name") {
    registered
    sql("CREATE TABLE gcat.default.people (id INT, firstname STRING, lastname STRING) USING graft")
    sql("INSERT INTO gcat.default.people VALUES " +
      "(1, 'James', 'Bond'), (2, 'Alice', 'Rogers'), (3, 'Joe', 'Bloggs')")
    val rows = sql("SELECT * FROM gcat.default.people ORDER BY id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(rows(1).getString(2) == "Rogers")
    // the managed table physically lives under the warehouse
    assert(GraftTable.isGraftTable(s"$wh/default/people"))
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    registered
    sql("CREATE TABLE gcat.default.tt (id INT, v STRING) USING graft")
    sql("INSERT INTO gcat.default.tt VALUES (1, 'one')")          // v1
    sql("INSERT INTO gcat.default.tt VALUES (2, 'two')")          // v2
    assert(sql("SELECT * FROM gcat.default.tt VERSION AS OF 1").count() == 1)
    assert(sql("SELECT * FROM gcat.default.tt VERSION AS OF 2").count() == 2)
    assert(sql("SELECT * FROM gcat.default.tt").count() == 2)
    // option-based travel on the NAMED table (the reader-API spelling)
    assert(spark.read.option("versionAsOf", 1).table("gcat.default.tt").count() == 1)
    // timestamp of commit 1 resolves to the v1 snapshot
    val t = GraftTable.forPath(spark, s"$wh/default/tt")
    val ts1 = new java.sql.Timestamp(t.log.commitInfos(1).timestamp)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val n = sql(s"SELECT * FROM gcat.default.tt TIMESTAMP AS OF '${fmt.format(ts1)}'").count()
    assert(n == 1)
  }

  test("INSERT OVERWRITE is one atomic commit") {
    registered
    sql("CREATE TABLE gcat.default.ow (id INT, v STRING) USING graft")
    sql("INSERT INTO gcat.default.ow VALUES (1, 'a'), (2, 'b')")
    sql("INSERT OVERWRITE gcat.default.ow VALUES (9, 'z')")
    val rows = sql("SELECT * FROM gcat.default.ow").collect()
    assert(rows.toSeq == Seq(Row(9, "z")))
    val t = GraftTable.forPath(spark, s"$wh/default/ow")
    val ops = t.history().select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.head == "OVERWRITE") // newest-first; single commit, no TRUNCATE+WRITE pair
    assert(t.latestVersion == 2)
  }

  test("DELETE FROM routes to the table layer's predicate delete") {
    registered
    sql("CREATE TABLE gcat.default.del (id INT, v STRING) USING graft")
    sql("INSERT INTO gcat.default.del VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("DELETE FROM gcat.default.del WHERE id = 2 OR v = 'c'")
    assert(sql("SELECT id FROM gcat.default.del").collect().map(_.getInt(0)).toSeq == Seq(1))
    val ops = GraftTable.forPath(spark, s"$wh/default/del")
      .history().select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.head == "DELETE")
  }

  test("CTAS and filter pushdown through the name-based scan") {
    registered
    sql(s"CREATE TABLE gcat.default.orders_ctas USING graft AS " +
      s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM parquet.`$sfDir/orders.parquet`")
    val direct = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_totalprice") > 100000.0).count()
    val byName = sql(
      "SELECT * FROM gcat.default.orders_ctas WHERE o_totalprice > 100000.0").count()
    assert(byName == direct && byName > 0)
    // aggregate parity over the full table
    val s1 = sql("SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM gcat.default.orders_ctas")
      .head().getDouble(0)
    val s2 = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")).head().getDouble(0)
    assert(s1 == s2)
  }

  test("external LOCATION registers an existing path table; DROP keeps data") {
    registered
    val dir = tmpDir("graft-cat-ext-")
    import spark.implicits._
    GraftTable.create(spark, dir, Seq((1, "x"), (2, "y")).toDF("id", "v"))
    sql(s"CREATE TABLE gcat.default.ext USING graft LOCATION '$dir'")
    assert(sql("SELECT * FROM gcat.default.ext").count() == 2)
    // writes by name hit the same physical table
    sql("INSERT INTO gcat.default.ext VALUES (3, 'z')")
    assert(GraftTable.forPath(spark, dir).toDF.count() == 3)
    sql("DROP TABLE gcat.default.ext")
    assert(!spark.catalog.tableExists("gcat.default.ext"))
    assert(GraftTable.isGraftTable(dir)) // data untouched
  }

  test("partitioned CREATE TABLE lays out hive dirs") {
    registered
    sql("CREATE TABLE gcat.default.plang (doc_id INT, lang STRING) USING graft PARTITIONED BY (lang)")
    sql("INSERT INTO gcat.default.plang VALUES (1, 'en'), (2, 'fr'), (3, 'en')")
    assert(Files.isDirectory(Paths.get(s"$wh/default/plang/lang=en")))
    assert(sql("SELECT doc_id FROM gcat.default.plang WHERE lang = 'en' ORDER BY doc_id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("SHOW TABLES / DESCRIBE / namespaces / rename / drop") {
    registered
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.lab")
    sql("CREATE TABLE gcat.lab.t1 (id INT) USING graft")
    val shown = sql("SHOW TABLES IN gcat.lab").collect().map(_.getString(1)).toSeq
    assert(shown.contains("t1"))
    val desc = sql("DESCRIBE TABLE gcat.lab.t1").collect().map(_.getString(0)).toSeq
    assert(desc.contains("id"))
    val nss = sql("SHOW NAMESPACES IN gcat").collect().map(_.getString(0)).toSeq
    assert(nss.contains("lab") && nss.contains("default"))
    sql("ALTER TABLE gcat.lab.t1 RENAME TO gcat.lab.t2")
    assert(sql("SHOW TABLES IN gcat.lab").collect().map(_.getString(1)).toSeq == Seq("t2"))
    sql("ALTER TABLE gcat.lab.t2 SET TBLPROPERTIES ('team' = 'graft')")
    assert(sql("SHOW TBLPROPERTIES gcat.lab.t2").collect()
      .exists(r => r.getString(0) == "team" && r.getString(1) == "graft"))
    sql("ALTER TABLE gcat.lab.t2 UNSET TBLPROPERTIES ('team')")
    assert(!sql("SHOW TBLPROPERTIES gcat.lab.t2").collect().exists(_.getString(0) == "team"))
    sql("DROP TABLE gcat.lab.t2")
    sql("DROP NAMESPACE gcat.lab")
    assert(!sql("SHOW NAMESPACES IN gcat").collect().map(_.getString(0)).toSeq.contains("lab"))
  }

  test("SQL UPDATE rewrites rows through the row-level operation") {
    registered
    sql("CREATE TABLE gcat.default.upd (id INT, v STRING) USING graft")
    sql("INSERT INTO gcat.default.upd VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("UPDATE gcat.default.upd SET v = 'B' WHERE id = 2")
    val rows = sql("SELECT * FROM gcat.default.upd ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a"), (2, "B"), (3, "c")))
    val ops = GraftTable.forPath(spark, s"$wh/default/upd")
      .history().select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.head == "UPDATE")
  }

  test("SQL MERGE INTO reproduces the golden upsert semantics") {
    registered
    sql("CREATE TABLE gcat.default.mrg (id INT, firstname STRING, lastname STRING) USING graft")
    sql("INSERT INTO gcat.default.mrg VALUES " +
      "(1, 'James', 'Bond'), (2, 'Alice', 'Rogers'), (3, 'Joe', 'Bloggs')")
    sql("""MERGE INTO gcat.default.mrg t
          |USING (SELECT * FROM VALUES (2, 'Alice', 'Smith'), (4, 'New', 'Person')
          |       AS s(id, firstname, lastname)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.firstname = s.firstname, t.lastname = s.lastname
          |WHEN NOT MATCHED THEN INSERT (id, firstname, lastname)
          |  VALUES (s.id, s.firstname, s.lastname)""".stripMargin)
    val rows = sql("SELECT * FROM gcat.default.mrg ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq((1, "James", "Bond"), (2, "Alice", "Smith"),
      (3, "Joe", "Bloggs"), (4, "New", "Person")))
  }

  test("SQL MERGE INTO works on a table evolved by a builder MERGE") {
    registered
    sql("CREATE TABLE gcat.default.mrgevo (id INT, name STRING) USING graft")
    sql("INSERT INTO gcat.default.mrgevo VALUES (1, 'a'), (2, 'b')")
    val t = graft.table.GraftTable.forPath(spark, s"$wh/default/mrgevo")
    val srcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.IntegerType, nullable = true)))
    t.merge(spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(2, "b2", 20)), srcSchema),
        "t.id = s.id")
      .withSchemaEvolution()
      .whenMatchedUpdate(Map("name" -> "s.name", "score" -> "s.score"))
      .execute()
    // the catalog serves the evolved schema, and SQL MERGE writes through it
    sql("""MERGE INTO gcat.default.mrgevo t
          |USING (SELECT * FROM VALUES (1, 'a1', 11), (3, 'c', 33)
          |       AS s(id, name, score)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.name = s.name, t.score = s.score
          |WHEN NOT MATCHED THEN INSERT (id, name, score)
          |  VALUES (s.id, s.name, s.score)""".stripMargin)
    val rows = sql("SELECT * FROM gcat.default.mrgevo ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(rows == Seq((1, "a1", 11), (2, "b2", 20), (3, "c", 33)))
  }

  test("SQL MERGE INTO: DELETE, conditional clauses, and NOT MATCHED BY SOURCE") {
    registered
    sql("CREATE TABLE gcat.default.mrgfull (id INT, status STRING, v INT) USING graft")
    sql("INSERT INTO gcat.default.mrgfull VALUES " +
      "(1, 'live', 10), (2, 'dead', 20), (3, 'live', 30), (4, 'live', 40)")
    // source covers 1 (update), 2 (conditional delete), 5 (insert);
    // rows 3 and 4 are not matched by source: 3 deleted by condition,
    // 4 swept into 'stale' by the by-source update
    sql("""MERGE INTO gcat.default.mrgfull t
          |USING (SELECT * FROM VALUES (1, 'live', 11), (2, 'x', 0), (5, 'new', 50)
          |       AS s(id, status, v)) s
          |ON t.id = s.id
          |WHEN MATCHED AND t.status = 'dead' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, status, v) VALUES (s.id, s.status, s.v)
          |WHEN NOT MATCHED BY SOURCE AND t.v = 30 THEN DELETE
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.status = 'stale'""".stripMargin)
    val rows = sql("SELECT * FROM gcat.default.mrgfull ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1, "live", 11), (4, "stale", 40), (5, "new", 50)))
    // one atomic commit for the whole statement
    val t = GraftTable.forPath(spark, s"$wh/default/mrgfull")
    assert(t.history().select("operation").collect().map(_.getString(0)).toSeq
      .count(_ == "MERGE") == 1)
    // time travel still sees the pre-merge state; history records MERGE
    assert(sql("SELECT * FROM gcat.default.mrg VERSION AS OF 1").count() == 3)
    val ops = GraftTable.forPath(spark, s"$wh/default/mrg")
      .history().select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.head == "MERGE")
  }

  test("runtime group filtering: UPDATE rewrites only files containing matches") {
    registered
    import spark.implicits._
    // three single-row files via three INSERT commits
    sql("CREATE TABLE gcat.default.grp (id INT, v STRING) USING graft")
    sql("INSERT INTO gcat.default.grp VALUES (1, 'a')")
    sql("INSERT INTO gcat.default.grp VALUES (2, 'b')")
    sql("INSERT INTO gcat.default.grp VALUES (3, 'c')")
    val t = GraftTable.forPath(spark, s"$wh/default/grp")
    val filesBefore = t.snapshot.files.map(_.path).toSet
    assert(filesBefore.size == 3)
    sql("UPDATE gcat.default.grp SET v = 'B' WHERE id = 2")
    // only the file holding id=2 was replaced; the other two survive
    val commit = t.log.readVersion(t.latestVersion)
    val removed = commit.collect { case r: graft.table.RemoveFile => r.path }
    assert(removed.size == 1, s"expected 1 removed file, got $removed")
    val filesAfter = t.snapshot.files.map(_.path).toSet
    assert((filesBefore intersect filesAfter).size == 2, "unmatched files must survive")
    assert(sql("SELECT v FROM gcat.default.grp ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("a", "B", "c"))
    // an unmatched MERGE with only a MATCHED clause removes nothing
    sql("""MERGE INTO gcat.default.grp t
          |USING (SELECT * FROM VALUES (99, 'zz') AS s(id, v)) s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    val mergeCommit = t.log.readVersion(t.latestVersion)
    assert(mergeCommit.collect { case r: graft.table.RemoveFile => r }.isEmpty,
      "unmatched MERGE must not rewrite any file")
    assert(sql("SELECT COUNT(*) FROM gcat.default.grp").head().getLong(0) == 3)
  }

  test("group-scan file pruning: a selective UPDATE never scans provably unmatched files") {
    registered
    // three files with DISJOINT id ranges (stats prune on id), 1000 rows each
    sql("CREATE TABLE gcat.default.grppr (id INT, v STRING) USING graft")
    (0 until 3).foreach { b =>
      val lo = b * 1000
      sql(s"INSERT INTO gcat.default.grppr SELECT id, 'x' FROM range($lo, ${lo + 1000}) AS t(id)")
    }
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        reads.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      sql("UPDATE gcat.default.grppr SET v = 'y' WHERE id = 1500")
      // listener events are async; give the bus a moment to drain
      Thread.sleep(2000)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the command runs two scans (match discovery + rewrite); both must
    // plan only the single stat-matching 1000-row file — without
    // predicate-driven pruning the discovery alone reads all 3000
    assert(reads.get() <= 2200,
      s"UPDATE scanned ${reads.get()} rows; pruning should bound it by ~2 x 1000")
    assert(sql("SELECT v FROM gcat.default.grppr WHERE id = 1500").head().getString(0) == "y")
    assert(sql("SELECT COUNT(*) FROM gcat.default.grppr WHERE v = 'y'").head().getLong(0) == 1)
  }

  test("_file metadata column is selectable") {
    registered
    sql("CREATE TABLE gcat.default.mf (id INT) USING graft")
    sql("INSERT INTO gcat.default.mf VALUES (1), (2)")
    val files = sql("SELECT DISTINCT _file FROM gcat.default.mf").collect()
    assert(files.nonEmpty && files.forall(_.getString(0).contains("part-")))
  }

  test("ALTER TABLE ADD COLUMN evolves without rewriting files") {
    registered
    sql("CREATE TABLE gcat.default.evo (id INT) USING graft")
    sql("INSERT INTO gcat.default.evo VALUES (1), (2)")
    val t = GraftTable.forPath(spark, s"$wh/default/evo")
    val filesBefore = t.snapshot.files.map(_.path).toSet
    sql("ALTER TABLE gcat.default.evo ADD COLUMN note STRING")
    assert(t.snapshot.files.map(_.path).toSet == filesBefore, "metadata-only commit")
    // old rows read the new column as null; new inserts carry it
    sql("INSERT INTO gcat.default.evo VALUES (3, 'three')")
    val rows = sql("SELECT id, note FROM gcat.default.evo ORDER BY id").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    assert(rows == Seq((1, None), (2, None), (3, Some("three"))))
    // time travel to before the evolution keeps the old schema
    assert(sql("SELECT * FROM gcat.default.evo VERSION AS OF 1").columns.toSeq == Seq("id"))
  }

  test("CALL graft.system.optimize / vacuum / restore procedures") {
    registered
    sql("CREATE TABLE gcat.default.proc (id INT, v STRING) USING graft")
    (1 to 5).foreach(i => sql(s"INSERT INTO gcat.default.proc VALUES ($i, 'v$i')"))
    val t = GraftTable.forPath(spark, s"$wh/default/proc")
    val filesBefore = t.snapshot.files.size

    val opt = sql("CALL gcat.system.optimize(`table` => 'default.proc')").head()
    assert(opt.getLong(0) == filesBefore && opt.getLong(1) < filesBefore)
    assert(t.history().select("operation").head().getString(0) == "OPTIMIZE")
    assert(sql("SELECT COUNT(*) FROM gcat.default.proc").head().getLong(0) == 5)

    // restore to v2 (two inserts in) while its files still exist on disk
    val res = sql("CALL gcat.system.restore(`table` => 'default.proc', version => 2)").head()
    assert(res.getLong(0) == 2)
    assert(sql("SELECT id FROM gcat.default.proc ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2))

    // aggressive retention needs the explicit opt-out (safety check)
    sql("ALTER TABLE gcat.default.proc SET TBLPROPERTIES(" +
      "'vacuum.retentionDurationCheck' = 'false')")
    // dry run first: same figure, nothing deleted
    val dry = sql("CALL gcat.system.vacuum(`table` => 'default.proc', " +
      "retention_ms => 0, dry_run => true)").head()
    assert(dry.getLong(0) > 0 && dry.getBoolean(1))
    assert(sql("SELECT COUNT(*) FROM gcat.default.proc").head().getLong(0) == 2)
    // vacuum now drops everything the restored head no longer references
    // (the compacted file and the later inserts' files)
    val vac = sql("CALL gcat.system.vacuum(`table` => 'default.proc', retention_ms => 0)").head()
    assert(vac.getLong(0) == dry.getLong(0) && !vac.getBoolean(1))
    assert(sql("SELECT id FROM gcat.default.proc ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("CALL optimize with a where predicate compacts only the matching slice") {
    registered
    sql("CREATE TABLE gcat.default.scopt (id INT, grp STRING) USING graft")
    (1 to 4).foreach(i =>
      sql(s"INSERT INTO gcat.default.scopt VALUES ($i, '${if (i <= 2) "a" else "b"}')"))
    val t = GraftTable.forPath(spark, s"$wh/default/scopt")
    val before = t.snapshot.files.map(_.path).toSet
    sql("CALL gcat.system.optimize(`table` => 'default.scopt', `where` => \"grp = 'a'\")")
    val after = t.snapshot.files.map(_.path).toSet
    assert((before -- after).nonEmpty, "the 'a' slice must compact")
    assert(sql("SELECT COUNT(*) FROM gcat.default.scopt").head().getLong(0) == 4)
  }

  test("CALL graft.system.help lists procedures, confs, and table properties") {
    registered
    val all = sql("CALL gcat.system.help()").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(all.contains(("procedure", "optimize")))
    assert(all.contains(("conf", "spark.graft.logStore.class")),
      "the pluggable-LogStore conf must be CALL-visible")
    assert(all.contains(("conf", "spark.graft.spj.enabled")))
    assert(all.contains(("property", "variant.shred.paths")))
    // topic filter narrows by substring across kind/name/description
    val filtered = sql("CALL gcat.system.help(topic => 'logstore')").collect()
    assert(filtered.length >= 1 &&
      filtered.forall(_.getString(1).toLowerCase.contains("logstore")))
  }

  test("CALL graft.system.convert imports a parquet dir in place") {
    registered
    import spark.implicits._
    val dir = tmpDir("cat-conv-")
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.mode("append").parquet(dir)
    val res = sql(s"CALL gcat.system.convert(path => '$dir')").head()
    assert(res.getLong(0) >= 1 && res.getLong(1) == 2)
    // the converted dir reads as a graft table (incl. through the source)
    assert(spark.read.format("graft").load(dir).count() == 2)
    assert(GraftTable.forPath(spark, dir).history()
      .select("operation").first().getString(0) == "CONVERT")
  }

  test("log-derived statistics auto-broadcast a small graft table in SQL joins") {
    registered
    import spark.implicits._
    sql("CREATE TABLE gcat.default.dim (k BIGINT, name STRING) USING graft")
    sql("INSERT INTO gcat.default.dim SELECT id, CAST(id AS STRING) FROM range(50)")
    (0L until 20000L).map(i => (i % 50, i)).toDF("k", "x")
      .createOrReplaceTempView("fact_stats_test")
    val joined = sql(
      "SELECT f.k, d.name FROM fact_stats_test f JOIN gcat.default.dim d ON f.k = d.k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a 50-row graft dim must broadcast (stats reported from the log):\n$plan")
    assert(joined.count() == 20000L)
    // the DSv2 scan reports the snapshot's exact rows/bytes
    val t = GraftTable.forPath(spark, s"$wh/default/dim")
    val stats = new graft.sources.GraftV1Scan(t, t.snapshot, t.snapshot.schema, None)
      .estimateStatistics()
    assert(stats.numRows().getAsLong == 50L)
    assert(stats.sizeInBytes().getAsLong == t.snapshot.files.map(_.size).sum)
  }

  test("generated/identity columns declare through native CREATE TABLE syntax") {
    registered
    // Spark 4 parses both clauses once the catalog declares the
    // capabilities; INSERT omitting the engine-maintained columns works
    // because they carry a NULL SQL default the engine then replaces
    sql("CREATE TABLE gcat.default.genid (" +
      "row_id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1000 INCREMENT BY 1), " +
      "ts TIMESTAMP, v INT, " +
      "day DATE GENERATED ALWAYS AS (CAST(date_trunc('DAY', ts) AS DATE))" +
      ") USING graft")
    sql("INSERT INTO gcat.default.genid (ts, v) " +
      "VALUES (timestamp'2024-05-01 10:00:00', 1), (timestamp'2024-05-02 11:00:00', 2)")
    val rows = sql("SELECT row_id, CAST(day AS STRING) AS day FROM gcat.default.genid ORDER BY day")
      .collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("2024-05-01", "2024-05-02"))
    assert(rows.map(_.getLong(0)).distinct.length == 2)
    assert(rows.map(_.getLong(0)).forall(_ >= 1000L))
    // the declarations live in the schema, not as dead properties
    val t = GraftTable.forPath(spark, s"$wh/default/genid")
    assert(graft.table.GeneratedColumns.names(t.snapshot.schema) == Set("day"))
    assert(graft.table.IdentityColumns.of(t.snapshot.schema) ==
      Seq(graft.table.IdentityColumns.Spec("row_id", 1000L, 1L)))
  }

  test("CHECK constraints through native ADD/DROP CONSTRAINT DDL and TBLPROPERTIES") {
    registered
    sql("CREATE TABLE gcat.default.chk (id INT, v INT) USING graft")
    sql("INSERT INTO gcat.default.chk VALUES (1, 5)")
    // native Spark 4 constraint DDL (SUPPORT_TABLE_CONSTRAINT capability)
    sql("ALTER TABLE gcat.default.chk ADD CONSTRAINT v_pos CHECK (v > 0)")
    val t = GraftTable.forPath(spark, s"$wh/default/chk")
    assert(t.snapshot.metaData.constraints.get("v_pos").exists(_.contains("v > 0")))
    // enforced on write, not stored as a dead property
    val e = intercept[Exception](sql("INSERT INTO gcat.default.chk VALUES (2, -1)"))
    assert(e.getMessage.contains("v_pos"))
    sql("ALTER TABLE gcat.default.chk DROP CONSTRAINT v_pos")
    sql("INSERT INTO gcat.default.chk VALUES (2, -1)") // now allowed
    assert(sql("SELECT count(*) FROM gcat.default.chk").head().getLong(0) == 2)
    // the TBLPROPERTIES spelling routes to the same machinery
    sql("ALTER TABLE gcat.default.chk SET TBLPROPERTIES ('constraint.id_pos' = 'id > 0')")
    assert(GraftTable.forPath(spark, s"$wh/default/chk")
      .snapshot.metaData.constraints.get("id_pos").contains("id > 0"))
    sql("ALTER TABLE gcat.default.chk UNSET TBLPROPERTIES ('constraint.id_pos')")
  }

  test("bloom.columns property at CREATE configures native bloom filters") {
    registered
    sql("CREATE TABLE gcat.default.bl (k BIGINT, v STRING) USING graft " +
      "TBLPROPERTIES ('bloom.columns' = 'k', 'bloom.ndv' = '1000')")
    sql("INSERT INTO gcat.default.bl SELECT id, CAST(id AS STRING) FROM range(1000)")
    val t = GraftTable.forPath(spark, s"$wh/default/bl")
    assert(t.snapshot.metaData.properties.get("bloom.columns").contains("k"))
    assert(sql("SELECT v FROM gcat.default.bl WHERE k = 77").head().getString(0) == "77")
  }

  test("graft_table_changes accepts timestamp bounds (Delta table_changes parity)") {
    import spark.implicits._
    val dir = tmpDir("cdf-ts-")
    val t = graft.table.GraftTable.create(spark,
      dir, Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))   // v1
    t.append(Seq((3, "c")).toDF("id", "v"))   // v2
    val ts = t.history().orderBy(col("version"))
      .select(col("timestamp").cast("string")).collect().map(_.getString(0))
    // version bounds are (from, to]; ts bounds are the INCLUSIVE
    // [fromTs, toTs] — Delta's table_changes shape — so [ts(v1), ts(v2)]
    // equals the version window (0, 2]
    val byVersion = spark.sql(
      s"SELECT id, _change_type, _commit_version FROM graft_table_changes('$dir', 0, 2)")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val byTs = spark.sql(
      s"SELECT id, _change_type, _commit_version FROM graft_table_changes('$dir', '${ts(1)}', '${ts(2)}')")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(byTs.toSeq === byVersion.toSeq)
    assert(byTs.map(_._3).toSet === Set(1L, 2L))
    // a start past the last commit must refuse loudly, never misresolve
    intercept[Exception](spark.sql(
      s"SELECT * FROM graft_table_changes('$dir', '2999-01-01 00:00:00', '2999-01-02 00:00:00')").collect())
  }

  test("ALTER COLUMN SET / DROP DEFAULT changes future writes only") {
    registered
    sql("CREATE TABLE gcat.default.defs (id INT, status STRING DEFAULT 'new') USING graft")
    sql("INSERT INTO gcat.default.defs (id) VALUES (1)")
    sql("ALTER TABLE gcat.default.defs ALTER COLUMN status SET DEFAULT 'active'")
    sql("INSERT INTO gcat.default.defs (id) VALUES (2)")
    val rows = sql("SELECT id, status FROM gcat.default.defs ORDER BY id").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "new"), (2, "active")),
      "existing rows keep their written value; only future writes see the new default")
    sql("ALTER TABLE gcat.default.defs ALTER COLUMN status DROP DEFAULT")
    sql("INSERT INTO gcat.default.defs VALUES (3, 'explicit')")
    assert(sql("SELECT status FROM gcat.default.defs WHERE id = 3").head().getString(0)
      === "explicit")
    // the change is a versioned metadata commit like any other DDL
    assert(sql("SELECT operation FROM graft_history('" + wh + "/default/defs') " +
      "ORDER BY version DESC LIMIT 3").collect().map(_.getString(0))
      .contains("ALTER COLUMN"))
  }

  test("ADD COLUMN ... DEFAULT: existing rows read the existence default, future writes the current one") {
    registered
    sql("CREATE TABLE gcat.default.acd (id INT) USING graft")
    sql("INSERT INTO gcat.default.acd VALUES (1)")
    sql("ALTER TABLE gcat.default.acd ADD COLUMN c STRING DEFAULT 'x'")
    // the pre-existing row reads the EXISTS_DEFAULT (fixed at ADD COLUMN);
    // an insert omitting the column receives the CURRENT_DEFAULT
    sql("INSERT INTO gcat.default.acd (id) VALUES (2)")
    sql("INSERT INTO gcat.default.acd VALUES (3, 'explicit')")
    val rows = sql("SELECT id, c FROM gcat.default.acd ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows === Seq((1, "x"), (2, "x"), (3, "explicit")),
      s"old rows must read the existence default, got $rows")
  }

  test("CREATE/ALTER TABLE ... CLUSTER BY routes to clustering.columns; OPTIMIZE maintains it") {
    registered
    sql("CREATE TABLE gcat.default.clus (id BIGINT, score DOUBLE, day INT) USING graft CLUSTER BY (id, score)")
    val dir = sql("DESCRIBE TABLE EXTENDED gcat.default.clus")
      .filter("col_name = 'Location'").head().getString(1)
    def prop(): Option[String] = graft.table.GraftTable.forPath(spark, dir)
      .snapshot.metaData.properties.get("clustering.columns")
    assert(prop().contains("id,score"),
      s"CLUSTER BY must land as the clustering property, got ${prop()}")
    // the declaration round-trips the DSv2 partitioning report
    import scala.jdk.CollectionConverters._
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "clus"))
    assert(tbl.partitioning().exists(
      _.isInstanceOf[org.apache.spark.sql.connector.expressions.ClusterByTransform]))
    // writes + bare OPTIMIZE maintain the declared clustering
    sql("INSERT INTO gcat.default.clus SELECT id, id * 1.5, 1 FROM range(2000)")
    val t = graft.table.GraftTable.forPath(spark, dir)
    val before = t.latestVersion
    t.optimize()
    assert(t.latestVersion > before &&
      t.snapshot.files.forall(_.tags.contains("clustered")),
      "bare OPTIMIZE must run the DECLARED clustering and tag the output")
    // re-declare and drop through ALTER
    sql("ALTER TABLE gcat.default.clus CLUSTER BY (day)")
    assert(prop().contains("day"))
    sql("ALTER TABLE gcat.default.clus CLUSTER BY NONE")
    assert(prop().isEmpty, "CLUSTER BY NONE must drop the declaration")
    // CLUSTER BY + PARTITIONED BY refuses (delta liquid-clustering parity)
    val e = intercept[Exception](sql(
      "CREATE TABLE gcat.default.clus2 (id BIGINT, day INT) USING graft PARTITIONED BY (day) CLUSTER BY (id)"))
    assert(e.getMessage.toLowerCase.contains("cluster"), e.getMessage)
  }

  test("CREATE TABLE with a column DEFAULT: omitted-column inserts receive it from commit 0") {
    registered
    sql("CREATE TABLE gcat.default.ctd (id INT, c STRING DEFAULT 'seed') USING graft")
    sql("INSERT INTO gcat.default.ctd (id) VALUES (1)")
    sql("INSERT INTO gcat.default.ctd VALUES (2, 'explicit')")
    val rows = sql("SELECT id, c FROM gcat.default.ctd ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows === Seq((1, "seed"), (2, "explicit")),
      s"a create-time DEFAULT must govern omitted-column inserts, got $rows")
  }

  test("ALTER COLUMN COMMENT lands in the versioned schema") {
    registered
    sql("CREATE TABLE gcat.default.cmts (id INT, score DOUBLE) USING graft")
    sql("ALTER TABLE gcat.default.cmts ALTER COLUMN score COMMENT 'model quality signal'")
    val desc = sql("DESCRIBE gcat.default.cmts").collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    assert(desc("score") == "model quality signal")
  }
}
