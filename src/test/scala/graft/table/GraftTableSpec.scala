package graft.table

import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-layer semantics the DuckDB oracle can't express (SURVEY.md §5.2.2):
  * versioning, history, time travel resolution + errors, MERGE clauses and
  * the duplicate-source-match error, DELETE variants, schema enforcement. */
class GraftTableSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("firstname", StringType, nullable = false),
    StructField("lastname", StringType, nullable = false)))

  private def df(rows: (Int, String, String)*): DataFrame =
    spark.createDataFrame(
      rows.map { case (i, f, l) => Row(i, f, l) }.asJava, schema)

  private def state(d: DataFrame): Set[(Int, String, String)] =
    d.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet

  private def golden(): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("gt-"),
      df((1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")))
    t.merge(df((2, "Alice", "Smith"), (4, "New", "Person")), "t.id = s.id")
      .whenMatchedUpdate(Map("firstname" -> "s.firstname", "lastname" -> "s.lastname"))
      .whenNotMatchedInsert(Map(
        "id" -> "s.id", "firstname" -> "s.firstname", "lastname" -> "s.lastname"))
      .execute()
    t.delete(col("id").isin(1, 3))
    t
  }

  test("golden scenario: v0 seed, v1 merge, v2 delete (FIXTURES.md §A)") {
    val t = golden()
    assert(t.latestVersion === 2)
    assert(state(t.versionAsOf(0)) ===
      Set((1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")))
    assert(state(t.versionAsOf(1)) ===
      Set((1, "James", "Bond"), (2, "Alice", "Smith"), (3, "Joe", "Bloggs"), (4, "New", "Person")))
    assert(state(t.versionAsOf(2)) === Set((2, "Alice", "Smith"), (4, "New", "Person")))
    assert(state(t.toDF) === state(t.versionAsOf(2)))
  }

  test("create-if-absent loads existing table instead of reseeding") {
    val dir = tmpDir("gt-")
    val t1 = GraftTable.createIfAbsent(spark, dir, df((1, "A", "B")))
    t1.append(df((2, "C", "D")))
    val t2 = GraftTable.createIfAbsent(spark, dir,
      sys.error("seed must not be evaluated for an existing table"))
    assert(state(t2.toDF) === Set((1, "A", "B"), (2, "C", "D")))
  }

  test("history is newest-first with correct operations") {
    val h = golden().history().select("version", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(h === Seq((2L, "DELETE"), (1L, "MERGE"), (0L, "CREATE")))
  }

  test("versionAsOf out of range errors") {
    val t = golden()
    intercept[IllegalArgumentException](t.versionAsOf(3))
    intercept[IllegalArgumentException](t.versionAsOf(-1))
  }

  test("timestampAsOf resolves to latest commit <= ts; errors before commit 0") {
    val t = golden()
    val infos = t.log.commitInfos
    // exactly at each commit → that commit's version
    infos.foreach(ci =>
      assert(t.versionAt(ci.timestamp) === ci.version))
    // between commit 0 and 1 → version 0
    assert(t.versionAt(infos(1).timestamp - 1) === 0)
    // far future → latest
    assert(t.versionAt(Long.MaxValue) === 2)
    // before commit 0 → error (api.py:82-84 path)
    intercept[IllegalArgumentException](t.timestampAsOf(new Timestamp(infos.head.timestamp - 1)))
  }

  test("MERGE: duplicate source matches for one target row error out") {
    val t = GraftTable.create(spark, tmpDir("gt-"), df((1, "A", "B")))
    val dupSource = df((1, "X", "Y"), (1, "Z", "W"))
    val ex = intercept[IllegalStateException] {
      t.merge(dupSource, "t.id = s.id")
        .whenMatchedUpdate(Map("firstname" -> "s.firstname"))
        .execute()
    }
    assert(ex.getMessage.contains("multiple source rows"))
    assert(t.latestVersion === 0, "failed merge must not commit")
  }

  test("MERGE: update-only (no insert clause) ignores unmatched source rows") {
    val t = GraftTable.create(spark, tmpDir("gt-"), df((1, "A", "B")))
    t.merge(df((1, "U", "V"), (9, "N", "N")), "t.id = s.id")
      .whenMatchedUpdate(Map("firstname" -> "s.firstname", "lastname" -> "s.lastname"))
      .execute()
    assert(state(t.toDF) === Set((1, "U", "V")))
  }

  test("MERGE: insert-only (no update clause) keeps matched rows unchanged") {
    val t = GraftTable.create(spark, tmpDir("gt-"), df((1, "A", "B")))
    t.merge(df((1, "U", "V"), (9, "N", "M")), "t.id = s.id")
      .whenNotMatchedInsert(Map(
        "id" -> "s.id", "firstname" -> "s.firstname", "lastname" -> "s.lastname"))
      .execute()
    assert(state(t.toDF) === Set((1, "A", "B"), (9, "N", "M")))
  }

  test("MERGE: untouched files survive byte-identical (only touched rewritten)") {
    val dir = tmpDir("gt-")
    // two files: ids 1-2 in one, 3-4 in another (two commits)
    val t = GraftTable.create(spark, dir, df((1, "A", "A"), (2, "B", "B")).coalesce(1))
    t.append(df((3, "C", "C"), (4, "D", "D")).coalesce(1))
    val filesBefore = t.snapshot.files.map(_.path).toSet
    t.merge(df((1, "A2", "A2")), "t.id = s.id")
      .whenMatchedUpdate(Map("firstname" -> "s.firstname", "lastname" -> "s.lastname"))
      .execute()
    val filesAfter = t.snapshot.files.map(_.path).toSet
    // the id-3/4 file is still live; the id-1/2 file was replaced
    assert(filesAfter.intersect(filesBefore).size === 1)
    assert(state(t.toDF) ===
      Set((1, "A2", "A2"), (2, "B", "B"), (3, "C", "C"), (4, "D", "D")))
  }

  test("DELETE: predicate string form, partial/none/all") {
    val t = GraftTable.create(spark, tmpDir("gt-"), df((1, "A", "A"), (2, "B", "B"), (3, "C", "C")))
    assert(t.delete("id = 2") === 1)
    assert(state(t.toDF) === Set((1, "A", "A"), (3, "C", "C")))
    assert(t.delete("id = 99") === 0)
    assert(t.delete("id >= 0") === 2)
    assert(t.toDF.count() === 0)
    // still a valid table: append works after full delete
    t.append(df((5, "E", "E")))
    assert(state(t.toDF) === Set((5, "E", "E")))
  }

  test("schema enforcement: wrong columns rejected on append") {
    val t = GraftTable.create(spark, tmpDir("gt-"), df((1, "A", "B")))
    val bad = spark.createDataFrame(Seq(Row(1, "x")).asJava,
      StructType(Seq(StructField("id", IntegerType), StructField("only", StringType))))
    intercept[IllegalArgumentException](t.append(bad))
  }

  test("atomic commit: second writer of the same version fails, table intact") {
    val t = GraftTable.create(spark, tmpDir("gt-"), df((1, "A", "B")))
    t.log.commit(1, Seq(CommitInfo(1, t.log.nextTimestamp(), "WRITE", Map.empty)))
    intercept[java.util.ConcurrentModificationException](
      t.log.commit(1, Seq(CommitInfo(1, 0, "WRITE", Map.empty))))
    assert(t.latestVersion === 1)
  }

  test("OPTIMIZE compacts files, preserves rows, keeps time travel intact") {
    val dir = tmpDir("gt-")
    val t = GraftTable.create(spark, dir, df((1, "A", "A")).coalesce(1))
    (2 to 6).foreach(i => t.append(df((i, s"N$i", s"L$i")).coalesce(1)))
    val before = t.snapshot.files.size
    assert(before === 6)
    val rowsBefore = state(t.toDF)
    t.optimize()
    assert(t.snapshot.files.size === 1)
    assert(state(t.toDF) === rowsBefore)
    assert(state(t.versionAsOf(5)) === rowsBefore) // pre-optimize snapshot intact
    val h = t.history().select("operation").collect().map(_.getString(0))
    assert(h.head === "OPTIMIZE")
  }

  test("checkpoints bound replay: version 10+ reads through a checkpoint") {
    val dir = tmpDir("gt-")
    val t = GraftTable.create(spark, dir, df((0, "A", "A")))
    (1 to 12).foreach(i => t.append(df((i, s"N$i", s"L$i"))))
    assert(t.latestVersion === 12)
    assert(java.nio.file.Files.exists(t.log.checkpointFile(10)), "checkpoint at v10")
    // state via checkpoint replay must equal full-history expectations
    assert(t.toDF.count() === 13)
    assert(state(t.versionAsOf(10)).size === 11)
    assert(state(t.versionAsOf(3)).size === 4) // pre-checkpoint replay path
  }

  test("parquet checkpoints: forced format round-trips the snapshot exactly") {
    val dir = tmpDir("gt-")
    val t = GraftTable.create(spark, dir, df((0, "A", "A")))
    t.setProperty("checkpoint.format", "parquet") // v1
    (1 to 11).foreach(i => t.append(df((i, s"N$i", s"L$i")))) // v2..v12
    assert(java.nio.file.Files.exists(t.log.parquetCheckpointFile(10)),
      "parquet checkpoint at v10")
    assert(!java.nio.file.Files.exists(t.log.checkpointFile(10)))
    // a FRESH log (no cached state) must resolve snapshots through the
    // parquet checkpoint identically to full replay
    val fresh = new graft.table.GraftLog(dir)
    val viaCp = fresh.snapshotAt(12)
    val full = (0L to 12L).foldLeft(Option.empty[graft.table.Snapshot]) {
      case (_, v) => Some(fresh.snapshotAt(v))
    }.get
    assert(viaCp.files.map(_.path).sorted == full.files.map(_.path).sorted)
    assert(viaCp.metaData == full.metaData)
    assert(viaCp.files.map(f => (f.path, f.numRecords, f.size, f.minValues,
      f.maxValues, f.partitionValues)).sortBy(_._1) ==
      full.files.map(f => (f.path, f.numRecords, f.size, f.minValues,
        f.maxValues, f.partitionValues)).sortBy(_._1))
    assert(GraftTable.forPath(spark, dir).toDF.count() === 12)
    assert(state(GraftTable.forPath(spark, dir).versionAsOf(10)).size === 10)
  }

  test("parquet checkpoint carries partition values and properties") {
    val dir = tmpDir("gt-")
    import spark.implicits._
    val t = GraftTable.create(spark, dir,
      Seq((1, "en"), (2, "fr")).toDF("id", "lang"), partitionBy = Seq("lang"))
    t.setProperty("checkpoint.format", "parquet")
    t.setProperty("team", "graft")
    (1 to 9).foreach(i => t.append(Seq((10 + i, "en")).toDF("id", "lang")))
    assert(java.nio.file.Files.exists(t.log.parquetCheckpointFile(10)))
    val s = new graft.table.GraftLog(dir).snapshotAt(t.latestVersion)
    assert(s.metaData.partitionColumns == Seq("lang"))
    assert(s.metaData.properties.get("team").contains("graft"))
    assert(s.files.forall(_.partitionValues.contains("lang")))
    // scan through the restored snapshot still prunes on the partition col
    assert(GraftTable.forPath(spark, dir).scan($"lang" === "fr").count() === 1)
  }

  test("VACUUM removes orphaned files; retained versions still readable") {
    val dir = tmpDir("gt-")
    val t = GraftTable.create(spark, dir, df((1, "A", "A"), (2, "B", "B")).coalesce(1))
    t.delete("id = 1") // v1 rewrites the only file → v0's file is orphanable
    val v1 = state(t.toDF)
    t.setProperty("vacuum.retentionDurationCheck", "false")
    val removed = t.vacuum(retainVersions = 0, retentionMs = 0)
    assert(removed === 1)
    assert(state(t.toDF) === v1)             // latest unaffected
    intercept[Exception](t.versionAsOf(0).collect()) // v0's data is gone
    // history still lists all commits (create, delete, the opt-out property)
    assert(t.history().count() === 3)
  }

  test("VACUUM over 2,000 files in 64 directories: finds and deletes exactly the orphans") {
    // a synthetic table: vacuum only lists and stats files, so they are
    // empty; half are referenced by the log, half are old orphans
    val n = 2000
    val dir = tmpDir("gt-vac-")
    val root = java.nio.file.Paths.get(dir)
    val now = System.currentTimeMillis()
    val old = java.nio.file.attribute.FileTime.fromMillis(now - 30L * 24 * 3600 * 1000)
    def name(i: Int) = f"b${i % 64}%d/part-$i%07d.parquet"
    (0 until 64).foreach(b => java.nio.file.Files.createDirectories(root.resolve(s"b$b")))
    (0 until n).foreach { i =>
      val f = java.nio.file.Files.createFile(root.resolve(name(i)))
      java.nio.file.Files.setLastModifiedTime(f, old)
    }
    val log = new GraftLog(dir)
    log.commit(0L, Seq(
      MetaData(java.util.UUID.randomUUID().toString,
        StructType(Seq(StructField("id", LongType))).json, now, Nil, Map.empty,
        Map("vacuum.retentionDurationCheck" -> "false")),
      CommitInfo(0L, log.nextTimestamp(), "CONVERT", Map.empty)) ++
      (0 until n by 2).map(i => AddFile(name(i), 1024L, now, 10L, Map.empty, Map.empty)))
    val t = GraftTable.forPath(spark, dir)
    val orphans = t.vacuumDryRun(retainVersions = 0, retentionMs = 0L)
    assert(orphans.size === n / 2)
    assert(t.vacuum(retainVersions = 0, retentionMs = 0L) === n / 2)
    assert((0 until n).forall(i =>
      java.nio.file.Files.exists(root.resolve(name(i))) == (i % 2 == 0)))
  }

  test("a zero-row DELETE or UPDATE records its own zero metrics") {
    val t = GraftTable.create(spark, tmpDir("gt-"), df((1, "A", "A"), (2, "B", "B")))
    def latest(): (String, Map[String, String]) = {
      val r = t.history().select("operation", "operationMetrics").head()
      (r.getString(0), r.getMap[String, String](1).toMap)
    }
    assert(t.update("id = 99", Map("firstname" -> "'Z'")) === 0L)
    val (upOp, up) = latest()
    assert(upOp === "UPDATE")
    assert(up.get("numUpdatedRows").contains("0") && up.get("numRewrittenFiles").contains("0"))
    assert(!up.contains("numDeletedRows"), s"UPDATE history carries DELETE's metric: $up")
    assert(t.delete("id = 99") === 0L)
    val (delOp, del) = latest()
    assert(delOp === "DELETE")
    assert(del.get("numDeletedRows").contains("0") && del.get("numRewrittenFiles").contains("0"))
    assert(!del.contains("numUpdatedRows"))
  }

  test("CHECK constraints: enforced on append and merge, versioned add/drop") {
    val t = GraftTable.create(spark, tmpDir("gt-"), df((1, "A", "B")))
    t.addConstraint("pos_id", "id > 0")
    // valid write passes
    t.append(df((2, "C", "D")))
    // violating append aborts the write job (in-projection raise, no
    // pre-count pass) BEFORE any commit lands
    val vBefore = t.latestVersion
    val ex1 = intercept[Exception](t.append(df((-5, "X", "X"))))
    def messages(th: Throwable): Seq[String] =
      if (th == null) Nil else Option(th.getMessage).toSeq ++ messages(th.getCause)
    assert(messages(ex1).exists(_.contains("pos_id")))
    assert(t.latestVersion === vBefore)
    // violating merge insert aborts
    val ex2 = intercept[Exception] {
      t.merge(df((-7, "Y", "Y")), "t.id = s.id")
        .whenNotMatchedInsert(Map(
          "id" -> "s.id", "firstname" -> "s.firstname", "lastname" -> "s.lastname"))
        .execute()
    }
    assert(messages(ex2).exists(_.contains("pos_id")))
    assert(t.latestVersion === vBefore)
    // cannot add a constraint existing rows violate
    intercept[IllegalArgumentException](t.addConstraint("impossible", "id > 100"))
    // drop re-opens the gate
    t.dropConstraint("pos_id")
    t.append(df((-5, "X", "X")))
    assert(state(t.toDF).exists(_._1 == -5))
    val ops = t.history().select("operation").collect().map(_.getString(0)).toSet
    assert(ops.contains("ADD CONSTRAINT") && ops.contains("DROP CONSTRAINT"))
  }

  test("RESTORE rolls HEAD back as a forward commit") {
    val t = golden() // v0 seed, v1 merge, v2 delete
    val v1 = state(t.versionAsOf(1))
    t.restore(1)
    assert(t.latestVersion === 3)
    assert(state(t.toDF) === v1)
    // nothing erased: v2 still shows the deleted state
    assert(state(t.versionAsOf(2)) === Set((2, "Alice", "Smith"), (4, "New", "Person")))
    assert(t.history().select("operation").first().getString(0) === "RESTORE")
    // DML continues normally after restore
    t.delete("id = 4")
    assert(state(t.toDF) === v1.filterNot(_._1 == 4))
  }

  test("MERGE schema evolution: new source column lands in the merge commit") {
    val t = GraftTable.create(spark, tmpDir("gt-evo-"),
      df((1, "A", "B"), (2, "C", "D")))
    val srcSchema = schema.add(StructField("age", IntegerType, nullable = true))
    val src = spark.createDataFrame(
      Seq(Row(2, "C2", "D2", 22), Row(9, "N", "P", 99)).asJava, srcSchema)
    // without the flag: schema enforcement rejects the unknown column
    intercept[IllegalArgumentException] {
      t.merge(src, "t.id = s.id")
        .whenMatchedUpdate(Map("firstname" -> "s.firstname", "age" -> "s.age"))
        .execute()
    }
    t.merge(src, "t.id = s.id")
      .withSchemaEvolution()
      .whenMatchedUpdate(Map(
        "firstname" -> "s.firstname", "lastname" -> "s.lastname", "age" -> "s.age"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "firstname" -> "s.firstname",
        "lastname" -> "s.lastname", "age" -> "s.age"))
      .execute()
    assert(t.toDF.columns.toSeq === Seq("id", "firstname", "lastname", "age"))
    val byId = t.toDF.collect().map(r => r.getInt(0) ->
      (r.getString(1), if (r.isNullAt(3)) None else Some(r.getInt(3)))).toMap
    assert(byId === Map(
      1 -> ("A", None),          // untouched row reads null from old file
      2 -> ("C2", Some(22)),     // updated with the evolved column
      9 -> ("N", Some(99))))     // inserted with the evolved column
    // one commit did it; time travel pre-merge serves the old schema
    assert(t.versionAsOf(t.latestVersion - 1).columns.toSeq ===
      Seq("id", "firstname", "lastname"))
  }

  test("RESTORE across an ADD COLUMN boundary works on a CDF-enabled table") {
    // The CDC diff spans two snapshots with DIFFERENT schemas; the sidecar
    // must conform to the post-restore schema instead of erroring on the
    // column the target version predates.
    val t = GraftTable.create(spark, tmpDir("gt-cdfres-"), df((1, "A", "B")))
    t.setProperty("changeDataFeed.enabled", "true")
    val v = t.latestVersion
    t.addColumn("extra", IntegerType)
    t.append(spark.createDataFrame(
      Seq(Row(2, "C", "D", 7)).asJava,
      schema.add(StructField("extra", IntegerType, nullable = true))))
    t.restore(v)
    assert(t.toDF.columns.toSeq === Seq("id", "firstname", "lastname"))
    assert(state(t.toDF) === Set((1, "A", "B")))
    // the restore's change rows carry the restored (3-column) schema
    val restoreV = t.latestVersion
    val ch = t.changes(restoreV - 1, restoreV).collect()
    assert(ch.map(r => (r.getInt(0), r.getAs[String]("_change_type"))).toSet ===
      Set((2, "delete")))
  }

  test("idempotent append: replayed (appId, version) writes exactly once") {
    val t = GraftTable.create(spark, tmpDir("gt-idem-"), df((0, "s", "r")))
    assert(t.appendIdempotent(df((1, "a", "b")), "job-1", 1L) === true)
    // replay of the same epoch: skipped, no rows, no commit
    val vAfter = t.latestVersion
    assert(t.appendIdempotent(df((1, "a", "b")), "job-1", 1L) === false)
    assert(t.latestVersion === vAfter, "skipped replay must not commit")
    // next epoch and a different app both land
    assert(t.appendIdempotent(df((2, "c", "d")), "job-1", 2L) === true)
    assert(t.appendIdempotent(df((3, "e", "f")), "job-2", 1L) === true)
    assert(state(t.toDF).map(_._1) === Set(0, 1, 2, 3))
    // the txn map folds into the snapshot (checkpoint-compatible guard)
    assert(t.snapshot.transactions === Map("job-1" -> 2L, "job-2" -> 1L))
  }

  test("UPDATE: native predicate update rewrites only touched files") {
    val t = GraftTable.create(spark, tmpDir("gt-upd-"),
      df((1, "A", "B"), (2, "C", "D")).repartition(1))
    t.append(df((3, "E", "F")).repartition(1))
    val before = t.snapshot.files.map(_.path).toSet
    val n = t.update(col("id") === 1, Map("firstname" -> "'A2'", "lastname" -> "upper(lastname)"))
    assert(n === 1)
    assert(state(t.toDF) === Set((1, "A2", "B"), (2, "C", "D"), (3, "E", "F")))
    // the file holding id=3 must survive untouched
    val after = t.snapshot.files.map(_.path).toSet
    assert((before intersect after).nonEmpty, "unmatched file must survive")
    // unknown SET column fails loudly; no-match predicate is a clean no-op
    intercept[IllegalArgumentException](t.update(col("id") === 1, Map("nope" -> "'x'")))
    assert(t.update(col("id") === 99, Map("firstname" -> "'z'")) === 0L)
    assert(t.history().select("operation").first().getString(0) === "UPDATE")
  }

  test("UPDATE: merge-on-read DV mode appends post-images, rewrites nothing") {
    val t = GraftTable.create(spark, tmpDir("gt-upd-dv-"),
      df((1, "A", "B"), (2, "C", "D"), (3, "E", "F")).repartition(1))
    t.setProperty("deletionVectors.enabled", "true")
    t.setProperty("changeDataFeed.enabled", "true")
    val dataBefore = t.snapshot.files.map(_.path).toSet
    val v = t.latestVersion
    val n = t.update(col("id") <= 2, Map("lastname" -> "'X'"))
    assert(n === 2)
    assert(state(t.toDF) === Set((1, "A", "X"), (2, "C", "X"), (3, "E", "F")))
    // zero rewrites: the original file re-added with a DV + a post-image file
    val metrics = t.history().filter(col("operation") === "UPDATE")
      .select("operationMetrics").first().getMap[String, String](0)
    assert(metrics("numRewrittenFiles") === "0")
    assert(t.snapshot.files.map(_.path).toSet.intersect(dataBefore) === dataBefore,
      "original data files stay live (tombstoned, not rewritten)")
    // CDC: paired update images
    val ch = t.changes(v, v + 1).collect()
      .map(r => (r.getInt(0), r.getAs[String]("_change_type"))).toSet
    assert(ch === Set((1, "update_preimage"), (1, "update_postimage"),
      (2, "update_preimage"), (2, "update_postimage")))
  }

  test("CONVERT: in-place import of a parquet dir, then DML on the result") {
    import spark.implicits._
    val dir = tmpDir("gt-conv-")
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .repartition(2).write.mode("append").parquet(dir)
    val namesBefore = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
    val t = GraftTable.convert(spark, dir)
    // zero rewrites: commit 0 references the files where they are
    assert(t.snapshot.files.map(_.path).toSet === namesBefore)
    assert(t.toDF.collect().map(r => (r.getInt(0), r.getString(1))).toSet ===
      Set((1, "a"), (2, "b"), (3, "c")))
    assert(t.metadataCount() === 3, "footer stats harvested into the log")
    // the converted table is a full GraftTable: DML + time travel work
    t.delete(col("id") === 2)
    assert(t.toDF.count() === 2)
    assert(t.versionAsOf(0).count() === 3)
    intercept[IllegalArgumentException](GraftTable.convert(spark, dir))
  }

  test("CONVERT detects Hive partition directories") {
    import spark.implicits._
    val dir = tmpDir("gt-convp-")
    Seq((1, "en"), (2, "en"), (3, "de")).toDF("id", "lang")
      .write.mode("append").partitionBy("lang").parquet(dir)
    val t = GraftTable.convert(spark, dir)
    assert(t.snapshot.metaData.partitionColumns === Seq("lang"))
    assert(t.snapshot.files.forall(_.partitionValues.contains("lang")))
    // partition pruning works straight off the converted log
    val enFiles = t.prunedFiles(t.snapshot, col("lang") === "en")
    assert(enFiles.forall(_.partitionValues("lang") == "en"))
    assert(t.scan(col("lang") === "en").count() === 2)
  }

  test("schema evolution: mergeSchema append adds nullable columns") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("gt-"), df((1, "A", "B")))
    // plain append with an extra column is rejected
    val withExtra = Seq((2, "C", "D", 9.5)).toDF("id", "firstname", "lastname", "score")
    intercept[IllegalArgumentException](t.append(withExtra))
    // mergeSchema evolves the table
    t.append(withExtra, mergeSchema = true)
    val out = t.toDF.orderBy("id").collect()
    assert(t.snapshot.schema.fieldNames.toSeq ===
      Seq("id", "firstname", "lastname", "score"))
    assert(out(0).isNullAt(3), "old rows read the new column as null")
    assert(out(1).getDouble(3) === 9.5)
    // old snapshots keep the old schema
    assert(t.versionAsOf(0).schema.fieldNames.length === 3)
    // evolution is additive: dropping columns still rejected
    intercept[IllegalArgumentException](
      t.append(Seq((3, "E")).toDF("id", "firstname"), mergeSchema = true))
  }

  test("change data feed: per-commit inserts/deletes from file diffs") {
    val t = golden()
    val ch = t.changes(0, 2)
      .collect()
      .map(r => (r.getLong(4), r.getString(3), r.getInt(0), r.getString(1), r.getString(2)))
      .toSet
    assert(ch === Set(
      // v1 MERGE: Alice updated (pre+post images), Person inserted
      (1L, "delete", 2, "Alice", "Rogers"),
      (1L, "insert", 2, "Alice", "Smith"),
      (1L, "insert", 4, "New", "Person"),
      // v2 DELETE: two rows removed
      (2L, "delete", 1, "James", "Bond"),
      (2L, "delete", 3, "Joe", "Bloggs")))
    // untouched rows (James/Joe rewritten unchanged in v1) never appear in v1
    assert(!ch.contains((1L, "insert", 1, "James", "Bond")))
  }

  test("time travel state is immutable after later commits") {
    val t = GraftTable.create(spark, tmpDir("gt-"), df((1, "A", "B")))
    val v0 = state(t.versionAsOf(0))
    t.append(df((2, "C", "D")))
    t.delete("id = 1")
    assert(state(t.versionAsOf(0)) === v0)
  }

  test("OPTIMIZE WHERE rewrites only in-scope files; out-of-scope survive byte-identical") {
    import spark.implicits._
    val dir = tmpDir("opt-where-")
    // 8 range-clustered files: ids 0..99 per file, selective min/max stats
    val t = GraftTable.create(spark, dir,
      (0 until 800).map(i => (i, s"n$i", s"l$i")).toDF("id", "firstname", "lastname")
        .repartitionByRange(8, $"id")
        .select($"id", $"firstname", $"lastname"))
    val before = t.snapshot.files
    assert(before.size === 8)
    t.optimize(targetFileBytes = 10L * 1024 * 1024, where = Some(col("id") < 200))
    val after = t.snapshot.files
    // the two low-range files compacted into one; the other six untouched
    val survivors = after.map(_.path).toSet intersect before.map(_.path).toSet
    assert(survivors.size === 6, s"expected 6 untouched files, got ${survivors.size}")
    assert(after.size === 7)
    // pure reorganization: state identical
    assert(t.toDF.count() === 800)
    assert(t.toDF.agg(org.apache.spark.sql.functions.sum($"id")).head().getLong(0)
      === (0 until 800).map(_.toLong).sum)
    assert(t.history().head().getAs[Map[String, String]]("operationMetrics")("numFilesSkipped") === "6")
  }

  test("DESCRIBE DETAIL summarizes the snapshot from the log alone") {
    val t = golden()
    t.setProperty("autoCompact.maxFiles", "8")
    val d = t.detail().head()
    assert(d.getAs[Long]("version") === t.latestVersion)
    assert(d.getAs[Long]("numRows") === t.toDF.count())
    assert(d.getAs[Long]("numFiles") === t.snapshot.files.size.toLong)
    assert(d.getAs[Long]("sizeInBytes") > 0)
    assert(d.getAs[Map[String, String]]("properties") ===
      Map("autoCompact.maxFiles" -> "8"))
  }

  test("auto compaction bounds live file count across many small appends") {
    val t = GraftTable.create(spark, tmpDir("autoc-"), df((0, "seed", "row")))
    t.setProperty("autoCompact.maxFiles", "4")
    (1 to 10).foreach(i => t.append(df((i, s"f$i", s"l$i"))))
    assert(t.snapshot.files.size <= 5,
      s"auto compact must bound files, got ${t.snapshot.files.size}")
    assert(t.toDF.count() === 11)
    val ops = t.history().collect().map(_.getString(2))
    assert(ops.contains("OPTIMIZE"), "compactions must appear in history")
    assert(state(t.versionAsOf(0)) === Set((0, "seed", "row")),
      "time travel must survive auto compaction")
  }

  test("metadata-only count/min/max track every DML and match the scan at each version") {
    val t = GraftTable.create(spark, tmpDir("gt-"),
      df((1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")))
    t.append(df((10, "Zed", "Last"), (0, "Aaron", "First")))
    t.delete("id = 2")
    t.optimize(targetFileBytes = 1024 * 1024)
    t.merge(df((5, "Mid", "Person")), "t.id = s.id")
      .whenNotMatchedInsert(Map(
        "id" -> "s.id", "firstname" -> "s.firstname", "lastname" -> "s.lastname"))
      .execute()
    for (v <- 0L to t.latestVersion) {
      val scan = t.versionAsOf(v)
      assert(t.metadataCount(v) === scan.count(),
        s"v$v: metadata count must equal the scan")
      val (lo, hi) = t.metadataMinMax("id", v).get
      val minMax = scan.agg(min("id"), max("id")).head()
      assert(lo.toDouble === minMax.getInt(0).toDouble &&
             hi.toDouble === minMax.getInt(1).toDouble,
        s"v$v: metadata id bounds ($lo, $hi) must equal the scan's $minMax")
      val (slo, shi) = t.metadataMinMax("firstname", v).get
      val sMinMax = scan.agg(min("firstname"), max("firstname")).head()
      assert(slo === sMinMax.getString(0) && shi === sMinMax.getString(1),
        s"v$v: metadata firstname bounds must equal the scan's")
    }
    assert(t.metadataMinMax("no_such_column").isEmpty)
  }

  test("MERGE: whenMatchedDelete removes matched rows; conditional variant scopes it") {
    val t = GraftTable.create(spark, tmpDir("gt-"),
      df((1, "A", "B"), (2, "C", "D"), (3, "E", "F")))
    t.merge(df((1, "x", "x"), (2, "keep", "x")), "t.id = s.id")
      .whenMatchedDelete("s.firstname = 'x'")
      .execute()
    assert(state(t.toDF) === Set((2, "C", "D"), (3, "E", "F")),
      "only the match whose clause condition held is deleted")
    t.merge(df((2, "any", "any")), "t.id = s.id")
      .whenMatchedDelete()
      .execute()
    assert(state(t.toDF) === Set((3, "E", "F")))
  }

  test("MERGE: clause order — first applicable matched clause wins") {
    val t = GraftTable.create(spark, tmpDir("gt-"),
      df((1, "old", "B"), (2, "fresh", "D")))
    t.merge(df((1, "s1", "s1"), (2, "s2", "s2")), "t.id = s.id")
      .whenMatchedDelete("t.firstname = 'old'")
      .whenMatchedUpdate(Map("firstname" -> "s.firstname"))
      .whenNotMatchedInsert(Map(
        "id" -> "s.id", "firstname" -> "s.firstname", "lastname" -> "s.lastname"))
      .execute()
    assert(state(t.toDF) === Set((2, "s2", "D")),
      "row 1 takes the delete clause; row 2 falls through to the update")
  }

  test("MERGE: whenNotMatchedBySource update and delete target unmatched rows only") {
    val t = GraftTable.create(spark, tmpDir("gt-"),
      df((1, "A", "B"), (2, "C", "D"), (3, "stale", "F")))
    t.merge(df((1, "u", "u")), "t.id = s.id")
      .whenMatchedUpdate(Map("firstname" -> "s.firstname"))
      .whenNotMatchedBySourceDelete("t.firstname = 'stale'")
      .whenNotMatchedBySourceUpdate(Map("lastname" -> "'unseen'"))
      .execute()
    assert(state(t.toDF) === Set((1, "u", "B"), (2, "C", "unseen")),
      "matched row updated, stale unmatched row deleted, other unmatched row marked")
  }

  test("MERGE: NMBS-only merge with multi-matching source keeps one copy per target row") {
    // No matched clauses + multiple source rows matching one target row:
    // Delta does NOT error (the matched row is untouched) — but the
    // left_outer rewrite join emits one copy per match; the rewrite must
    // collapse them or it silently duplicates rows.
    val t = GraftTable.create(spark, tmpDir("gt-"),
      df((1, "kept", "row"), (2, "stale", "row")).repartition(1))
    t.merge(df((1, "m1", "x"), (1, "m2", "x")), "t.id = s.id")
      .whenNotMatchedBySourceDelete()
      .execute()
    assert(t.toDF.count() === 1, "matched row must survive exactly once")
    assert(state(t.toDF) === Set((1, "kept", "row")))
  }

  test("MERGE: a non-deterministic clause condition runs, with and without by-source clauses") {
    val t = GraftTable.create(spark, tmpDir("gt-"),
      df((1, "A", "B"), (2, "C", "D"), (3, "E", "F")))
    t.merge(df((1, "u", "u"), (4, "new", "row")), "t.id = s.id")
      .whenMatchedUpdate("rand() >= 0", Map("firstname" -> "s.firstname"))
      .whenNotMatchedInsert(Map(
        "id" -> "s.id", "firstname" -> "s.firstname", "lastname" -> "s.lastname"))
      .execute()
    assert(state(t.toDF) === Set((1, "u", "B"), (2, "C", "D"), (3, "E", "F"), (4, "new", "row")))
    t.merge(df((2, "v", "v")), "t.id = s.id")
      .whenMatchedUpdate("rand() >= 0", Map("lastname" -> "s.lastname"))
      .whenNotMatchedBySourceDelete("rand() < 2 AND t.id = 3")
      .execute()
    assert(state(t.toDF) === Set((1, "u", "B"), (2, "C", "v"), (4, "new", "row")))
  }

  test("MERGE: multiple conditional insert clauses dispatch in order; no-clause rows drop") {
    val t = GraftTable.create(spark, tmpDir("gt-"), df((1, "A", "B")))
    t.merge(df((2, "hi", "x"), (3, "lo", "x"), (4, "skip", "x")), "t.id = s.id")
      .whenNotMatchedInsert("s.firstname = 'hi'",
        Map("id" -> "s.id", "firstname" -> "'first'", "lastname" -> "s.lastname"))
      .whenNotMatchedInsert("s.firstname <> 'skip'",
        Map("id" -> "s.id", "firstname" -> "'second'", "lastname" -> "s.lastname"))
      .execute()
    assert(state(t.toDF) ===
      Set((1, "A", "B"), (2, "first", "x"), (3, "second", "x")),
      "row 2 takes clause 1, row 3 falls to clause 2, row 4 matches no clause")
  }

  test("MERGE: source-key stats pruning bounds the touched-file scan") {
    // three files with disjoint 1000-row id ranges; the upsert's keys live
    // in ONE file — phase 1 and the insert anti-join must scan only the
    // stat-overlapping slice, never the whole table
    val dir = tmpDir("gt-prune-")
    val rows = (0 until 3000).map(i => (i, s"f$i", s"l$i"))
    val t = GraftTable.create(spark, dir, df(rows.slice(0, 1000): _*).coalesce(1))
    t.append(df(rows.slice(1000, 2000): _*).coalesce(1))
    t.append(df(rows.slice(2000, 3000): _*).coalesce(1))
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        reads.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      t.merge(df((1500, "U", "U"), (1501, "V", "V")), "t.id = s.id")
        .whenMatchedUpdate(Map("firstname" -> "s.firstname"))
        .whenNotMatchedInsert(Map(
          "id" -> "s.id", "firstname" -> "s.firstname", "lastname" -> "s.lastname"))
        .execute()
      Thread.sleep(2000) // listener events are async
    } finally spark.sparkContext.removeSparkListener(listener)
    // five passes (phase-1 scan, checkpoint build, dup guard, rewrite,
    // insert anti-join) touch only the middle file ⇒ ~5000 rows; without
    // source-key pruning phase 1 and the anti-join read all 3000 each
    // (~9000 total)
    assert(reads.get() <= 6000,
      s"merge scanned ${reads.get()} rows; source-key pruning should bound it")
    assert(state(t.toDF).size === 3000)
    assert(state(t.toDF).contains((1500, "U", "l1500")))
  }

  test("MERGE: conditional matched clause leaves files with only unaffected matches untouched") {
    val dir = tmpDir("gt-")
    val t = GraftTable.create(spark, dir, df((1, "A", "A"), (2, "B", "B")).coalesce(1))
    t.append(df((3, "C", "C"), (4, "D", "D")).coalesce(1))
    val before = t.snapshot.files.map(_.path).toSet
    // both files have matches, but the clause condition only affects id=1
    t.merge(df((1, "A2", "A2"), (3, "C2", "C2")), "t.id = s.id")
      .whenMatchedUpdate("s.firstname = 'A2'", Map("firstname" -> "s.firstname"))
      .execute()
    val after = t.snapshot.files.map(_.path).toSet
    assert(after.intersect(before).size === 1,
      "the id-3/4 file has no affected row and must survive untouched")
    assert(state(t.toDF) ===
      Set((1, "A2", "A"), (2, "B", "B"), (3, "C", "C"), (4, "D", "D")))
  }
}
