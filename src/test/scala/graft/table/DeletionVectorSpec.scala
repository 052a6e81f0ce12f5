package graft.table

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Merge-on-read DELETE via deletion vectors: a delete commits one
  * Delta-format deletion-vector file and re-adds the same data files, so
  * a 1-row delete on a multi-file table rewrites NOTHING (VERDICT r5 #1).
  * Every path that serves rows — batch scan, pruned scan, SQL row-level
  * rewrite, streaming snapshot, CDF, metadata stats — must apply the
  * tombstones, and so must it for tables still pointing at a legacy
  * `_dv/` parquet sidecar. */
class DeletionVectorSpec extends SparkTestBase {
  import DeletionVectorSpec._

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: (Int, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (i, s) => Row(i, s) }.asJava, schema)

  private def seed6(nFiles: Int = 3): DataFrame =
    df((1 to 6).map(i => (i, s"v$i")): _*).repartition(nFiles)

  private def dvTable(prefix: String): GraftTable = {
    val t = GraftTable.create(spark, tmpDir(prefix), seed6())
    t.setProperty("deletionVectors.enabled", "true")
    t
  }

  private def ids(d: DataFrame): Set[Int] = d.collect().map(_.getInt(0)).toSet

  private def dataFiles(t: GraftTable): Set[String] = t.snapshot.files.map(_.path).toSet

  test("1-row DELETE removes zero data files and commits a DV") {
    val t = dvTable("dv-")
    val before = dataFiles(t)
    assert(before.size == 3)
    val n = t.delete(col("id") === 4)
    assert(n == 1)
    assert(dataFiles(t) == before, "merge-on-read delete must keep every data file")
    val touched = t.snapshot.files.filter(_.dvPath.isDefined)
    assert(touched.size == 1 && touched.head.dvCount == 1)
    assert(t.history().select("operationMetrics").head()
      .getMap[String, String](0).get("numRewrittenFiles").contains("0"))
    assert(ids(t.toDF) == Set(1, 2, 3, 5, 6))
    // time travel to pre-delete still serves all six
    assert(ids(t.versionAsOf(1)) == Set(1, 2, 3, 4, 5, 6))
    // protocol upgraded in the enabling commit
    assert(t.snapshot.protocol.readerFeatures.contains("deletionVectors"))
  }

  test("DV state equals copy-on-write state at every version") {
    val dv = dvTable("dv-par-")
    val cow = GraftTable.create(spark, tmpDir("cow-par-"), seed6())
    cow.setProperty("some.marker", "x") // keep version numbering aligned
    Seq(dv, cow).foreach { t =>
      t.delete(col("id").isin(2, 5))
      t.delete(col("id") === 6)
      // native MERGE over a DV'd target: matched rows update without
      // resurrecting tombstoned ones — merge-on-read tombstones the
      // pre-image position and appends the post-image as a new file
      t.merge(df((3, "three"), (5, "ghost")), "t.id = s.id")
        .whenMatchedUpdate(Map("v" -> "s.v"))
        .whenNotMatchedInsert(Map("id" -> "s.id", "v" -> "s.v"))
        .execute()
    }
    (0L to 4L).foreach { v =>
      val a = dv.versionAsOf(v)
      val b = cow.versionAsOf(v)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"version $v diverged between DV and CoW")
    }
    // second delete on already-tombstoned files MERGED the DVs (one live
    // sidecar per file); metadata count folds tombstones at every version
    assert(dv.metadataCount(3) == 3)
    assert(dv.log.snapshotAt(3).files.map(_.dvCount).sum == 3)
    assert(dv.metadataCount() == dv.toDF.count())
  }

  test("re-deleting tombstoned rows is a no-op count") {
    val t = dvTable("dv-re-")
    assert(t.delete(col("id") <= 2) == 2)
    assert(t.delete(col("id") <= 2) == 0) // already gone — not double-counted
    assert(ids(t.toDF) == Set(3, 4, 5, 6))
  }

  test("metadata stats, pruned scan and CDF respect tombstones") {
    val t = dvTable("dv-meta-")
    t.delete(col("id") === 1)
    assert(t.metadataCount() == 5)
    assert(t.detail().select("numRows").head().getLong(0) == 5)
    assert(ids(t.scan(col("id") <= 3)) == Set(2, 3))
    val ch = t.changes(1, 2).select("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(ch == Set((1, "delete")), s"CDF of a DV delete: $ch")
  }

  test("OPTIMIZE rebases files and purges deletion vectors") {
    val t = dvTable("dv-opt-")
    t.delete(col("id").isin(1, 6))
    assert(t.snapshot.files.exists(_.dvPath.isDefined))
    t.optimize(targetFileBytes = 128L * 1024 * 1024)
    assert(t.snapshot.files.forall(_.dvPath.isEmpty), "OPTIMIZE must purge DVs")
    assert(ids(t.toDF) == Set(2, 3, 4, 5))
    assert(t.metadataCount() == 4)
    // the DV file is unreferenced by the head; retained versions still use it
    assert(ids(t.versionAsOf(2)) == Set(2, 3, 4, 5))
    def dvFiles: Seq[String] = Files.list(Paths.get(t.path)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("deletion_vector_")).toSeq
    assert(dvFiles.size == 1, s"one DELETE writes one DV file: $dvFiles")
    // vacuum with no retained versions can collect it
    t.setProperty("vacuum.retentionDurationCheck", "false")
    t.vacuum(retainVersions = 0, retentionMs = 0)
    assert(dvFiles.isEmpty, "orphaned DV file collected")
    assert(ids(t.toDF) == Set(2, 3, 4, 5))
  }

  test("vacuum keeps sidecars referenced by retained versions") {
    val t = dvTable("dv-vac-")
    t.delete(col("id") === 3)
    t.setProperty("vacuum.retentionDurationCheck", "false")
    assert(t.vacuum(retainVersions = 5, retentionMs = 0) == 0)
    assert(ids(t.toDF) == Set(1, 2, 4, 5, 6))
  }

  test("SQL row-level UPDATE on a DV table does not resurrect deleted rows") {
    val wh = tmpDir("dv-wh-")
    graft.sources.GraftCatalog.register(spark, wh, "dvcat")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dvcat.default")
    val dir = tmpDir("dv-sql-")
    val t = GraftTable.create(spark, dir, seed6())
    t.setProperty("deletionVectors.enabled", "true")
    t.delete(col("id") === 2)
    spark.sql(s"CREATE TABLE dvcat.default.dvt (id INT, v STRING) USING graft " +
      s"LOCATION '$dir'")
    spark.sql("UPDATE dvcat.default.dvt SET v = 'updated' WHERE id = 5")
    val rows = spark.sql("SELECT id, v FROM dvcat.default.dvt ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows == Set((1, "v1"), (3, "v3"), (4, "v4"), (5, "updated"), (6, "v6")),
      s"got $rows")
    // SQL DELETE FROM routes to the DV path too
    spark.sql("DELETE FROM dvcat.default.dvt WHERE id = 1")
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.history().select("operationMetrics").head()
      .getMap[String, String](0).get("numRewrittenFiles").contains("0"))
    assert(ids(spark.sql("SELECT id FROM dvcat.default.dvt")) == Set(3, 4, 5, 6))
  }

  test("streaming initial snapshot of a DV table skips tombstoned rows") {
    val t = dvTable("dv-stream-")
    t.delete(col("id").isin(1, 4))
    val q = spark.readStream.format("graft").load(t.path)
      .writeStream.format("memory").queryName("dv_stream_snap")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = ids(spark.table("dv_stream_snap").select("id"))
    assert(got == Set(2, 3, 5, 6), s"streaming snapshot served $got")
  }

  test("RESTORE to a pre-delete version resurrects DV-deleted rows") {
    val t = dvTable("dv-restore-") // v0 create, v1 enable DVs
    t.delete(col("id") === 4)      // v2: DV delete, same data files re-added
    assert(ids(t.toDF) == Set(1, 2, 3, 5, 6))
    t.restore(1)                   // v3: HEAD must equal v1 — all six rows
    assert(ids(t.toDF) == Set(1, 2, 3, 4, 5, 6),
      "restore must revert deletion-vector state, not just file membership")
    assert(t.snapshot.files.forall(_.dvPath.isEmpty))
    // restoring forward to the post-delete version re-applies the DV
    t.restore(2)
    assert(ids(t.toDF) == Set(1, 2, 3, 5, 6))
    assert(t.snapshot.files.map(_.dvCount).sum == 1)
  }

  test("DV-free files skip the anti-join (scan splits on DV presence)") {
    val t = dvTable("dv-split-")
    t.delete(col("id") === 4) // exactly one of three files gets a DV
    val s = t.snapshot
    val (withDv, noDv) = s.files.partition(_.dvPath.isDefined)
    assert(withDv.size == 1 && noDv.size == 2)
    // full scan: no join — the DV file's tombstones drop inside the scan
    // leaf through one per-file filter
    val plan = t.toDF.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"plan:\n$plan")
    assert("Filter dv_live".r.findAllIn(plan).size == 1, s"plan:\n$plan")
    // a scan over only the DV-free subset has no DV filter at all
    val rawPlan = t.readFiles(s, noDv).queryExecution.executedPlan.toString
    assert(!rawPlan.contains("dv_live"), s"DV-free subset must scan raw:\n$rawPlan")
    assert(ids(t.toDF) == Set(1, 2, 3, 5, 6))
  }

  test("DELETE beyond deletionVectors.maxTombstones falls back to copy-on-write") {
    // one file, so the fallback rewrites the very file that carries the DV
    val t = GraftTable.create(spark, tmpDir("dv-cap-"), seed6().coalesce(1))
    t.setProperty("deletionVectors.enabled", "true")
    t.setProperty("deletionVectors.maxTombstones", "1")
    assert(t.delete(col("id") === 1) == 1) // 1 tombstone: at the cap, DV path
    assert(t.snapshot.files.exists(_.dvPath.isDefined))
    // 2 new tombstones exceed the cap: copy-on-write, existing DVs honored;
    // the row the DV already hid is not counted as deleted again
    assert(t.delete(col("id").isin(2, 3)) == 2)
    val metrics = t.history().select("operationMetrics").head()
      .getMap[String, String](0)
    assert(metrics.get("numRewrittenFiles").contains("1"),
      s"expected a CoW rewrite, got $metrics")
    assert(metrics.get("numDeletedRows").contains("2"), s"got $metrics")
    assert(ids(t.toDF) == Set(4, 5, 6))
    assert(t.metadataCount() == 3)
  }

  test("merge-on-read DML with a non-deterministic condition loses and duplicates no row") {
    // a fresh coin per evaluation: any second evaluation of the predicate
    // disagrees with the first on about half the rows
    val coin = udf(() => java.util.concurrent.ThreadLocalRandom.current().nextBoolean())
      .asNondeterministic()
    val t = GraftTable.create(spark, tmpDir("dv-nondet-"),
      df((1 to 400).map(i => (i, s"v$i")): _*).repartition(2))
    t.setProperty("deletionVectors.enabled", "true")
    t.setProperty("changeDataFeed.enabled", "true")
    def tombstones: Long = t.snapshot.files.map(_.dvCount).sum

    val updated = t.update(coin(), Map("v" -> "'u'"))
    val first = t.latestVersion
    assert(t.history().select("operationMetrics").head().getMap[String, String](0)
      .get("numDeletionVectors").isDefined, "the UPDATE must tombstone")
    val rows = t.toDF.collect()
    assert(rows.length == 400 && rows.map(_.getInt(0)).toSet == (1 to 400).toSet)
    assert(rows.count(_.getString(1) == "u") == updated)
    assert(tombstones == updated)
    assert(t.metadataCount() == 400)

    val deleted = t.delete(coin())
    assert(deleted > 0 && t.toDF.count() == 400 - deleted)
    assert(tombstones == updated + deleted)
    assert(t.metadataCount() == 400 - deleted)

    // a source that changes between reads: each evaluation keeps a
    // different half of the live ids (ids 401-420 are always inserts)
    val liveIds = t.toDF.collect().map(_.getInt(0)).toSeq
    val source = df(liveIds.map(i => (i, "m")): _*).filter(coin())
      .unionByName(df((401 to 420).map(i => (i, "m")): _*))
    t.merge(source, "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "v" -> "s.v"))
      .execute()
    val merged = t.toDF.collect()
    val live = liveIds.size
    assert(merged.length == live + 20 &&
      merged.map(_.getInt(0)).toSet.size == live + 20)
    val remerged = merged.count(r => r.getString(1) == "m" && r.getInt(0) <= 400)
    assert(t.history().select("operationMetrics").head().getMap[String, String](0)
      .get("numOutputRows").contains((remerged + 20).toString))
    assert(tombstones == updated + deleted + remerged)
    assert(t.metadataCount() == live + 20)

    val feed = t.changes(first - 1, t.latestVersion).groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed == Map("update_preimage" -> (updated + remerged),
      "update_postimage" -> (updated + remerged), "delete" -> deleted, "insert" -> 20L),
      s"got $feed")
  }

  test("a malformed deletionVectors.maxTombstones is refused, DV DML keeps working") {
    val t = dvTable("dv-badcap-")
    val v = t.latestVersion
    Seq("4M", "-1", "1.5", "").foreach { bad =>
      intercept[IllegalArgumentException](
        t.setProperty("deletionVectors.maxTombstones", bad))
    }
    // SQL SET TBLPROPERTIES goes through the same check
    graft.sources.GraftCatalog.register(spark, tmpDir("dv-badcap-wh-"), "badcapcat")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS badcapcat.default")
    spark.sql(s"CREATE TABLE badcapcat.default.t (id INT, v STRING) USING graft " +
      s"LOCATION '${t.path}'")
    val sqlErr = intercept[Exception](spark.sql("ALTER TABLE badcapcat.default.t " +
      "SET TBLPROPERTIES ('deletionVectors.maxTombstones' = '4M')"))
    assert(Iterator.iterate[Throwable](sqlErr)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalArgumentException]), sqlErr.toString)
    assert(t.latestVersion == v, "a refused value must not commit")
    assert(!t.snapshot.metaData.properties.contains("deletionVectors.maxTombstones"))
    assert(t.delete(col("id") === 1) == 1)
    assert(t.update(col("id") === 2, Map("v" -> "'two'")) == 1)
    t.merge(df((3, "three")), "t.id = s.id").whenMatchedUpdate(Map("v" -> "s.v")).execute()
    assert(t.snapshot.files.exists(_.dvPath.isDefined))
    assert(t.toDF.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((2, "two"), (3, "three"), (4, "v4"), (5, "v5"), (6, "v6")))
    t.setProperty("deletionVectors.maxTombstones", "0") // valid: always rewrite
    assert(t.snapshot.metaData.properties("deletionVectors.maxTombstones") == "0")
  }

  test("shallow clone carries deletion vectors") {
    val t = GraftTable.create(spark, tmpDir("dv-clsrc-"), seed6())
    t.setProperty("deletionVectors.enabled", "true")
    t.delete(col("id") === 6)
    val c = t.cloneTo(tmpDir("dv-cldst-"))
    assert(ids(c.toDF) == Set(1, 2, 3, 4, 5))
    assert(c.metadataCount() == 5)
  }

  test("merge-on-read MERGE: zero rewrites, tombstoned pre-images, appended post-images") {
    val t = dvTable("dv-mor-")
    val before = dataFiles(t)
    // updates ids 2 and 4 (different files), deletes id 6, inserts id 9
    t.merge(df((2, "TWO"), (4, "FOUR"), (6, "x"), (9, "nine")), "t.id = s.id")
      .whenMatchedDelete("s.id = 6")
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "v" -> "s.v"))
      .execute()
    // every original data file survives; only new files appended
    assert(dataFiles(t).intersect(before) == before,
      "merge-on-read MERGE must not rewrite any touched file")
    val metrics = t.history().select("operationMetrics").head()
      .getMap[String, String](0)
    assert(metrics.get("numTargetFilesRewritten").contains("0"))
    assert(metrics.get("numDeletionVectors").exists(_.toInt > 0))
    // content is the upsert result: 2/4 updated, 6 gone, 9 inserted
    assert(t.toDF.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "v1"), (2, "TWO"), (3, "v3"), (4, "FOUR"), (5, "v5"), (9, "nine")))
    // pre-merge version still serves the original rows
    assert(ids(t.versionAsOf(1)) == Set(1, 2, 3, 4, 5, 6))
    // affected rows tombstoned: dv counts cover the two updates + delete
    assert(t.snapshot.files.map(_.dvCount).sum == 3)
  }

  test("merge-on-read MERGE beyond the tombstone cap falls back to copy-on-write") {
    val t = dvTable("dv-mor-cap-")
    t.setProperty("deletionVectors.maxTombstones", "1")
    val before = dataFiles(t)
    t.merge(df((2, "TWO"), (4, "FOUR")), "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .execute()
    assert(dataFiles(t).intersect(before) != before,
      "beyond the cap the merge must rewrite copy-on-write")
    assert(t.snapshot.files.forall(_.dvPath.isEmpty))
    assert(t.toDF.collect().map(r => (r.getInt(0), r.getString(1))).toSet
      .contains((2, "TWO")))
  }

  test("DV DML after OPTIMIZE strips the stale reorganization tag on re-adds") {
    // OPTIMIZE output carries DataChangeFalseTag; a later DV DELETE re-adds
    // exactly those files. Carrying the tag forward would make the
    // streaming tail reader classify the DELETE as a reorganization and
    // silently drop its change events.
    val t = dvTable("dv-reorgtag-")
    t.optimize()
    assert(t.snapshot.files.nonEmpty &&
      t.snapshot.files.forall(_.tags.contains(Actions.DataChangeFalseTag)),
      "fixture: OPTIMIZE output must carry the reorganization flag")
    assert(t.delete(col("id") === 2) === 1L)
    val adds = t.log.readVersion(t.log.latestVersion)
      .collect { case a: AddFile => a }
    assert(adds.nonEmpty, "the DV delete re-adds the touched file")
    assert(adds.forall(!_.tags.contains(Actions.DataChangeFalseTag)),
      "a re-add into a data-changing commit must not inherit the flag")
    // same guarantee through a DV MERGE
    t.merge(df((3, "THREE")), "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v")).execute()
    val mergeAdds = t.log.readVersion(t.log.latestVersion)
      .collect { case a: AddFile => a }
    assert(mergeAdds.nonEmpty &&
      mergeAdds.forall(!_.tags.contains(Actions.DataChangeFalseTag)))
  }

  test("RESTORE to an OPTIMIZE-output snapshot strips the reorganization tag") {
    val t = dvTable("dv-restoretag-")
    t.optimize()
    val postOpt = t.latestVersion // target snapshot = tagged optimize output
    t.delete(col("id") === 1)
    t.restore(postOpt) // re-emits the tagged files with a changed DV state
    val adds = t.log.readVersion(t.latestVersion)
      .collect { case a: AddFile => a }
    assert(adds.nonEmpty, "fixture: the restore must re-add the DV-reverted file")
    assert(adds.forall(!_.tags.contains(Actions.DataChangeFalseTag)),
      "RESTORE re-emits snapshot files into a data-changing commit")
    assert(ids(t.toDF) == Set(1, 2, 3, 4, 5, 6))
  }

  /** A CONVERTED layout: one same-named part file per partition dir —
    * the shape every `CONVERT TO GRAFT` import of a Hive layout has. */
  private def convertedCollidingTable(prefix: String): GraftTable = {
    val src = tmpDir(prefix)
    val stage = tmpDir(prefix + "stage-")
    import spark.implicits._
    (1 to 4).foreach { i =>
      Seq((i, s"v$i")).toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .toArray.map(_.toString).filter(_.endsWith(".parquet")).head
      val d = java.nio.file.Paths.get(src, s"p=b$i")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        d.resolve("part-00000-c000.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val t = GraftTable.convert(spark, src)
    t.setProperty("deletionVectors.enabled", "true")
    t
  }

  test("DV DML on a CONVERTED layout: same-named files in different dirs tombstone independently") {
    // provenance keys on the normalized path, never the basename — with
    // basename keys every one of these four "part-00000-c000.parquet"
    // files would share one tombstone set and a delete in p=b1 would
    // kill the same position in b2/b3/b4 too
    val t = convertedCollidingTable("dv-conv-")
    assert(t.delete(col("id") === 1) === 1L)
    assert(ids(t.toDF) === Set(2, 3, 4),
      "rows of the OTHER same-named files must survive")
    assert(t.delete(col("id") === 3) === 1L)
    assert(ids(t.toDF) === Set(2, 4))
    // both tombstoned files re-read correctly through a fresh handle
    assert(ids(GraftTable.forPath(spark, t.path).toDF) === Set(2, 4))
    // CoW SQL-free update path over the remaining collided files
    t.update(col("id") === 2, Map("v" -> "'patched'"))
    assert(t.toDF.filter(col("v") === "patched").count() === 1L)

    // ONE commit tombstoning TWO same-named files shares one DV file,
    // with one descriptor per file: no spurious legacy-ambiguity refusal,
    // and each file loses exactly its own row
    val t2 = convertedCollidingTable("dv-conv2-")
    assert(t2.delete(col("id").isin(1, 3)) === 2L)
    assert(ids(t2.toDF) === Set(2, 4))
    assert(ids(GraftTable.forPath(spark, t2.path).toDF) === Set(2, 4))
  }

  test("row tracking on a CONVERTED layout: colliding basenames keep distinct base ids") {
    val t = convertedCollidingTable("dv-conv-rt-")
    t.setProperty("rowTracking.enabled", "true")
    val rows = t.scanWithRowIds().collect()
    assert(rows.length === 4, "a basename-keyed base map would duplicate rows")
    val rids = rows.map(_.getAs[Long](GraftTable.RowIdCol)).toSet
    assert(rids.size === 4, s"row ids must be distinct, got $rids")
  }

  test("LEGACY basename sidecars still apply; ambiguous legacy state refuses loudly") {
    // legacy spelling on a NON-colliding partitioned table: a
    // pre-round-15 sidecar stores the bare basename and no `rel` format
    // marker — the read must still apply it
    val t = GraftTable.create(spark, tmpDir("dv-legacy-"),
      df((1, "a"), (2, "b"), (3, "a"), (4, "b")), partitionBy = Seq("v"))
    t.setProperty("deletionVectors.enabled", "true")
    val (f3, pos3) = rowPositions(spark, t)(3)
    pointAt(t, legacySidecar(spark, t.path, Seq(basename(f3) -> pos3), marked = false),
      Seq(f3 -> 1L))
    assert(ids(GraftTable.forPath(spark, t.path).toDF) === Set(1, 2, 4),
      "a legacy basename sidecar must still tombstone its row")

    // AMBIGUOUS legacy state: one commit's sidecar covering TWO files
    // that share a basename, in basename spelling — the attribution was
    // never written, so the read must refuse loudly rather than
    // tombstone both files' rows
    val c = convertedCollidingTable("dv-legacy-amb-")
    val at = rowPositions(spark, c)
    val (f1, p1) = at(1)
    val (f2, p2) = at(2)
    assert(basename(f1) == basename(f2), "fixture: the two files share a basename")
    pointAt(c, legacySidecar(spark, c.path,
      Seq(basename(f1) -> p1, basename(f2) -> p2), marked = false), Seq(f1 -> 1L, f2 -> 1L))
    val e = intercept[GraftProtocolException](
      GraftTable.forPath(spark, c.path).toDF.collect())
    assert(e.getMessage.contains("cannot be attributed"), s"got $e")
    // the V2 (catalog) read path reaches the SAME verdict — the planner
    // flags the (sidecar, basename) twins and the per-file reader refuses
    // the bare-basename entry instead of tombstoning both files' rows
    graft.sources.GraftCatalog.register(spark, tmpDir("dv-amb-wh-"), name = "dvamb")
    spark.sql(s"CREATE TABLE dvamb.default.t USING graft LOCATION '${c.path}'")
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM dvamb.default.t").collect())
    def msgs(th: Throwable): Seq[String] =
      if (th == null) Nil else Option(th.getMessage).toSeq ++ msgs(th.getCause)
    assert(msgs(e2).exists(_.contains("cannot be attributed")),
      s"V2 path must refuse like the batch path: ${msgs(e2).mkString(" | ")}")

    // PRUNED scans reach the same verdict (round 16): the ambiguity set
    // derives from ALL live files sharing the sidecar, never the scanned
    // subset — partition-pruning one (sidecar, basename) twin away must
    // not let the pruned twin's legacy entry silently tombstone rows of
    // the surviving file (previously scan(p === "b1") returned the wrong
    // row set instead of refusing)
    val e3 = intercept[GraftProtocolException](
      GraftTable.forPath(spark, c.path).scan(col("p") === "b1").collect())
    assert(e3.getMessage.contains("cannot be attributed"), s"got $e3")
    // a pruned scan of a DV-FREE twin stays readable: no entry of the
    // shared sidecar can apply to it, so there is nothing to refuse
    assert(ids(GraftTable.forPath(spark, c.path).scan(col("p") === "b3")) ===
      Set(3))
    // the V2 (catalog) path prunes through its own planner — same verdict
    val e4 = intercept[Exception](
      spark.sql("SELECT * FROM dvamb.default.t WHERE p = 'b1'").collect())
    assert(msgs(e4).exists(_.contains("cannot be attributed")),
      s"pruned V2 scan must refuse like the batch path: ${msgs(e4).mkString(" | ")}")
  }

  test("a legacy sidecar stays readable; a DV DELETE folds it into one descriptor; OPTIMIZE purges it") {
    val t = GraftTable.create(spark, tmpDir("dv-legacy-read-"),
      df((1 to 6).map(i => (i, s"v$i")): _*).coalesce(1))
    t.setProperty("deletionVectors.enabled", "true")
    val at = rowPositions(spark, t)
    val (f, p2) = at(2)
    val p4 = at(4)._2
    pointAt(t, legacySidecar(spark, t.path, Seq(f.path -> p2, f.path -> p4)), Seq(f -> 2L))
    val before = GraftTable.forPath(spark, t.path)
    val legacy = before.latestVersion
    assert(before.snapshot.files.flatMap(_.dvPath).forall(_.startsWith("_dv/")),
      "fixture: the file points at the legacy sidecar")
    assert(ids(before.toDF) == Set(1, 3, 5, 6))
    assert(before.metadataCount() == 4)
    assert(before.detail().select("numRows").head().getLong(0) == 4)

    // the DELETE merges the sidecar's tombstones into the file's new descriptor
    assert(before.delete(col("id") === 5) == 1)
    val after = before.snapshot.files.filter(_.dvPath.isDefined)
    assert(after.size == 1 && after.head.dvCount == 3)
    val d = DeltaDeletionVectors.unpack(after.head.dvPath.get)
    assert(d.storageType == "u" && d.cardinality == 3, s"got $d")
    assert(Files.list(Paths.get(t.path)).iterator().asScala
      .count(_.getFileName.toString.startsWith("deletion_vector_")) == 1)
    assert(ids(before.toDF) == Set(1, 3, 6))
    assert(before.metadataCount() == 3)

    before.optimize()
    assert(before.snapshot.files.forall(_.dvPath.isEmpty), "OPTIMIZE must purge DVs")
    assert(ids(before.toDF) == Set(1, 3, 6))
    // time travel still reads the legacy state
    assert(ids(before.versionAsOf(legacy)) == Set(1, 3, 5, 6))
  }

  test("round-16 `rel` marker: a bare-basename entry is a ROOT-LEVEL path, never legacy") {
    // a marked sidecar whose entry names a root-level file ("part-0
    // .parquet" IS its full table-relative path). Before the marker, the
    // '/'-presence inference treated it as potentially legacy: a nested
    // same-named twin would suffix-match it (misattribution) or — under
    // requireQualified — refuse spuriously.
    val dir = tmpDir("dv-marker-")
    val p = markedSidecar(s"$dir/src", Seq("part-0.parquet" -> 0L))
    def posOf(fname: String, strict: Boolean = false): Set[Int] =
      readerPositions(dir, p, fname, strict)
    assert(posOf("part-0.parquet") === Set(0), "exact root-level match")
    assert(posOf("p=b1/part-0.parquet") === Set.empty[Int],
      "a nested same-named twin must NOT suffix-match a marked root entry")
    // requireQualified never refuses a marked entry (it is not legacy)
    assert(posOf("p=b1/part-0.parquet", strict = true) === Set.empty[Int])
    assert(posOf("part-0.parquet", strict = true) === Set(0))
    // the clone-escape spelling still binds (reader fname leads with ../)
    assert(posOf("../src/part-0.parquet") === Set(0))
    // and an UNMARKED sidecar keeps the conservative legacy semantics
    val dir2 = tmpDir("dv-marker-legacy-")
    val p2 = legacySidecar(spark, dir2, Seq("part-0.parquet" -> 0L), marked = false)
    assert(graft.table.FileOps.dvPositions(p2, "p=b1/part-0.parquet",
      s"$dir2/p=b1/part-0.parquet").stream().toArray.toSet === Set(0),
      "legacy suffix matching preserved")
    intercept[GraftProtocolException](graft.table.FileOps.dvPositions(p2,
      "p=b1/part-0.parquet", s"$dir2/p=b1/part-0.parquet", true))
  }

  test("marked sidecar: a clone's escaped nested file takes only its own entry") {
    // the source's sidecar tombstones a root-level part-0.parquet and a
    // nested same-named p=b1/part-0.parquet; a shallow clone reads both
    // through escaped paths and must not take its twin's positions
    val dir = tmpDir("dv-escape-")
    val p = markedSidecar(s"$dir/src",
      Seq("p=b1/part-0.parquet" -> 1L, "part-0.parquet" -> 0L))
    assert(readerPositions(dir, p, "../src/p=b1/part-0.parquet") === Set(1))
    assert(readerPositions(dir, p, "../src/part-0.parquet") === Set(0))
    assert(readerPositions(dir, p, "p=b1/part-0.parquet") === Set(1))
    assert(readerPositions(dir, p, "part-0.parquet") === Set(0))
  }

  /** A `rel`-marked sidecar of the table at `root`, in its `_dv/` dir. */
  private def markedSidecar(root: String, entries: Seq[(String, Long)]): java.nio.file.Path =
    legacySidecar(spark, root, entries)

  /** The positions `sidecar` (of `<dir>/src`) tombstones for `fname`, read
    * as `<dir>/src` reads it or, for an escaped `../` fname, as the shallow
    * clone `<dir>/clone` does. */
  private def readerPositions(dir: String, sidecar: java.nio.file.Path, fname: String,
      strict: Boolean = false): Set[Int] = {
    val root = if (fname.startsWith("..")) s"$dir/clone" else s"$dir/src"
    graft.table.FileOps.dvPositions(sidecar, fname, s"$root/$fname", strict)
      .stream().toArray.toSet
  }
}

object DeletionVectorSpec {

  /** Each row's file and position in it, by its `id`. */
  def rowPositions(spark: SparkSession, t: GraftTable): Map[Long, (AddFile, Long)] =
    t.snapshot.files.flatMap { f =>
      spark.read.parquet(Paths.get(t.path, f.path).toString)
        .select(col("id"), col("_metadata.row_index")).collect()
        .map(r => r.getAs[Number](0).longValue -> (f, r.getLong(1)))
    }.toMap

  def basename(f: AddFile): String = f.path.substring(f.path.lastIndexOf('/') + 1)

  /** A legacy `_dv/` parquet sidecar of the table at `root` holding
    * `entries` (stored fname, pos), as merge-on-read DML wrote it before
    * the Delta descriptor became the one format: with `marked`, the
    * round-16 `rel` format-marker column; without, the earlier layout. */
  def legacySidecar(spark: SparkSession, root: String, entries: Seq[(String, Long)],
      marked: Boolean = true): java.nio.file.Path = {
    import spark.implicits._
    val dv = s"$root/_dv"
    val rows = entries.toDF("fname", "pos")
    (if (marked) rows.withColumn("rel", lit(true)) else rows)
      .coalesce(1).write.mode("overwrite").parquet(dv)
    Files.list(Paths.get(dv)).toArray.map(_.toString).filter(_.endsWith(".parquet"))
      .map(Paths.get(_)).head
  }

  /** Commit `tombstoned`'s files re-added with `sidecar` as their DV, each
    * `dvCount` raised by its count: the log state of a DV DELETE that
    * wrote a legacy sidecar. */
  def pointAt(t: GraftTable, sidecar: java.nio.file.Path,
      tombstoned: Seq[(AddFile, Long)]): Unit = {
    val v = t.latestVersion + 1
    val rel = Paths.get(t.path).relativize(sidecar).toString
    t.log.commit(v, CommitInfo(v, t.log.nextTimestamp(), "DELETE", Map.empty) +:
      tombstoned.map { case (f, n) => f.copy(dvPath = Some(rel), dvCount = f.dvCount + n) })
  }
}
