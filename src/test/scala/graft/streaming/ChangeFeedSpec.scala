package graft.streaming

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.table.{CdcFile, GraftTable}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Change-data-feed: commit-time `_cdc/` sidecars (Delta's AddCDCFile
  * shape), the batch `readChangeFeed` relation, and the CDF STREAM — the
  * rewrite-commits-feed-the-stream behavior plain table streaming can't
  * offer (it aborts on rewrites). */
class ChangeFeedSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("firstname", StringType, nullable = false),
    StructField("lastname", StringType, nullable = false)))

  private def df(rows: (Int, String, String)*): DataFrame =
    spark.createDataFrame(
      rows.map { case (i, f, l) => Row(i, f, l) }.asJava, schema)

  /** Golden DML scenario with CDF on from birth: v0 seed, v1 SET
    * TBLPROPERTIES, v2 merge, v3 delete. */
  private def goldenCdf(): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("cdf-"),
      df((1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")))
    t.setProperty("changeDataFeed.enabled", "true")
    t.merge(df((2, "Alice", "Smith"), (4, "New", "Person")), "t.id = s.id")
      .whenMatchedUpdate(Map("firstname" -> "s.firstname", "lastname" -> "s.lastname"))
      .whenNotMatchedInsert(Map(
        "id" -> "s.id", "firstname" -> "s.firstname", "lastname" -> "s.lastname"))
      .execute()
    t.delete(col("id").isin(1, 3))
    t
  }

  private def canon(d: DataFrame): Set[(Int, String, String, String, Long)] =
    d.select("id", "firstname", "lastname", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSet

  test("DML on a CDF table writes _cdc sidecars; changes() reads them back") {
    val t = goldenCdf()
    val mergeActions = t.log.readVersion(2)
    val deleteActions = t.log.readVersion(3)
    assert(mergeActions.exists(_.isInstanceOf[CdcFile]),
      "MERGE on a CDF table must commit cdc sidecars")
    assert(deleteActions.exists(_.isInstanceOf[CdcFile]),
      "DELETE on a CDF table must commit cdc sidecars")
    // sidecar tier: the MERGE's update is a PAIRED
    // update_preimage/update_postimage (Delta's representation); deletes
    // and inserts keep their plain types
    assert(canon(t.changes(1, 3)) === Set(
      (2, "Alice", "Rogers", "update_preimage", 2L),
      (2, "Alice", "Smith", "update_postimage", 2L),
      (4, "New", "Person", "insert", 2L),
      (1, "James", "Bond", "delete", 3L),
      (3, "Joe", "Bloggs", "delete", 3L)))
    // _commit_timestamp parity: every change row carries its commit's
    // history() timestamp
    val hist = t.history().collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    t.changes(1, 3).select("_commit_version", "_commit_timestamp").collect()
      .foreach(r => assert(r.getTimestamp(1) === hist(r.getLong(0)),
        s"_commit_timestamp must equal history() for v${r.getLong(0)}"))
  }

  test("OVERWRITE and RESTORE sidecars keep duplicate rows: the exceptAll multiset") {
    val t = GraftTable.create(spark, tmpDir("cdf-dup-"),
      df((1, "A", "B"), (1, "A", "B"), (2, "C", "D")))
    t.setProperty("changeDataFeed.enabled", "true")
    val before = t.latestVersion
    def rows(d: DataFrame): Seq[(Int, String, String, String)] =
      d.select("id", "firstname", "lastname", "_change_type").collect().toSeq
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).sorted
    /** The change rows as two exceptAlls define them. */
    def exceptAllDiff(o: DataFrame, n: DataFrame): Seq[(Int, String, String, String)] =
      rows(n.exceptAll(o).withColumn("_change_type", lit("insert"))
        .unionByName(o.exceptAll(n).withColumn("_change_type", lit("delete"))))
    def sidecarRows(v: Long): Seq[(Int, String, String, String)] = {
      assert(t.log.readVersion(v).exists(_.isInstanceOf[CdcFile]), s"v$v wrote no sidecar")
      rows(t.changes(v - 1, v))
    }
    val replacement = df((1, "A", "B"), (3, "E", "F"), (3, "E", "F"))
    t.overwrite(replacement)
    val overwritten = sidecarRows(t.latestVersion)
    assert(overwritten === Seq((1, "A", "B", "delete"), (2, "C", "D", "delete"),
      (3, "E", "F", "insert"), (3, "E", "F", "insert")))
    assert(overwritten === exceptAllDiff(t.versionAsOf(before), replacement))
    t.restore(before)
    val restored = sidecarRows(t.latestVersion)
    assert(restored === Seq((1, "A", "B", "insert"), (2, "C", "D", "insert"),
      (3, "E", "F", "delete"), (3, "E", "F", "delete")))
    assert(restored === exceptAllDiff(replacement, t.toDF))
  }

  test("batch readChangeFeed relation serves the version range") {
    val t = goldenCdf()
    val feed = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", 2)
      .load(t.path)
    assert(feed.columns.takeRight(3).toSeq ===
      Seq("_change_type", "_commit_version", "_commit_timestamp"))
    assert(canon(feed) === canon(t.changes(1, 3)))
    val tail = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", 3).option("endingVersion", 3)
      .load(t.path)
    assert(canon(tail) === canon(t.changes(2, 3)))
  }

  test("CDF stream tails rewrite commits instead of aborting; equals batch changes()") {
    val t = goldenCdf()
    val out = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", 2)
      .load(t.path)
    val name = "cdf_stream_tail"
    val q = out.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(canon(spark.table(name)) === canon(t.changes(1, 3)),
      "streamed deltas must equal the batch change feed")
    // new commits continue the feed across a second run
    t.delete(col("id") === 4)
    val q2 = out.writeStream.format("memory").queryName(name + "2")
      // fresh checkpoint: re-drain the whole feed from startingVersion
      .option("checkpointLocation", tmpDir("cdf-chk-"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(canon(spark.table(name + "2")) === canon(t.changes(1, 4)))
  }

  test("CDF stream composes with startingTimestamp (first commit at/after)") {
    val t = goldenCdf()
    // resolve the instant of commit 2 from history, start the feed there
    val ts2 = t.history().orderBy(col("version"))
      .select(col("timestamp").cast("string")).collect()(2).getString(0)
    val out = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", ts2)
      .load(t.path)
    val name = "cdf_stream_ts"
    val q = out.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(canon(spark.table(name)) === canon(t.changes(1, 3)),
      "startingTimestamp must begin the feed at the resolved commit")
  }

  test("CDF stream initial snapshot (no startingVersion) emits state as inserts") {
    val t = goldenCdf()
    val out = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .load(t.path)
    val name = "cdf_stream_snap"
    val q = out.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(canon(spark.table(name)) === Set(
      (2, "Alice", "Smith", "insert", 3L),
      (4, "New", "Person", "insert", 3L)))
  }

  test("rate-limited CDF tail drains a multi-commit backlog in >1 batch") {
    val t = goldenCdf() // v2 merge + v3 delete, each with _cdc sidecars
    t.append(df((7, "Extra", "Row")))               // v4: plain append
    t.delete(col("id") === 7)                       // v5: rewrite w/ sidecar
    def drain(name: String, opts: Map[String, String]): Long = {
      val out = opts.foldLeft(spark.readStream.format("graft")
          .option("readChangeFeed", "true").option("startingVersion", 1)) {
        case (r, (k, v)) => r.option(k, v) }.load(t.path)
      val q = out.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmpDir(s"cdf-adm-$name-"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // integrity: the rate-limited drain re-assembles the exact feed
      assert(canon(spark.table(name)) === canon(t.changes(1, 5)),
        s"$name: rate-limited CDF drain must equal the batch change feed")
      q.lastProgress.batchId
    }
    // unlimited: AvailableNow drains the whole backlog in one batch
    assert(drain("cdf_adm_all", Map.empty) == 0L)
    // 1 file/trigger: 4 delta-carrying commits → ≥4 micro-batches (a
    // commit's sidecars stay whole — offsets are commit versions)
    assert(drain("cdf_adm_files", Map("maxFilesPerTrigger" -> "1")) >= 3L)
    // 1 byte/trigger: every sidecar exceeds it → one commit per batch,
    // exercising the CdcFile.size admission path
    assert(drain("cdf_adm_bytes", Map("maxBytesPerTrigger" -> "1")) >= 3L)
  }

  test("a byte-capped CDF tail sizes each commit by what it reads") {
    val t = goldenCdf()                             // v2 merge + v3 delete, sidecars
    t.append(df((7, "Extra", "Row")))               // v4: plain append
    t.delete(col("id") === 7)                       // v5: rewrite w/ sidecar
    t.setProperty("autoCompact.targetBytes", "1048576") // v6: maintenance
    t.update(col("id") === 4, Map("lastname" -> "'Q'")) // v7: sidecar
    val cap = t.log.readVersion(2).collect { case c: CdcFile => c.size }.sum
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", 2)
      .option("maxBytesPerTrigger", cap.toString)
      .load(t.path)
      .writeStream.format("memory").queryName("cdf_bytes_batches")
      .option("checkpointLocation", tmpDir("cdf-bytes-batches-ckpt-"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def version(json: String): Long =
      Option(json).map("""-?\d+""".r.findFirstIn(_).get.toLong).getOrElse(-1L)
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => version(p.sources.head.startOffset) -> version(p.sources.head.endOffset))
    // the cap is the merge's sidecar bytes: the merge rides alone, the
    // delete's sidecar and the append's file share a batch, and the rest
    // (a sidecar, a maintenance commit, a sidecar) fit in the last
    assert(batches === Seq(-1L -> 2L, 2L -> 4L, 4L -> 7L))
    assert(canon(spark.table("cdf_bytes_batches")) === canon(t.changes(1, 7)))
  }

  test("changes() reads nothing for maintenance commits") {
    val t = GraftTable.create(spark, tmpDir("cdf-maint-"),
      df((1 to 16).map(i => (i, s"f$i", s"l$i")): _*).repartitionByRange(16, col("id")))
    t.setProperty("changeDataFeed.enabled", "true")  // v1
    t.append(df((17, "f17", "l17")))                  // v2
    t.optimize()                                      // v3
    val optV = t.latestVersion
    val compacted = t.log.snapshotAt(optV - 1).files.size
    assert(compacted >= 8 &&
      t.log.readVersion(optV).count(_.isInstanceOf[graft.table.RemoveFile]) === compacted)
    for (v <- Seq(1L, optV)) {
      var rows = -1
      assert(jobsDuring { rows = t.changes(v - 1, v).collect().length } === 0, s"v$v")
      assert(rows === 0, s"v$v")
    }
    // a range of maintenance commits only: an empty frame with the CDF columns
    val empty = t.changes(optV - 1, optV)
    assert(empty.columns.toSeq ===
      Seq("id", "firstname", "lastname", "_change_type", "_commit_version", "_commit_timestamp"))
    assert(empty.schema("_commit_version").dataType === LongType)
    assert(empty.schema("_commit_timestamp").dataType === TimestampType)
    // a range mixing them serves exactly the data commits' rows
    assert(canon(t.changes(0, optV)) === Set((17, "f17", "l17", "insert", 2L)))
  }

  test("byte-capped CDF tail over a LEGACY log (no sidecar sizes) stays rate-limited") {
    // pre-round-11 logs carry CdcFile entries without a size field; a
    // byte-denominated cap must not FAIL OPEN over them (all-zero sums
    // would admit the whole backlog in one batch) — the unknown-size
    // sentinel keeps one such commit per trigger
    val t = goldenCdf()
    t.append(df((7, "Extra", "Row")))
    t.delete(col("id") === 7)
    // simulate the legacy log: strip "size" from every cdc action
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(t.path, "_delta_log"))
      .iterator().asScala.filter(_.getFileName.toString.endsWith(".json"))
      .foreach { p =>
        val body = java.nio.file.Files.readString(p)
        if (body.contains("\"cdc\"")) java.nio.file.Files.writeString(p,
          // only cdc lines lose their size — AddFile sizes must survive
          body.linesIterator.map(l =>
            if (l.contains("\"cdc\"")) l.replaceAll(""","size":\d+""", "")
            else l).mkString("", "\n", "\n"))
      }
    val fresh = GraftTable.forPath(spark, t.path) // cold caches re-parse
    assert(fresh.log.readVersion(2).collect { case c: CdcFile => c }
      .forall(_.size == 0L), "fixture must present the legacy size-0 shape")
    val out = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", 1)
      .option("maxBytesPerTrigger", "1")
      .load(t.path)
    val q = out.writeStream.format("memory").queryName("cdf_legacy_bytes")
      .option("checkpointLocation", tmpDir("cdf-legacy-ckpt-"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(canon(spark.table("cdf_legacy_bytes")) === canon(fresh.changes(1, 5)),
      "rate-limited legacy drain must reassemble the exact feed")
    assert(q.lastProgress.batchId >= 3L,
      s"legacy size-0 sidecars must not collapse the backlog into one " +
        s"batch, got batchId=${q.lastProgress.batchId}")
  }

  test("rewrite commits without change data abort the CDF stream loudly") {
    val t = GraftTable.create(spark, tmpDir("cdf-off-"),
      df((1, "A", "B"), (2, "C", "D")))
    t.delete(col("id") === 1) // rewrite with CDF off: no sidecar
    val out = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", 1)
      .load(t.path)
    val q = out.writeStream.format("memory").queryName("cdf_stream_abort")
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("changeDataFeed") ||
      Option(e.getCause).exists(_.getMessage.contains("changeDataFeed")))
  }

  test("CDF stream serves a DV DELETE whose files all came from a prior OPTIMIZE") {
    // Pre-fix, the stale reorganization tag on the re-added optimize-output
    // files made the tail classify the delete as maintenance and silently
    // drop its delete change events.
    val t = goldenCdf() // head: {2 Alice Smith, 4 New Person}
    t.setProperty("deletionVectors.enabled", "true")
    t.optimize()
    t.delete(col("id") === 2)
    val delV = t.log.latestVersion
    val out = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", delV)
      .load(t.path)
    val q = out.writeStream.format("memory").queryName("cdf_optdel")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(canon(spark.table("cdf_optdel")) ===
      Set((2, "Alice", "Smith", "delete", delV)),
      "the post-OPTIMIZE DV delete must stream its delete events")
  }

  test("vacuum keeps cdc sidecars of retained commits") {
    val t = goldenCdf()
    val cdcPaths = (2L to 3L).flatMap(v =>
      t.log.readVersion(v).collect { case c: CdcFile => c.path })
    assert(cdcPaths.nonEmpty)
    t.setProperty("vacuum.retentionDurationCheck", "false")
    t.vacuum(retainVersions = 10, retentionMs = 0L)
    cdcPaths.foreach(p =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(t.path, p)),
        s"vacuum must keep retained commit's cdc sidecar $p"))
  }
}
