package graft.streaming

import graft.SparkTestBase
import graft.table.GraftTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** `readStream.format("graft")`: the table as a streaming SOURCE. Offsets
  * are commit versions, so batches re-plan identically across restarts —
  * the properties these tests pin: initial-snapshot load, tail appends,
  * restart exactly-once, append-only enforcement (and the ignoreChanges
  * escape), maintenance-commit skipping, partitioned tables. */
class GraftTableStreamSpec extends SparkTestBase {

  import spark.implicits._

  private def startStream(dir: String, ckpt: String, sink: String,
      extra: Map[String, String] = Map.empty) = {
    var r = spark.readStream.format("graft")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load(dir).writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
  }

  /** Restart tests need a sink that recovers from a checkpoint (memory
    * can't): stream to parquet, read the output dir back. Duplicate ids in
    * the output would prove re-emission, so cumulative contents pin
    * exactly-once. */
  private def runToParquet(dir: String, ckpt: String, out: String,
      extra: Map[String, String] = Map.empty): Unit = {
    var r = spark.readStream.format("graft")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.load(dir).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
  }

  private def outIds(out: String): Seq[Int] =
    spark.read.parquet(out).collect().map(_.getInt(0)).sorted.toSeq

  test("initial snapshot then appended commits, across separate runs") {
    val dir = tmpDir("gstream-")
    val ckpt = tmpDir("gstream-ckpt-")
    val out = tmpDir("gstream-out-")
    val t = GraftTable.create(spark, dir, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    runToParquet(dir, ckpt, out)
    assert(outIds(out) == Seq(1, 2))

    // two more commits while no stream is running; next run picks up ONLY
    // them (a re-emitted snapshot would duplicate ids 1/2)
    t.append(Seq((3, "c")).toDF("id", "v"))
    t.append(Seq((4, "d")).toDF("id", "v"))
    runToParquet(dir, ckpt, out)
    assert(outIds(out) == Seq(1, 2, 3, 4))

    // a third run with nothing new emits nothing (exactly-once via offsets)
    runToParquet(dir, ckpt, out)
    assert(outIds(out) == Seq(1, 2, 3, 4))
  }

  test("startingVersion skips the initial snapshot") {
    val dir = tmpDir("gstream-sv-")
    val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "v")) // v0
    t.append(Seq((2, "b")).toDF("id", "v")) // v1
    t.append(Seq((3, "c")).toDF("id", "v")) // v2
    val q = startStream(dir, tmpDir("gstream-sv-ckpt-"), "gsv",
      Map("startingVersion" -> "2"))
    q.awaitTermination(60000)
    assert(spark.table("gsv").collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("file-rewriting DML aborts the tail; ignoreChanges streams the adds") {
    val dir = tmpDir("gstream-dml-")
    val ckpt = tmpDir("gstream-dml-ckpt-")
    val out = tmpDir("gstream-dml-out-")
    // one file holding both rows, so the delete REWRITES it (a delete that
    // only drops whole files adds nothing and has nothing to re-emit)
    val t = GraftTable.create(spark, dir,
      Seq((1, "a"), (2, "b")).toDF("id", "v").coalesce(1))
    runToParquet(dir, ckpt, out) // consume snapshot
    t.delete(col("id") === 1) // rewrite commit
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runToParquet(dir, ckpt, out)
    }
    assert(err.getMessage.contains("ignoreChanges") ||
      Option(err.getCause).exists(_.getMessage.contains("ignoreChanges")))
    // same checkpoint, ignoreChanges: the delete's rewritten file re-emits
    runToParquet(dir, ckpt, out, Map("ignoreChanges" -> "true"))
    assert(outIds(out) == Seq(1, 2, 2)) // id 2 re-emitted, documented semantic
  }

  test("DV DELETE after OPTIMIZE is a data change: tail aborts, never silently skips") {
    // Every file the delete touches came out of the prior OPTIMIZE, so all
    // its re-adds were once tagged dataChange=false; the delete commit must
    // still abort the append-only tail (its removes change data), not be
    // misclassified as a reorganization and dropped wholesale.
    val dir = tmpDir("gstream-optdv-")
    val ckpt = tmpDir("gstream-optdv-ckpt-")
    val out = tmpDir("gstream-optdv-out-")
    val t = GraftTable.create(spark, dir,
      Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(2))
    t.setProperty("deletionVectors.enabled", "true")
    runToParquet(dir, ckpt, out)
    t.optimize() // live files now all carry the reorganization flag
    t.delete(col("id") === 1) // DV delete re-adds ONLY optimize-output files
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runToParquet(dir, ckpt, out)
    }
    assert(err.getMessage.contains("ignoreChanges") ||
      Option(err.getCause).exists(_.getMessage.contains("ignoreChanges")),
      s"the delete must abort as a rewrite, got: ${err.getMessage}")
  }

  test("OPTIMIZE commits are maintenance, not data") {
    val dir = tmpDir("gstream-opt-")
    val ckpt = tmpDir("gstream-opt-ckpt-")
    val out = tmpDir("gstream-opt-out-")
    val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    runToParquet(dir, ckpt, out)
    t.optimize() // compaction rewrite
    t.append(Seq((3, "c")).toDF("id", "v"))
    runToParquet(dir, ckpt, out)
    // only the post-optimize append arrives; the compaction emits nothing
    assert(outIds(out) == Seq(1, 2, 3))
  }

  test("startingTimestamp starts the tail at the first commit at/after the instant") {
    val dir = tmpDir("gstream-ts-")
    val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    // the cut point: commits strictly before this instant are excluded
    val cut = t.log.commitInfos.last.timestamp + 1
    t.append(Seq((3, "c")).toDF("id", "v"))
    t.append(Seq((4, "d")).toDF("id", "v"))
    // Timestamp.toString keeps millis ("....sss"), which valueOf re-parses
    val cutStr = new java.sql.Timestamp(cut).toString
    val q = startStream(dir, tmpDir("gstream-ts-ckpt-"), "gts1",
      Map("startingTimestamp" -> cutStr))
    q.awaitTermination(60000)
    val got = spark.table("gts1").collect().map(_.getInt(0)).toSet
    assert(got === Set(3, 4), s"only commits at/after the instant stream, got $got")
    intercept[Exception] {
      spark.readStream.format("graft")
        .option("startingTimestamp", "2099-01-01 00:00:00")
        .load(dir).writeStream.format("memory").queryName("gts2")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
  }

  test("partitioned table: partition column reconstructed from the log") {
    val dir = tmpDir("gstream-part-")
    val t = GraftTable.create(spark, dir,
      Seq((1, "en"), (2, "fr")).toDF("id", "lang"), partitionBy = Seq("lang"))
    t.append(Seq((3, "en")).toDF("id", "lang"))
    val q = startStream(dir, tmpDir("gstream-part-ckpt-"), "gp1")
    q.awaitTermination(60000)
    val rows = spark.table("gp1").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((1, "en"), (2, "fr"), (3, "en")))
  }

  test("types survive the hand-rolled parquet decode (incl. INT96 timestamps)") {
    val dir = tmpDir("gstream-types-")
    val ts = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456")
    val dt = java.sql.Date.valueOf("2026-01-02")
    val df = Seq((1, 2L, 3.5, 4.5f, true, "s", ts, dt))
      .toDF("i", "l", "d", "f", "b", "s", "ts", "dt")
    GraftTable.create(spark, dir, df)
    val q = startStream(dir, tmpDir("gstream-types-ckpt-"), "gt1")
    q.awaitTermination(60000)
    val r = spark.table("gt1").head()
    assert(r.getInt(0) == 1 && r.getLong(1) == 2L && r.getDouble(2) == 3.5 &&
      r.getFloat(3) == 4.5f && r.getBoolean(4) && r.getString(5) == "s")
    assert(r.getTimestamp(6) == ts)
    assert(r.getDate(7).toString == "2026-01-02")
  }

  test("maxFilesPerTrigger splits the backlog into multiple micro-batches") {
    val dir = tmpDir("gstream-mft-")
    val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "v").coalesce(1))
    t.append(Seq((2, "b")).toDF("id", "v").coalesce(1))
    t.append(Seq((3, "c")).toDF("id", "v").coalesce(1))
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "1")
      .load(dir).writeStream.format("memory").queryName("gmft")
      .option("checkpointLocation", tmpDir("gstream-mft-ckpt-"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("gmft").count() == 3)
    // three 1-file commits at 1 file/trigger → three batches (ids 0..2)
    val lastBatch = q.lastProgress.batchId
    assert(lastBatch >= 2, s"expected >=3 micro-batches, last batchId=$lastBatch")
  }

  test("maxBytesPerTrigger splits the backlog by byte volume") {
    val dir = tmpDir("gstream-mbt-")
    val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "v").coalesce(1))
    t.append(Seq((2, "b")).toDF("id", "v").coalesce(1))
    t.append(Seq((3, "c")).toDF("id", "v").coalesce(1))
    // each commit's file is a few hundred bytes — a 1-byte cap forces one
    // commit per micro-batch (a batch always advances at least one version)
    val q = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", "1")
      .load(dir).writeStream.format("memory").queryName("gmbt")
      .option("checkpointLocation", tmpDir("gstream-mbt-ckpt-"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("gmbt").count() == 3)
    assert(q.lastProgress.batchId >= 2,
      s"expected >=3 micro-batches, last batchId=${q.lastProgress.batchId}")
  }

  test("readStream.table() streams a catalog table by name") {
    graft.sources.GraftCatalog.register(spark, tmpDir("gstream-cat-wh-"), name = "gsc")
    spark.sql("CREATE TABLE gsc.default.events (id INT, v STRING) USING graft")
    spark.sql("INSERT INTO gsc.default.events VALUES (1, 'a'), (2, 'b')")
    val q = spark.readStream.table("gsc.default.events")
      .writeStream.format("memory").queryName("gcat_stream")
      .option("checkpointLocation", tmpDir("gstream-cat-ckpt-"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("gcat_stream").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  test("batch reads through the DSv2 path keep time-travel parity") {
    val dir = tmpDir("gstream-tt-")
    val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    assert(spark.read.format("graft").option("versionAsOf", 0).load(dir).count() == 1)
    assert(spark.read.format("graft").load(dir).count() == 2)
  }

  test("vectorized factory hands off whole ColumnarBatches for DV-free files") {
    val dir = tmpDir("gstream-col-")
    val t = graft.table.GraftTable.create(spark, dir,
      (1 to 5000).map(i => (i.toLong, s"v$i", i * 1.5)).toDF("id", "v", "x"))
    val stream = new GraftMicroBatchStream(dir, t.snapshot.schema,
      Nil, Map.empty)
    val parts = stream.planInputPartitions(
      GraftStreamOffset(-1), GraftStreamOffset(t.latestVersion))
    val rf = stream.createReaderFactory()
    assert(parts.nonEmpty && parts.forall(rf.supportColumnarReads),
      "DV-free unpartitioned files must take the columnar path")
    val total = parts.map { p =>
      val r = rf.createColumnarReader(p)
      var rows = 0L
      try while (r.next()) rows += r.get().numRows() finally r.close()
      rows
    }.sum
    assert(total == 5000L, s"columnar batches carried $total rows")
    // a DV on any planned file drops the BATCH (scan-uniform) to rows
    t.setProperty("deletionVectors.enabled", "true")
    t.delete(org.apache.spark.sql.functions.col("id") === 1L)
    val stream2 = new GraftMicroBatchStream(dir, t.snapshot.schema, Nil, Map.empty)
    val parts2 = stream2.planInputPartitions(
      GraftStreamOffset(-1), GraftStreamOffset(t.latestVersion))
    val rf2 = stream2.createReaderFactory()
    assert(parts2.exists(p =>
      p.asInstanceOf[GraftFilePartition].dv.isDefined))
    assert(parts2.forall(p => !rf2.supportColumnarReads(p)),
      "a DV in the planned batch must drop every partition to the row path")
    val rowTotal = parts2.map { p =>
      val r = rf2.createReader(p)
      var rows = 0L
      try while (r.next()) rows += 1 finally r.close()
      rows
    }.sum
    assert(rowTotal == 4999L, "row path must apply the DV skip")
  }

  // ---- schema evolution while a stream is live (Delta fail-and-resume) -----

  private def streamFailure(body: => Unit): Seq[String] = {
    val ex = intercept[Exception](body)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    messages(ex)
  }

  test("mid-stream ADD COLUMN fails the batch; a restart adopts the new schema") {
    val dir = tmpDir("gs-evo-")
    val ckpt = tmpDir("gs-evo-ckpt-")
    val out = tmpDir("gs-evo-out-")
    val t = GraftTable.create(spark, dir, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    assert(outIds(out) == Seq(1, 2))
    // the table evolves UNDER the live stream — its pinned schema would
    // silently project the new column away, so the batch must fail
    t.addColumn("extra", org.apache.spark.sql.types.IntegerType)
    t.append(Seq((3, "c", 7)).toDF("id", "v", "extra"))
    val msgs = streamFailure(q.processAllAvailable())
    assert(msgs.exists(_.contains("changed at version")),
      s"expected the evolution abort, got: ${msgs.take(3).mkString(" | ")}")
    q.stop()
    // restart = a fresh source instance: it re-resolves the table, adopts
    // the evolved schema, and replays the SAME commit cleanly
    runToParquet(dir, ckpt, out)
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    assert(merged.filter(col("id") === 3).select("extra").head().getInt(0) == 7)
  }

  test("mid-stream RENAME under column mapping fails instead of misbinding") {
    val dir = tmpDir("gs-ren-")
    val ckpt = tmpDir("gs-ren-ckpt-")
    val out = tmpDir("gs-ren-out-")
    val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "v"))
    t.setProperty("columnMapping.mode", "name")
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    assert(outIds(out) == Seq(1))
    t.renameColumn("v", "w")
    t.append(Seq((2, "b")).toDF("id", "w"))
    // the stream pinned logical name `v`; emitting the renamed column
    // under the stale name would be a silent misbind — fail instead
    val msgs = streamFailure(q.processAllAvailable())
    assert(msgs.exists(_.contains("changed at version")),
      s"expected the evolution abort, got: ${msgs.take(3).mkString(" | ")}")
    q.stop()
    runToParquet(dir, ckpt, out)
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(merged.columns.contains("w"))
  }

  test("readStream over a NON-adopted foreign delta table serves the tail, table stays read-only") {
    import java.nio.file.{Files, Paths}
    // streams only READ the log — the same commit-version offsets work on
    // a foreign delta-spark table without adoption (the interop parse is
    // the batch reader's), while every WRITE path keeps refusing
    val dir = tmpDir("gstream-foreign-")
    def stageFile(rel: String, df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val stage = tmpDir("gsf-stage-")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val target = Paths.get(dir, rel)
      Files.createDirectories(target.getParent)
      Files.move(Paths.get(part), target)
      (Files.size(target), Files.getLastModifiedTime(target).toMillis)
    }
    def addLine(rel: String, sz: Long, mt: Long, rows: Long): String =
      s"""{"add":{"path":"$rel","partitionValues":{},"size":$sz,"modificationTime":$mt,"dataChange":true,"stats":"{\\"numRecords\\":$rows,\\"minValues\\":{},\\"maxValues\\":{},\\"nullCount\\":{}}"}}"""
    def writeCommit(v: Long, lines: Seq[String]): Unit = {
      val logDir = Paths.get(dir, "_delta_log")
      Files.createDirectories(logDir)
      Files.write(logDir.resolve(f"$v%020d.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val (s1, m1) = stageFile("part-00000-f0-c000.snappy.parquet",
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s"))
    writeCommit(0, Seq(
      """{"commitInfo":{"timestamp":1619112345000,"operation":"WRITE","operationParameters":{},"isBlindAppend":true,"operationMetrics":{}}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"aaaa-stream-foreign","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{},"createdTime":1619112344000}}""",
      addLine("part-00000-f0-c000.snappy.parquet", s1, m1, 3L)))
    val ckpt = tmpDir("gsf-ckpt-")
    val out = tmpDir("gsf-out-")
    runToParquet(dir, ckpt, out)
    assert(outIds(out) == Seq(1, 2, 3),
      "the initial snapshot of a foreign table must stream")
    // a FOREIGN append lands between runs: the restarted stream serves
    // exactly the tail (commit versions are the offsets, same as graft's)
    val (s2, m2) = stageFile("part-00001-f1-c000.snappy.parquet",
      Seq((10, "x"), (11, "y")).toDF("id", "s"))
    writeCommit(1, Seq(
      """{"commitInfo":{"timestamp":1619112346000,"operation":"WRITE","operationParameters":{},"isBlindAppend":true,"operationMetrics":{}}}""",
      addLine("part-00001-f1-c000.snappy.parquet", s2, m2, 2L)))
    runToParquet(dir, ckpt, out)
    assert(outIds(out) == Seq(1, 2, 3, 10, 11),
      "the restarted stream must serve the foreign tail exactly once")
    // reading never loosened the write gate: DML still refuses with the
    // adoption hint
    val e = intercept[graft.table.GraftProtocolException](
      GraftTable.forPath(spark, dir).append(Seq((99, "z")).toDF("id", "s")))
    assert(e.getMessage.contains("adopt_delta"),
      s"the foreign table must stay read-only under streaming: ${e.getMessage}")
  }

  test("existence defaults stream: pre-add files emit the default, not null") {
    // the batch scan fills EXISTS_DEFAULT for files that predate an
    // ADD COLUMN ... DEFAULT; the streaming source decodes through its own
    // vectorized factory and must agree — a null here would silently
    // diverge the streamed corpus from the batch one
    val dir = tmpDir("gstream-exdef-")
    val t = GraftTable.create(spark, dir, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.addColumn("tier", org.apache.spark.sql.types.StringType, Some("'legacy'"))
    val out = tmpDir("gstream-exdef-out-")
    runToParquet(dir, tmpDir("gstream-exdef-ckpt-"), out)
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getInt(0), r.getString(2))).sortBy(_._1).toSeq
    assert(rows === Seq((1, "legacy"), (2, "legacy")),
      s"streamed pre-add rows must carry the existence default, got $rows")
  }
}
