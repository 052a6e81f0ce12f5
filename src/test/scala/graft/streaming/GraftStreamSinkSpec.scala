package graft.streaming

import graft.SparkTestBase
import graft.table.GraftTable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** `writeStream.format("graft")` as a NATIVE streaming sink (no
  * foreachBatch): one epoch-identified APPEND commit per micro-batch,
  * exactly-once across replays via the (queryId, epochId) txn guard. */
class GraftStreamSinkSpec extends SparkTestBase {

  import spark.implicits._

  test("path sink: one commit per micro-batch, rows land exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("gsink-")
    GraftTable.create(spark, dir, Seq.empty[(Int, String)].toDF("id", "v"))
    val input = MemoryStream[(Int, String)]
    val q = input.toDF().toDF("id", "v").writeStream.format("graft")
      .option("path", dir)
      .option("checkpointLocation", tmpDir("gsink-ckpt-"))
      .start()
    try {
      input.addData((1, "a"), (2, "b"))
      q.processAllAvailable()
      input.addData((3, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val t = GraftTable.forPath(spark, dir)
    assert(t.toDF.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    val ops = t.history().select("operation").collect().map(_.getString(0))
    assert(ops.count(_ == "STREAMING UPDATE") == 2, s"ops: ${ops.toSeq}")
    // commits carry the txn identity the replay guard checks
    val infos = t.log.commitInfos.filter(_.operation == "STREAMING UPDATE")
    assert(infos.forall(c => c.operationMetrics.contains("txnAppId") &&
      c.operationMetrics.contains("epoch")))
    assert(infos.map(_.operationMetrics("epoch")).distinct.size == 2)
  }

  test("toTable sink: catalog-resolved streaming writes") {
    implicit val sqlCtx = spark.sqlContext
    graft.sources.GraftCatalog.register(spark, tmpDir("gsink-wh-"), name = "gsk")
    spark.sql("CREATE TABLE gsk.default.sunk (id INT, v STRING) USING graft")
    val input = MemoryStream[(Int, String)]
    val q = input.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation", tmpDir("gsink-tbl-ckpt-"))
      .trigger(Trigger.AvailableNow())
      .toTable("gsk.default.sunk")
    input.addData((7, "x"), (8, "y"))
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM gsk.default.sunk ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(7, 8))
  }

  test("sink composes with the source: table-to-table streaming pipeline") {
    val src = tmpDir("gsink-src-")
    val dst = tmpDir("gsink-dst-")
    val t = GraftTable.create(spark, src, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c")).toDF("id", "v"))
    GraftTable.create(spark, dst, Seq.empty[(Int, String)].toDF("id", "v"))
    val q = spark.readStream.format("graft").load(src)
      .writeStream.format("graft").option("path", dst)
      .option("checkpointLocation", tmpDir("gsink-pipe-ckpt-"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(GraftTable.forPath(spark, dst).toDF.collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
  }

  test("streaming sink preserves the hidden bucket layout") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("gsink-bkt-")
    GraftTable.create(spark, dir, Seq.empty[(Long, String)].toDF("id", "v"),
      bucketBy = Some(("id", 4)))
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "v").writeStream.format("graft")
      .option("path", dir)
      .option("checkpointLocation", tmpDir("gsink-bkt-ckpt-"))
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"), (9L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val t = GraftTable.forPath(spark, dir)
    val s = t.snapshot
    assert(s.files.nonEmpty)
    s.files.foreach { f =>
      assert(f.partitionValues.contains(graft.table.Bucketing.BucketCol),
        s"streamed file ${f.path} lost its bucket id — SPJ silently dead")
      val declared = f.partitionValues(graft.table.Bucketing.BucketCol).toInt
      val distinct = spark.read.parquet(s"$dir/${f.path}")
        .select(graft.table.Bucketing.idExpr("id", 4).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(distinct == Seq(declared),
        s"file ${f.path} declares bucket $declared but holds $distinct")
    }
    assert(t.toDF.count() === 3L)
  }

  test("a stateful stream commits a sink version only for epochs with rows") {
    val src = tmpDir("gsink-nodata-src-")
    val dst = tmpDir("gsink-nodata-dst-")
    val ts = (m: Int) => java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(m))
    def events(rows: (Long, String, Int)*) =
      rows.map { case (u, e, m) => (u, e, ts(m)) }.toDF("user_id", "event_type", "ts")
    val source = GraftTable.create(spark, src, events((1L, "click", 0)))
    val deduped = EventStreams.streamingFirstTouch(spark.readStream.format("graft").load(src))
    GraftTable.create(spark, dst,
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        deduped.schema))
    val q = EventStreams.scopedStreamRun(spark) {
      deduped.writeStream.format("graft").option("path", dst)
        .option("checkpointLocation", tmpDir("gsink-nodata-ckpt-")).start()
    }
    try {
      q.processAllAvailable()
      // each append advances the watermark, so Spark follows its batch
      // with a no-data batch that evicts state
      Seq(events((1L, "click", 5), (2L, "view", 7)), events((3L, "view", 40)),
          events((1L, "click", 120), (4L, "click", 125))).foreach { df =>
        source.append(df)
        q.processAllAvailable()
      }
    } finally q.stop()
    val sink = GraftTable.forPath(spark, dst)
    assert(sink.toDF.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ===
      Seq((1L, "click"), (2L, "view"), (3L, "view"), (4L, "click")))
    val empty = (1L to sink.latestVersion).filterNot(v =>
      sink.log.readVersion(v).exists(_.isInstanceOf[graft.table.AddFile]))
    assert(empty.isEmpty, s"sink versions without a file: $empty")
    assert(sink.latestVersion === 4L)
  }

  /** The state-store count of a graft source → [[EventStreams.streamingFirstTouch]]
    * → graft sink run under [[EventStreams.scopedStreamRun]]. */
  private def dedupStatePartitions(tag: String): Seq[Int] = {
    val src = tmpDir(s"gsink-state-src-$tag-")
    val dst = tmpDir(s"gsink-state-dst-$tag-")
    val ts = (m: Int) => java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(m))
    GraftTable.create(spark, src,
      Seq((1L, "click", ts(0)), (1L, "click", ts(5)), (2L, "view", ts(7)))
        .toDF("user_id", "event_type", "ts"))
    val deduped = EventStreams.streamingFirstTouch(spark.readStream.format("graft").load(src))
    GraftTable.create(spark, dst,
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        deduped.schema))
    val q = EventStreams.scopedStreamRun(spark) {
      deduped.writeStream.format("graft").option("path", dst)
        .option("checkpointLocation", tmpDir(s"gsink-state-ckpt-$tag-"))
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination(60000)
    assert(GraftTable.forPath(spark, dst).toDF.count() == 2)
    q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numShufflePartitions.toInt)).distinct
  }

  test("stream state stores default to the core count, and an explicit statePartitions wins") {
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(dedupStatePartitions("default") == Seq(4))
    spark.conf.set("graft.streaming.statePartitions", "2")
    try assert(dedupStatePartitions("two") == Seq(2))
    finally spark.conf.unset("graft.streaming.statePartitions")
  }
}
