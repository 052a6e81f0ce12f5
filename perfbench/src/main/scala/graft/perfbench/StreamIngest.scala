package graft.perfbench

import java.nio.file.Path
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.EventStreams
import graft.table.GraftTable

/** Continuous ingestion between two graft tables: a producer appends
  * micro-batches of events to a source table, and one long-running query
  * reads it with `readStream.format("graft")`, drops duplicate
  * (user_id, event_type) pairs within the watermark, and writes the sink
  * table with `writeStream.format("graft")`. A request is one append plus
  * the wait until the sink has committed it. One producer. Event times
  * advance from append to append, so the watermark moves, dedup state is
  * evicted and refilled at a steady rate, and no row is late. */
final class StreamIngest(spark: SparkSession, seed: Long) extends Workload {
  import StreamIngest._

  private val events = new Events(seed)
  /** Digest of the first `Prefix` appends, from a second generator. */
  private val prefixDigest = {
    val g = new Events(seed)
    val d = new Digest
    (0 until Prefix).foreach(_ => g.next().foreach(r => d.add(r.mkString(","))))
    d.hex
  }
  private val model = new Events.FirstTouch(DelayMs)
  private var issued = 0

  private var source: GraftTable = _
  private var sinkPath: String = _
  private var query: StreamingQuery = _
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile private var collect = false
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (collect) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(listener)

  def opKinds: Seq[String] = Seq("ingest", "append")
  def readKinds: Seq[String] = Seq("ingest")
  def writeKinds: Seq[String] = Seq("append")

  /** Source and sink tables plus the running query, started and idle. */
  def setup(dir: Path): Unit = {
    source = GraftTable.create(spark, dir.resolve("source").toString,
      spark.createDataFrame(java.util.Collections.emptyList[Row](), Events.schema))
    val deduped = EventStreams.streamingFirstTouch(spark.readStream.format("graft").load(source.path))
    sinkPath = dir.resolve("sink").toString
    GraftTable.create(spark, sinkPath,
      spark.createDataFrame(java.util.Collections.emptyList[Row](), deduped.schema))
    query = EventStreams.scopedStreamRun(spark) {
      deduped.writeStream.format("graft")
        .option("path", sinkPath)
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.ProcessingTime(0L))
        .start()
    }
    query.processAllAvailable()
  }

  private def ingest(rec: Recorder): Unit = {
    val rows = events.next()
    // one file per append: the producer writes each micro-batch whole
    val df = spark.createDataFrame(rows.asJava, Events.schema).coalesce(1)
    issued += 1
    Trace.request("client.ingest") {
      rec.op("ingest") {
        val t0 = System.nanoTime()
        Trace.span("GraftTable.append")(source.append(df))
        rec.sample("append", (System.nanoTime() - t0) / 1e6)
        model.add(rows)
        Trace.span("stream.wait")(query.processAllAvailable())
      }
    }
  }

  def warm(): Unit = {
    val rec = new Recorder
    (1 to WarmAppends).foreach(_ => ingest(rec))
    require(rec.failed.get == 0, s"warm-up failed: ${rec.errorLines.mkString("; ")}")
  }

  /** Whole rounds of `Round` appends: the round in progress at the
    * deadline completes. */
  def run(deadlineNs: Long, rec: Recorder): Unit = {
    collect = Trace.on
    progress.clear()
    var n = 0
    try while (n % Round != 0 || System.nanoTime() < deadlineNs) { ingest(rec); n += 1 }
    finally collect = false
  }

  /** The sink holds exactly the rows Spark's dedup within the watermark
    * emits for the appended batches, as [[Events.FirstTouch]] models it. A
    * query that failed counts as a failed check. */
  def check(rec: Recorder): Unit = {
    rec.op("check.sink_matches_watermark_dedup") {
      query.exception.foreach(e => throw e)
      val got = GraftTable.forPath(spark, sinkPath).toDF
        .select(col("user_id"), col("event_type")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .groupBy(identity).map { case (k, v) => k -> v.length }
      val want = model.emitted
      val extra = got.keySet.count(k => got(k) > want.getOrElse(k, 0))
      val missing = want.keySet.count(k => want(k) > got.getOrElse(k, 0))
      require(got == want, s"sink has ${got.values.sum} rows, model ${want.values.sum}; " +
        s"$extra keys over, $missing keys under")
    }
  }

  def digest: String = s"digest=$prefixDigest issued=$issued"

  def layerMetrics(rec: Recorder): Map[String, Double] = {
    val v = new TraceView(Trace.spans, rec)
    val ps = progress.asScala.toSeq
    // Spark reports whole milliseconds; a mean over the window keeps the digits
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def dur(k: String) = mean(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
    val appends = v.count("GraftTable.append").max(1)
    Map(
      "stream.latestOffset_ms" -> dur("latestOffset"),
      "stream.queryPlanning_ms" -> dur("queryPlanning"),
      "stream.addBatch_ms" -> dur("addBatch"),
      "stream.walCommit_ms" -> dur("walCommit"),
      "stream.triggerExecution_ms" -> dur("triggerExecution"),
      "stream.state_commit_ms" -> mean(ps.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble))),
      "stream.batches_per_append" -> ps.map(_.batchId).distinct.size.toDouble / appends,
      "stream.rows_out_per_append" -> ps.map(_.sink.numOutputRows).filter(_ > 0).sum.toDouble / appends,
      "stream.state_rows" -> mean(ps.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble))),
      "GraftTable.append.p50_ms" -> v.p50("GraftTable.append"),
    ) ++ v.common
  }

  private def stop(): Unit =
    if (query != null) { query.stop(); query = null }

  override def close(): Unit = {
    stop()
    spark.streams.removeListener(listener)
  }
}

object StreamIngest {
  val Batch = 2000
  /** Latency falls over the first 20 or so appends of a JVM as Spark's and
    * graft's per-batch code gets compiled; the window starts after that. */
  val WarmAppends = 20
  val Round = 5
  val Prefix = 100
  /** The watermark delay of `EventStreams.streamingFirstTouch`. */
  val DelayMs: Long = 30L * 60 * 1000
}

/** Events with the schema and value shapes of the sf0.1 `events` test
  * table: 1,500 users, the five event types the repo's queries use, values
  * 0 to 560 with two decimals, `props` `{"k": 0..99}`, and event times that
  * start at 2024-01-01 and advance by exponential gaps with the table's mean
  * of 25.9 s. Gaps are rounded up to a 7 s grid: no two times then differ by
  * exactly two watermark delays, the one tie the dedup model would have to
  * break. Append `i` is the `i`-th run of `Batch` events, drawn in order
  * from the seed, so time never runs backwards and no event is late. */
final class Events(seed: Long) {
  import Events._
  private val rnd = new scala.util.Random(seed)
  private var t = T0
  private var id = 0L

  /** The next append's events. */
  def next(): IndexedSeq[Row] = IndexedSeq.fill(StreamIngest.Batch) {
    t += GridMs * math.max(1L, math.ceil(-math.log(1 - rnd.nextDouble()) * MeanGapMs / GridMs).toLong)
    id += 1
    Row(id - 1, new Timestamp(t), rnd.nextInt(Users).toLong, Types(rnd.nextInt(Types.size)),
      rnd.nextInt(56022) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
  }
}

object Events {
  val Users = 1500
  val Types = Seq("click", "error", "purchase", "signup", "view")
  val T0 = 1704067200000L
  val MeanGapMs = 25900.0
  val GridMs = 7000L
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The keys `dropDuplicatesWithinWatermark` emits, fed one micro-batch
    * at a time. Rows come in time order within a batch, so a key's first
    * row in a batch is the one that passes. A kept key's state expires at
    * its event time plus `delayMs`, and is evicted once that is below the
    * watermark, the largest event time of the earlier batches minus
    * `delayMs`: the no-data batch Spark runs after each batch evicts before
    * the next batch's rows arrive. */
  final class FirstTouch(delayMs: Long) {
    private val state = mutable.HashMap.empty[(Long, String), Long]
    /** How often each key was emitted. */
    val emitted = mutable.HashMap.empty[(Long, String), Int]
    private var maxTs = Long.MinValue

    def add(rows: Seq[Row]): Unit = {
      if (maxTs != Long.MinValue) {
        val watermark = maxTs - delayMs
        state.filterInPlace { case (_, expires) => expires >= watermark }
      }
      rows.foreach { r =>
        val k = (r.getLong(2), r.getString(3))
        val ts = r.getTimestamp(1).getTime
        if (!state.contains(k)) { emitted(k) = emitted.getOrElse(k, 0) + 1; state(k) = ts + delayMs }
        maxTs = math.max(maxTs, ts)
      }
    }
  }
}
