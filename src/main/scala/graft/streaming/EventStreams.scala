package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming over the events table: the same event-time
  * transformations as graft.queries.Events (`window()`, `session_window()`,
  * stateful sessionization), run as streams. Transformations are defined
  * once over DataFrame and reused by both batch and streaming inputs —
  * Spark's unified model makes streaming parity a source swap, not a
  * rewrite.
  *
  * At scale the same code runs continuously: file source → watermarked
  * event-time aggregation → sink, with state kept in the state store
  * partitioned by grouping key (user_id — the natural even key here).
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)

  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              n_events: Long, sum_value: Double)

  /** Per-user running session state (public: Spark codegen instantiates it). */
  final case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)

  /** transformWithState state/output rows: cents are exact longs, so the
    * stream's cumulative total matches the batch decimal aggregate bit-
    * for-bit when divided once at emission. */
  final case class UserStats(n: Long, cents: Long)
  final case class UserStatsOut(user_id: Long, n_events: Long, total_value: Double)

  /** Per-user running totals on the MODERN arbitrary-state API
    * (`transformWithState`, Spark 4): typed `ValueState[UserStats]` per
    * user from the StatefulProcessorHandle — the successor to
    * flatMapGroupsWithState, with composable value/list/map state, timers,
    * TTL, and a RocksDB-backed store. Each batch folds its rows into the
    * state and emits the user's cumulative figures (Update mode), so
    * across batches the LAST emission per user is the running total —
    * the streaming-ingest shape of a per-entity profile/feature store.
    * State is partitioned by user_id: the same shuffle key as every other
    * per-user op here, and the store scales out with executors. */
  final class RunningUserStats
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserStatsOut] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var st: streaming.ValueState[UserStats] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[UserStats]("stats",
        Encoders.product[UserStats], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[UserStatsOut] = {
      var s = if (st.exists()) st.get() else UserStats(0L, 0L)
      rows.foreach { e =>
        s = UserStats(s.n + 1, s.cents + math.round(e.value * 100.0))
      }
      st.update(s)
      Iterator.single(UserStatsOut(key, s.n, s.cents / 100.0))
    }
  }

  /** Timer-driven sessionizer on the modern state API: the piece the
    * flatMapGroupsWithState sessionizer (below) deliberately leaves open —
    * its TRAILING session per user sits in state forever on a real stream,
    * emitted only when a later event happens to arrive. Here an EVENT-TIME
    * timer at lastTs+gap fires when the WATERMARK passes it, emitting and
    * evicting the session with no further input for that user — the shape
    * that bounds state on an unbounded stream. In-batch gap splits emit
    * immediately (same algebra as `sessionize`); one timer per user is
    * re-armed per batch (stale timers no-op against the state's current
    * lastTs). State and timers are partitioned by user_id with RocksDB
    * backing — per-key work at any scale. */
  final class TimerSessionizer(gapSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var st: streaming.ValueState[SessionState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
      var s = if (st.exists()) st.get() else null
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        if (s == null) s = SessionState(t, t, 1, e.value)
        else if (t - s.lastTs >= gapSeconds * 1000) {
          out += SessionOut(key, new java.sql.Timestamp(s.start), s.n, s.total)
          s = SessionState(t, t, 1, e.value)
        } else s = SessionState(s.start, t, s.n + 1, s.total + e.value)
      }
      if (s != null) {
        st.update(s)
        getHandle.registerTimer(s.lastTs + gapSeconds * 1000)
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[SessionOut] =
      if (st.exists()) {
        val s = st.get()
        // only a CURRENT timer closes the session — a stale timer from a
        // batch before more events arrived no-ops
        if (s.lastTs + gapSeconds * 1000 <= info.getExpiryTimeInMs) {
          st.clear()
          Iterator.single(SessionOut(key, new java.sql.Timestamp(s.start), s.n, s.total))
        } else Iterator.empty
      } else Iterator.empty
  }

  /** Watermarked stream of completed sessions: in-batch gap splits emit
    * immediately; trailing sessions emit when the event-time timer fires. */
  def timerSessions(events: Dataset[Event], gapSeconds: Long = 1800,
                    delay: String = "1 second"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionizer(gapSeconds),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stream of per-user cumulative stats via transformWithState. */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStatsOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningUserStats,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Scope the streaming-run session confs for the duration of a finite
    * stream run; every previous value is restored on exit so batch queries
    * are untouched.
    *
    * 1. `spark.sql.shuffle.partitions` ← `graft.streaming.statePartitions`
    *    (default `min(8, defaultParallelism)`). A streaming query's STATE
    *    partition count is pinned from this conf at first start and every
    *    micro-batch then pays per-partition fixed machinery — state store
    *    open/snapshot/commit, delta files, WAL entries — so the right number
    *    tracks stateful-data VOLUME, not driver cores: 32 state stores for a
    *    few-hundred-thousand-row replay is 4× the fixed cost of 8 for zero
    *    extra parallelism (measured: the stream-stream join drops 8.1 s →
    *    3.1 s). Nor more stores than cores: the ones past the core count
    *    run as a second task wave in every stateful stage. Production tunes
    *    the conf up with throughput; a checkpoint keeps the count it was
    *    started with.
    * 2. `spark.sql.streaming.checkpointFileManagerClass` ←
    *    `graft.streaming.checkpointFileManager` (default Spark's own
    *    FileSystemBasedCheckpointFileManager). The default FileContext-based
    *    manager routes every atomic-rename through Hadoop's
    *    AbstractFileSystem.rename, whose existence probe
    *    (getFileLinkStatus → FileUtil.readLink) FORKS A SHELL PROCESS per
    *    rename on local filesystems — thread dumps showed ~27% of the
    *    stream thread's active time in Shell.runCommand, multiplied across
    *    every offset/commit/state-delta publish. The FileSystem-based
    *    manager performs the same atomic create-temp-then-rename protocol
    *    through FileSystem.rename (File.renameTo on local paths, no fork).
    *    Both are Spark-shipped managers with identical commit semantics;
    *    deployments whose checkpoint store needs FileContext semantics
    *    (HDFS federation viewfs, custom AFS) override the graft conf.
    * 3. `spark.sql.streaming.checkpoint.fileChecksum.enabled` ←
    *    `graft.streaming.checkpointChecksum` (default false). Spark 4.1
    *    turned on per-checkpoint-file checksums (a SEPARATE .checksum file
    *    per metadata/state file ⇒ double the creates + renames on the
    *    commit path); disabling restores the Spark ≤4.0 write path.
    *    Measured on the stream-stream join replay: checksums off is ~35%
    *    faster end-to-end. Deployments on storage with silent-corruption
    *    risk flip the graft conf back on. */
  private def withStatePartitions[A](spark: SparkSession)(f: => A): A = {
    val scoped = Seq(
      "spark.sql.shuffle.partitions" ->
        spark.conf.get("graft.streaming.statePartitions",
          math.min(8, spark.sparkContext.defaultParallelism).toString),
      "spark.sql.streaming.checkpointFileManagerClass" ->
        spark.conf.get("graft.streaming.checkpointFileManager",
          "org.apache.spark.sql.execution.streaming.checkpointing." +
            "FileSystemBasedCheckpointFileManager"),
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" ->
        spark.conf.get("graft.streaming.checkpointChecksum", "false"))
    val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Public wrapper: query-registry stream runs (graft source/sink, CDF
    * tails, foreachBatch upserts) scope their state partitioning the same
    * way the in-module helpers do. */
  def scopedStreamRun[A](spark: SparkSession)(f: => A): A =
    withStatePartitions(spark)(f)

  /** Run a finite stream in UPDATE mode to a memory sink (for cumulative-
    * state emissions where each batch re-emits only touched keys). The
    * state store is pinned to RocksDB for the duration — transformWithState
    * requires it — and the previous provider is restored after. */
  def runUpdateToMemory(spark: SparkSession, streamed: DataFrame): DataFrame = withStatePartitions(spark) {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val name = s"graft_stream_${UUID.randomUUID().toString.replace("-", "")}"
      val chk = scratchDir("graft-stream-tws-")
      val q = streamed.writeStream
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", chk.resolve("chk").toString)
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      deleteRecursively(chk)
      spark.table(name)
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None    => spark.conf.unset(key)
      }
    }
  }

  /** Scratch for streaming checkpoints/sinks (graft.Scratch: tmpfs when
    * available — state-store deltas, WAL offset/commit files and sink
    * output are all fsync'd per micro-batch, and on a disk-backed /tmp
    * those synchronous fsyncs dominate a finite replay's cost under box
    * write-back pressure. Production supplies cluster-storage URIs). */
  private def scratchDir(prefix: String): java.nio.file.Path =
    graft.Scratch.dir(prefix)

  /** File-source stream of the events table. A file stream needs its schema
    * up front; hard-coding one is how a silent fixture re-type corrupts
    * every downstream timestamp (a user LongType schema reads µs int64
    * "successfully" and a nanos decode shrinks it 1000×). So the stream's
    * schema is DERIVED from the batch loader's footer-resolved schema and
    * `ts` goes through the same type-adaptive decode — batch and stream
    * can't disagree. The batch probe also runs its once-per-path sanity
    * assertion on the decoded range. */
  def readEventStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.Tables.events(spark, sfDir) // runs the once-per-path decode sanity probe
    val rawSchema = graft.Tables.eventsRaw(spark, sfDir).schema
    graft.Tables.decodeEventTs(
      spark.readStream
        .schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** Tumbling 10-minute counts per event type — identical expression tree to
    * the batch q21 (works on batch and streaming inputs alike). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
              col("event_type"), col("n"), col("sum_value"))

  /** Run a (finite) streaming aggregation to completion: AvailableNow
    * trigger + complete mode into a memory sink; returns the result table.
    * Complete mode needs no watermark, so a finite replay reproduces the
    * batch answer exactly — that is the parity property q80 oracle-checks.
    *
    * Cost note (bench): a streaming query pays fixed machinery per run —
    * checkpoint WAL commits, state-store snapshot per shuffle partition,
    * micro-batch planning — ~1-4 s regardless of data size, with run-to-run
    * scatter from checkpoint I/O. That is the price of exercising the real
    * streaming path; the scale-safe production shape is `runAppendToFiles`
    * (watermarked, incremental emission, no driver materialization). */
  def runToMemory(spark: SparkSession, streamed: DataFrame): DataFrame = withStatePartitions(spark) {
    val name = s"graft_stream_${UUID.randomUUID().toString.replace("-", "")}"
    val chk = scratchDir("graft-stream-mem-")
    val q = streamed.writeStream
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", chk.resolve("chk").toString)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteRecursively(chk)
    spark.table(name)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  /** Watermarked tumbling aggregation: the Append-mode (scale-safe) twin of
    * `tumblingCounts`. The watermark bounds state — windows older than
    * max(event time) - delay are finalized, emitted once, and evicted, so
    * state never grows with stream length and late rows beyond the delay are
    * dropped. This is the shape that survives an unbounded stream; Complete
    * mode (q80) re-emits everything per trigger and keeps all state forever. */
  def watermarkedTumblingCounts(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    tumblingCounts(events.withWatermark("ts", delay))

  /** Run a watermarked Append-mode aggregation over a finite replay into a
    * parquet file sink (the production sink shape: executors write files,
    * nothing materializes on the driver) and return the written result.
    *
    * Emission semantics on a single-batch replay: the watermark advances to
    * max(event time) - delay after the data batch, then the trailing no-data
    * micro-batch finalizes and emits exactly the windows whose end <= that
    * watermark — a pure function of the input, which is what the DuckDB
    * oracle (same cutoff in SQL) checks. */
  def runAppendToFiles(spark: SparkSession, streamed: DataFrame): DataFrame = withStatePartitions(spark) {
    val base = scratchDir("graft-stream-append-")
    val outDir = base.resolve("out").toString
    val q = streamed.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", base.resolve("chk").toString)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the checkpoint is dead once the finite replay terminates; the sink
    // parquet stays (the returned frame reads it lazily)
    deleteRecursively(base.resolve("chk"))
    spark.read.parquet(outDir)
  }

  /** Continuous ingestion into a GraftTable: each micro-batch commits one
    * table version via foreachBatch → append (the streaming-sink shape of
    * a Delta sink). Versions give replayable ingestion history; a failed
    * batch never half-commits because the log append is atomic. */
  def streamIntoTable(streamed: DataFrame, table: graft.table.GraftTable,
                      trigger: Trigger = Trigger.AvailableNow()) = {
    streamed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.append(batch)
      }
      .trigger(trigger)
      .start()
  }

  /** Streaming ingest deduplication — the exactly-once guard every pipeline
    * puts in front of its raw feed: first occurrence of each key passes,
    * re-deliveries are suppressed. `dropDuplicatesWithinWatermark` keeps
    * per-key state only until the watermark passes (bounded state on an
    * unbounded stream); keys recurring after eviction would re-emit, which
    * is the documented at-least-once-within-delay contract. Only the key
    * columns are projected out, so the (arbitrary) surviving row's other
    * fields can't make the output nondeterministic. */
  def streamingFirstTouch(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")

  /** Stream-stream inner join: each click joined to the same user's
    * purchases within the following 30 minutes. Both sides carry watermarks
    * AND the join predicate bounds the event-time distance — together these
    * let Spark evict buffered rows once the watermark passes their join
    * range, so state stays bounded on an unbounded stream (without the time
    * bound, every click would be buffered forever). The output projects
    * microsecond epochs (`unix_micros`): Spark reads the nanos testdata at
    * µs, DuckDB at ns, and `epoch_us` on the oracle side applies the same
    * floor — removing the sub-µs representation gap from the compare. */
  def clickPurchaseJoin(clickSrc: DataFrame, purchaseSrc: DataFrame,
                        joinType: String = "inner"): DataFrame = {
    val clicks = clickSrc.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("value").as("c_value"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = purchaseSrc.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "30 minutes")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
        joinType)
      // coalesce: a purchase-only row (full outer eviction) has no
      // click-side key; for inner/leftOuter the left key is always set
      // and the coalesce is a no-op
      .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
        unix_micros(col("c_ts")).as("c_us"), unix_micros(col("p_ts")).as("p_us"),
        col("c_value"), col("p_value"))
  }

  /** Watermarked streaming SESSION windows (Append mode): session_window
    * merges events within `gap` into one growing window per user; a session
    * is finalized and emitted once the watermark passes its end
    * (last event + gap), then its state is evicted — bounded state on an
    * unbounded stream, dynamic-length windows the fixed tumbling/sliding
    * shapes can't express. */
  def watermarkedSessionCounts(events: DataFrame, gap: String = "30 minutes",
                               delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Watermarked sliding-window aggregation (Append mode): each event lands
    * in windowSize/slide overlapping windows (assignment is map-side — the
    * expansion happens before the shuffle, so state holds one row per OPEN
    * window, not per event); windows emit once the watermark passes their
    * end. */
  def watermarkedSlidingCounts(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
              col("n"), col("sum_value"))

  /** Stream-static enrichment: the streaming side joins a (small) batch
    * dimension under a broadcast hint — the canonical lookup/enrich shape.
    * The static side is planned per micro-batch as an ordinary
    * BroadcastHashJoin, needs no watermark and keeps NO join state (unlike
    * stream-stream): at scale the stream shuffles nothing for the join and
    * the dimension rides along with the tasks. */
  def streamStaticEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Stateful sessionization with flatMapGroupsWithState (the custom-state
    * path the built-in session_window can't express — e.g. carrying running
    * aggregates per session). A session CLOSES when a later event arrives
    * >= `gapSeconds` after the previous one; the trailing open session per
    * user stays in state (emitted only by a real stream's timeout). Events
    * are processed in event-time order within each group+batch.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
          var st = state.getOption.orNull
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            if (st == null) {
              st = SessionState(t, t, 1, e.value)
            } else if (t - st.lastTs >= gapSeconds * 1000) {
              out += SessionOut(userId, new java.sql.Timestamp(st.start), st.n, st.total)
              st = SessionState(t, t, 1, e.value)
            } else {
              st = SessionState(st.start, t, st.n + 1, st.total + e.value)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }
}
