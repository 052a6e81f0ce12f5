package graft.perfbench

/** The benchmark's metric names and units, in output order. Must match
  * BENCHMARK.json. Per-layer metrics of a layer the workload does not run
  * read 0. */
object Layers {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ops_per_s" -> "ops/s",
    "read_ms" -> "ms",
    "write_ms" -> "ms",
    "heap_mb" -> "MB")

  /** Query modules of the curation probe with at least one query in its set. */
  val curationModules = Seq("Dedup", "Similarity", "Text", "Retrieval")

  val conflictKinds = Seq("ConcurrentAppend", "ConcurrentDeleteRead",
    "ConcurrentDeleteDelete", "MetadataChanged", "ProtocolChanged")

  /** Layers whose self time is reported: the name of a span minus its last
    * component (`client` for the request roots). */
  val selfLayers = Seq("client", "GraftTable", "read.build", "read.exec", "DataSkipping",
    "GraftLog", "Checkpoint", "stream") ++ curationModules.map(m => s"queries.$m")

  val perLayer: Seq[(String, String)] = Seq(
    "GraftTable.merge.p50_ms" -> "ms",
    "GraftTable.delete.p50_ms" -> "ms",
    "GraftTable.append.p50_ms" -> "ms",
    "write.jobs_per_op" -> "count",
    "write.tasks_per_op" -> "count",
    "write.task_s_per_op" -> "s",
    "write.bytes_per_user_byte" -> "ratio",
    "table.live_files_end" -> "count",
    "log.bytes_per_commit" -> "B",
    "write.attempts_per_op" -> "ratio",
    "write.conflicts_per_op" -> "ratio") ++
    conflictKinds.map(k => s"write.conflicts.$k" -> "count") ++ Seq(
    "read.build_p50_ms.latest" -> "ms",
    "read.build_p50_ms.version" -> "ms",
    "read.build_p50_ms.timestamp" -> "ms",
    "read.exec_p50_ms.latest" -> "ms",
    "read.exec_p50_ms.version" -> "ms",
    "read.exec_p50_ms.timestamp" -> "ms",
    "GraftTable.history.p50_ms" -> "ms",
    "DataSkipping.kept_ratio" -> "ratio",
    "DataSkipping.prunedFiles.p50_ms" -> "ms",
    "GraftLog.open.p50_ms" -> "ms",
    "GraftLog.snapshotAt.p50_ms" -> "ms",
    "GraftLog.versionAt.p50_ms" -> "ms",
    "GraftLog.commit.p50_ms" -> "ms",
    "GraftLog.uncached_reads_per_op" -> "ratio",
    "Checkpoint.commit.p50_ms" -> "ms",
    "Checkpoint.bytes" -> "B",
    "stream.latestOffset_ms" -> "ms",
    "stream.queryPlanning_ms" -> "ms",
    "stream.addBatch_ms" -> "ms",
    "stream.walCommit_ms" -> "ms",
    "stream.triggerExecution_ms" -> "ms",
    "stream.state_commit_ms" -> "ms",
    "stream.batches_per_append" -> "ratio",
    "stream.rows_out_per_append" -> "count",
    "stream.state_rows" -> "count") ++
    curationModules.flatMap(m => Seq(
      s"queries.$m.build_s" -> "s",
      s"queries.$m.plan_s" -> "s",
      s"queries.$m.exec_s" -> "s",
      s"queries.$m.jobs" -> "count",
      s"queries.$m.task_s" -> "s",
      s"queries.$m.shuffle_mb" -> "MB",
      s"queries.$m.spill_mb" -> "MB")) ++
    CurationBatch.Kernels.map { case (_, q) => s"query.$q.exec_s" -> "s" } ++ Seq(
    "curation.pass_s" -> "s",
    "jvm.gc_s" -> "s",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_s" -> "s") ++
    selfLayers.map(l => s"self_ms_per_op.$l" -> "ms") ++ Seq(
    "trace.overhead_read_ms" -> "ms",
    "trace.overhead_write_ms" -> "ms")

  def layerOf(span: String): String =
    if (span.startsWith("client.")) "client" else span.substring(0, span.lastIndexOf('.') max 0)
}

/** Aggregates over the spans of the traced window. */
final class TraceView(spans: Seq[Span], rec: Recorder) {
  private val byName = spans.groupBy(_.name)

  def p50(name: String): Double = Stats.median(byName.getOrElse(name, Nil).map(_.durNs / 1e6))
  def count(name: String): Int = byName.getOrElse(name, Nil).size

  /** Spark work of every span whose name satisfies `p`. */
  def spark(p: String => Boolean): SparkCounts = {
    val sum = new SparkCounts
    spans.filter(s => p(s.name)).foreach(s => Option(Trace.counts.get(s.id)).foreach(sum += _))
    sum
  }

  /** Run-wide Spark totals and each layer's self time per completed operation. */
  def common: Map[String, Double] = {
    val self = Trace.selfNs(spans)
    val ops = rec.completed.toDouble.max(1.0)
    val perLayer = spans.groupBy(s => Layers.layerOf(s.name))
      .map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e6 / ops }
    val total = Option(Trace.counts.get(0L)).getOrElse(new SparkCounts)
    Layers.selfLayers.map(l => s"self_ms_per_op.$l" -> perLayer.getOrElse(l, 0.0)).toMap ++ Map(
      "spark.jobs" -> total.jobs.get.toDouble,
      "spark.tasks" -> total.tasks.get.toDouble,
      "spark.task_s" -> total.taskNs.get / 1e9)
  }
}

object Report {
  /** Human-readable latency lines of the untraced window, per operation kind. */
  def workloadLines(name: String, rec: Recorder, wl: Workload): Seq[String] = {
    Seq(s"$name: ${rec.completed} ops completed, ${rec.failed.get} failed") ++
      wl.opKinds.map { k =>
        val xs = rec.samples(k)
        f"  $k%-22s n=${xs.size}%4d p50=${Stats.pct(xs, 50)}%9.2f ms p90=${Stats.pct(xs, 90)}%9.2f ms"
      }
  }

  /** The per-layer table of a traced run. */
  def layerTable(name: String, m: Map[String, Double]): Seq[String] =
    Seq(s"per-layer metrics, $name (traced window):") ++
      Layers.perLayer.filter { case (k, _) => m.getOrElse(k, 0.0) != 0.0 }
        .map { case (k, u) => f"  $k%-40s ${m(k)}%14.4f $u" }
}
