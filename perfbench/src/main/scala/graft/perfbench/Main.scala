package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --scratch <dir> --out <dir>
  *
  * Starts one Spark session in this process, builds the workload's fixture
  * once, warms it (all three are `setup_s`), measures one
  * closed-loop window with tracing off, checks the outputs, and prints one
  * `PERFBENCH_RESULT {json}` line. With `--trace 1` the window is split in
  * two halves, untraced then traced; the traced half's spans go to
  * `<out>/spans-<workload>-<seed>.jsonl` and the result carries the
  * per-layer metrics instead of the end-to-end ones. The traced
  * stream_ingest run then also runs the curation probe
  * ([[curationProbe]]). Everything the run creates lives under
  * `--scratch`, which is deleted before exit.
  */
object Main {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val scratch = Paths.get(arg(args, "--scratch")).toAbsolutePath
    val out = Paths.get(arg(args, "--out")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(scratch)
    var code = 1
    try {
      code = run(workload, seed, seconds, trace, scratch, out, cpus)
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: ${describe(e)}")
        e.printStackTrace()
    } finally {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
      // Spark's state-store maintenance can still be writing here; the
      // launcher removes what is left once this JVM has exited
      try Dirs.deleteTree(scratch)
      catch { case e: java.io.IOException => System.err.println(s"perfbench: scratch cleanup: ${describe(e)}") }
    }
    System.out.flush()
    sys.exit(code)
  }

  /** Loads the classes a session start and a table write and read use, for
    * the class-data-sharing archive the build dumps from this run. */
  private def cdsTraining(spark: SparkSession, scratch: Path): Int = {
    val t = graft.table.GraftTable.create(spark, scratch.resolve("cds").toString,
      spark.range(0, 100).selectExpr("cast(id as int) as id", "cast(id as string) as name"))
    t.scan(org.apache.spark.sql.functions.col("id") < 10).collect()
    0
  }

  private def gcNs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L

  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The workload whose traced run also runs the curation probe. */
  val CurationProbeOn = "stream_ingest"

  /** The curation queries of [[CurationBatch]], after the traced window:
    * corpus, one untimed cold pass, then one traced pass. They give the
    * per-layer metrics of the query modules and kernels, and their output
    * checks count like the workload's own. Curation is not a workload of its
    * own (see the README), so these metrics move no end-to-end metric.
    * Returns the metrics and the pass's recorder. */
  private def curationProbe(spark: SparkSession, seed: Long, scratch: Path, out: Path,
      checkRec: Recorder): (Map[String, Double], Recorder) = {
    val cb = new CurationBatch(spark, seed)
    cb.setup(scratch.resolve("curation"))
    cb.warm()
    val rec = new Recorder
    Trace.reset()
    Trace.on = true
    try cb.run(System.nanoTime(), rec)
    finally Trace.on = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val m = cb.layerMetrics(rec).filter { case (k, _) => CurationBatch.owns(k) }
    Trace.writeJsonl(out.resolve(s"spans-curation-$seed.jsonl"))
    cb.check(checkRec)
    Report.workloadLines("curation probe", rec, cb).foreach(l => System.err.println(s"perfbench: $l"))
    System.err.println(s"perfbench: curation probe requests ${cb.digest}")
    (m, rec)
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean,
      scratch: Path, out: Path, cpus: Int): Int = {
    val t0 = System.nanoTime()
    val spark = Session.create(scratch, cpus)
    Trace.install(spark.sparkContext)
    val sessionS = (System.nanoTime() - t0) / 1e9
    if (name == "cds_training") return cdsTraining(spark, scratch)
    val wl: Workload = name match {
      case "table_service"  => new TableService(spark, seed, cpus)
      case "stream_ingest"  => new StreamIngest(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val b0 = System.nanoTime()
      wl.setup(scratch.resolve("fixture"))
      val buildS = (System.nanoTime() - b0) / 1e9
      val w0 = System.nanoTime()
      wl.warm()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + buildS + warmS
      System.err.println(f"perfbench: $name seed=$seed session=$sessionS%.3fs build=$buildS%.3fs warm=$warmS%.3fs")

      // a traced run splits the window, so it takes as long as an untraced one
      val windowS = if (trace) seconds / 2 else seconds
      def window(traced: Boolean): Recorder = {
        val rec = new Recorder
        Trace.reset()
        Trace.on = traced
        val start = System.nanoTime()
        try wl.run(start + (windowS * 1e9).toLong, rec)
        finally Trace.on = false
        rec.elapsedS = (System.nanoTime() - start) / 1e9
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        rec
      }

      val gc0 = gcNs()
      val plain = window(traced = false)
      val gcS = (gcNs() - gc0) / 1e9
      val tracedRec = if (trace) { wl.beforeTracedWindow(); Some(window(traced = true)) } else None
      val layer = tracedRec.map { r =>
        val m = wl.layerMetrics(r)
        Trace.writeJsonl(out.resolve(s"spans-$name-$seed.jsonl"))
        m
      }
      val checkRec = new Recorder
      val probe = if (trace && name == CurationProbeOn) Some(curationProbe(spark, seed, scratch, out, checkRec))
        else None
      wl.check(checkRec)
      val heapMb = retainedHeapMb()

      val e2e = Map(
        "setup_s" -> setupS,
        "ops_per_s" -> plain.completed / plain.elapsedS,
        "read_ms" -> Stats.mixMean(plain, wl.readKinds),
        "write_ms" -> Stats.mixMean(plain, wl.writeKinds),
        "heap_mb" -> heapMb)
      val recs = Seq(plain, checkRec) ++ tracedRec ++ probe.map(_._2)
      val attempted = recs.map(_.attempted.get).sum
      val failed = recs.map(_.failed.get).sum
      recs.flatMap(_.errorLines)
        .foreach(l => System.err.println(s"perfbench: FAILED $l"))
      Report.workloadLines(name, plain, wl).foreach(l => System.err.println(s"perfbench: $l"))
      System.err.println(s"perfbench: requests ${wl.digest}")
      System.err.println(f"perfbench: window ${plain.elapsedS}%.2fs completed=${plain.completed} gc=$gcS%.3fs " +
        f"attempted=$attempted failed=$failed checks=${checkRec.attempted.get}")

      val metrics: Seq[(String, Double, String)] = layer match {
        case None =>
          Layers.endToEnd.map { case (k, unit) => (k, e2e(k), unit) }
        case Some(m) =>
          val t = tracedRec.get
          val overhead = Map(
            "trace.overhead_read_ms" -> (Stats.mixMean(t, wl.readKinds) - e2e("read_ms")),
            "trace.overhead_write_ms" -> (Stats.mixMean(t, wl.writeKinds) - e2e("write_ms")))
          System.err.println(f"perfbench: tracing overhead on $name: read " +
            f"${overhead("trace.overhead_read_ms")}%+.2f ms, write " +
            f"${overhead("trace.overhead_write_ms")}%+.2f ms")
          val all = m ++ probe.map(_._1).getOrElse(Map.empty) ++ overhead + ("jvm.gc_s" -> gcS)
          Report.layerTable(name, all).foreach(l => System.err.println(s"perfbench: $l"))
          Layers.perLayer.map { case (k, unit) => (k, all.getOrElse(k, 0.0), unit) }
      }
      val json = metrics.map { case (k, v, u) =>
        val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
        s""""$k":{"value":$num,"unit":"$u"}"""
      }.mkString("{", ",", "}")
      println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$json}""")
      0
    } finally wl.close()
  }
}
