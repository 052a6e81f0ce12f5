package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Latencies and outcomes of one measured window. */
final class Recorder {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val lat = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val errors = new ConcurrentLinkedQueue[String]()
  @volatile var elapsedS = 0.0

  def ok(kind: String, ms: Double): Unit = {
    attempted.incrementAndGet()
    sample(kind, ms)
  }

  /** A latency of one part of an operation; counts no operation. */
  def sample(kind: String, ms: Double): Unit =
    lat.computeIfAbsent(kind, _ => new ConcurrentLinkedQueue[Double]()).add(ms)

  def fail(kind: String, why: String): Unit = {
    attempted.incrementAndGet()
    failed.incrementAndGet()
    if (errors.size < 20) errors.add(s"$kind: $why")
  }

  /** Times `f` as one operation of `kind`; an exception counts as a failure. */
  def op(kind: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try { f; ok(kind, (System.nanoTime() - t0) / 1e6) }
    catch { case e: Exception => fail(kind, Main.describe(e)) }
  }

  def samples(kinds: String*): Seq[Double] = {
    val ks = if (kinds.isEmpty) lat.keySet.asScala.toSeq else kinds
    ks.flatMap(k => Option(lat.get(k)).map(_.asScala.toSeq).getOrElse(Nil))
  }

  def completed: Long = attempted.get - failed.get
  def errorLines: Seq[String] = errors.asScala.toSeq
}

/** One benchmark workload. */
trait Workload {
  /** Latency kinds, as recorded in the [[Recorder]], in report order. */
  def opKinds: Seq[String]
  /** The kinds `read_ms` and `write_ms` are made of. */
  def readKinds: Seq[String]
  def writeKinds: Seq[String]
  /** Builds the fixture under `dir`. */
  def setup(dir: Path): Unit
  /** Untimed work after setup that fills caches and compiles code paths. */
  def warm(): Unit
  /** Closed loop: issue operations until `deadlineNs`, then return. */
  def run(deadlineNs: Long, rec: Recorder): Unit
  /** Output checks after the measured windows; each mismatch is a failure. */
  def check(rec: Recorder): Unit
  /** Digest of the generated request sequence and how much of it ran. */
  def digest: String
  /** Per-layer metrics of the traced window (names from [[Layers.perLayer]]). */
  def layerMetrics(rec: Recorder): Map[String, Double]
  /** Called before the traced window, to mark counters it reports deltas of. */
  def beforeTracedWindow(): Unit = ()
  def close(): Unit = ()
}

object Stats {
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  /** The middle sample, or the mean of the two middle ones. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The mean of the middle of `xs`: the lowest and the highest `Trim`
    * share of the samples are dropped. Latencies of a two-client mix are
    * often bimodal (a request that ran beside a merge, or one that retried
    * after a conflict, against one that did not), and a median over such
    * samples jumps between the modes from run to run; the trimmed mean
    * moves smoothly with their weights and still ignores the stray outlier. */
  def trimmedMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val k = (s.size * Trim).toInt
      val mid = s.slice(k, s.size - k)
      mid.sum / mid.size
    }
  val Trim = 0.2

  /** The trimmed mean latency of each kind, weighted by the kind's share of
    * the samples. Pooling kinds that differ by 5x would put the estimate on
    * the edge between them; this keeps every kind's weight fixed by the
    * request mix. */
  def mixMean(rec: Recorder, kinds: Seq[String]): Double = {
    val per = kinds.map(k => rec.samples(k)).filter(_.nonEmpty)
    if (per.isEmpty) 0.0 else per.map(xs => xs.size * trimmedMean(xs)).sum / per.map(_.size).sum
  }
}

/** SHA-256 over the textual form of a generated request sequence. */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
  def hex: String =
    md.clone().asInstanceOf[java.security.MessageDigest].digest().take(8).map("%02x".format(_)).mkString
}

object Dirs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

object Session {
  def create(scratch: Path, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
