package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.{GraftConcurrentWriteException, GraftTable}

/** The reference's REST surface replayed in-process: a closed loop of
  * `clients` threads, each with its own table handle, on one table with the
  * reference schema. Client `c` owns the ids congruent to `c` modulo the
  * client count, so the clients share files and race commits while each
  * one's acknowledged writes still form an exact model of its rows. */
final class TableService(spark: SparkSession, seed: Long, cpus: Int) extends Workload {
  import TableService._

  private val clients = math.min(2, cpus)
  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("firstname", StringType, nullable = false),
    StructField("lastname", StringType, nullable = false)))

  private var path: String = _
  private var ts0 = 0L
  private val plan = new Plan(seed, clients)
  private val models = Array.fill(clients)(mutable.TreeMap.empty[Int, (String, String)])
  private val handles = new Array[GraftTable](clients)
  /** Requests each client has started, and the deck count the window
    * stops at (-1 until the deadline passes). Guarded by `started`. */
  private val started = new Array[Int](clients)
  private var stopDeck = -1

  // write-path and log counters of the traced window
  private val conflicts = new ConcurrentHashMap[String, LongAdder]()
  private val attempts = new LongAdder
  private val writeOps = new LongAdder
  private val userBytes = new LongAdder
  private val kept = new LongAdder
  private val live = new LongAdder

  def opKinds: Seq[String] = Kinds
  def readKinds: Seq[String] = Kinds.filter(k => k.startsWith("get_") || k == "history")
  def writeKinds: Seq[String] = Seq("merge", "delete", "append")

  def setup(dir: Path): Unit = {
    path = dir.resolve("names").toString
    (0 until IdSpace).filter(present).foreach(id => models(id % clients)(id) = seedName(seed, id))
    val h = col("id").cast("long") * NameMul + lit(Math.floorMod(seed, NameMod) * 97L)
    // range partitions are contiguous id ranges: one file each
    val rows = spark.range(0, IdSpace, 1, Files).filter((col("id").bitwiseAND(2)) === 0).select(
      col("id").cast("int").as("id"),
      element_at(typedLit(First), (shiftright(h, 16).bitwiseAND(15) + 1).cast("int")).as("firstname"),
      element_at(typedLit(Last), (shiftright(h, 20).bitwiseAND(15) + 1).cast("int")).as("lastname"))
    val t = GraftTable.create(spark, path,
      spark.createDataFrame(rows.rdd, schema))
    ts0 = t.history().collect().head.getTimestamp(1).getTime
    (0 until clients).foreach(c => handles(c) = GraftTable.forPath(spark, path))
  }

  /** The first `WarmDecks` decks of the request sequence, run as the
    * window runs them, untimed. */
  def warm(): Unit = {
    val rec = new Recorder
    decks(System.nanoTime(), rec, WarmDecks)
    require(rec.failed.get == 0, s"warm-up failed: ${rec.errorLines.mkString("; ")}")
  }

  def run(deadlineNs: Long, rec: Recorder): Unit = decks(deadlineNs, rec, MinDecks)

  /** Whole decks only, at least `minDecks`: when the deadline has passed,
    * the loop stops at the end of the furthest deck any client has begun,
    * and every client finishes its share of it. So each window issues the
    * same mix of request kinds on every seed. */
  private def decks(deadlineNs: Long, rec: Recorder, minDecks: Int): Unit = {
    val share = plan.deckSize / clients
    def decks = started.map(n => (n + share - 1) / share).max
    val minStop = started.synchronized { stopDeck = -1; decks + minDecks }
    def next(c: Int): Option[Int] = started.synchronized {
      if (started(c) % share == 0) {
        if (stopDeck < 0 && System.nanoTime() >= deadlineNs) stopDeck = decks max minStop
      }
      if (stopDeck >= 0 && started(c) >= stopDeck * share) None
      else { started(c) += 1; Some(c + (started(c) - 1) * clients) }
    }
    parallel { c =>
      var i = next(c)
      while (i.isDefined) { execute(c, plan.op(i.get), rec); i = next(c) }
    }
  }

  private def parallel(body: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => try body(c) catch { case e: Throwable => errors.add(e) })
      th.setName(s"perfbench-client-$c"); th.start(); th
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  private def execute(c: Int, op: Op, rec: Recorder): Unit = {
    val t = handles(c)
    Trace.request(s"client.${op.kind}") {
      rec.op(op.kind) {
        op match {
          case Read(kind, lo, u) => read(c, t, kind, lo, u)
          case History =>
            val h = Trace.span("GraftTable.history") { t.history().collect() }
            require(h.nonEmpty && h.head.getLong(0) >= h.last.getLong(0), "history not newest-first")
          case w: Write =>
            write(c, w)
        }
      }
    }
    // layer probes of the traced window, after the request is timed
    if (Trace.on) {
      op match {
        case Read("latest", lo, _) =>
          Trace.request("probe.kept_ratio") {
            val s = t.snapshot
            val k = Trace.span("DataSkipping.prunedFiles") {
              t.prunedFiles(s, col("id").between(lo, lo + ReadRange - 1))
            }
            kept.add(k.size); live.add(s.files.size)
          }
        case _ =>
      }
      logProbe.foreach(_.step())
    }
  }

  /** `get_table` by latest, version or timestamp, collected to the client.
    * A version read is `snapshotAt` then `versionAsOf`, and a timestamp read
    * `versionAt` then the same — the calls `timestampAsOf` makes — so the
    * log's share of the read gets its own span. */
  private def read(c: Int, t: GraftTable, kind: String, lo: Int, u: Double): Unit = {
    val pred = col("id").between(lo, lo + ReadRange - 1)
    val df = kind match {
      case "latest" => Trace.span("read.build.latest")(t.scan(pred))
      case _ =>
        val v =
          if (kind == "version") math.min(t.latestVersion, (u * (t.latestVersion + 1)).toLong)
          else Trace.span("GraftLog.versionAt")(
            t.versionAt(ts0 + (u * (System.currentTimeMillis() - ts0)).toLong))
        Trace.span("GraftLog.snapshotAt")(t.snapshotAt(v))
        Trace.span(s"read.build.$kind")(t.versionAsOf(v).filter(pred))
    }
    val rows = Trace.span(s"read.exec.$kind") { df.collect() }
    if (kind == "latest") {
      // read-your-writes: this client's rows in the range match its model
      val own = rows.filter(_.getInt(0) % clients == c)
        .map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).sortBy(_._1).toSeq
      val want = models(c).range(lo, lo + ReadRange).toSeq
      require(own == want,
        s"latest read of [$lo, ${lo + ReadRange}) saw ${own.size} own rows, model has ${want.size}")
    }
  }

  private def frame(rows: Seq[(Int, String, String)]): DataFrame =
    spark.createDataFrame(rows.map { case (i, f, l) => Row(i, f, l) }.asJava, schema)

  /** One write request: up to `MaxAttempts` attempts, each retried only on
    * a commit conflict; the model changes only when an attempt commits. */
  private def write(c: Int, w: Write): Unit = {
    val t = handles(c)
    val (name, body, apply, bytes) = w match {
      case Merge(rows) =>
        val src = frame(rows)
        ("merge", () => t.merge(src, "t.id = s.id")
          .whenMatchedUpdate(Map("firstname" -> "s.firstname", "lastname" -> "s.lastname"))
          .whenNotMatchedInsert(Map("id" -> "s.id", "firstname" -> "s.firstname", "lastname" -> "s.lastname"))
          .execute(),
          () => rows.foreach { case (i, f, l) => models(c)(i) = (f, l) }, rowBytes(rows))
      case Delete(ids) =>
        ("delete", () => { t.delete(col("id").isin(ids: _*)); () },
          () => ids.foreach(models(c).remove), 0L)
      case Append(rows) =>
        val src = frame(rows)
        ("append", () => t.append(src),
          () => rows.foreach { case (i, f, l) => models(c)(i) = (f, l) }, rowBytes(rows))
    }
    var attempt = 0
    var committed = false
    var last: Throwable = null
    while (!committed && attempt < MaxAttempts) {
      attempt += 1
      if (Trace.on) attempts.increment()
      try {
        Trace.span(s"GraftTable.$name")(body())
        committed = true
      } catch {
        case e: GraftConcurrentWriteException =>
          last = e
          if (Trace.on) conflicts.computeIfAbsent(e.getClass.getSimpleName, _ => new LongAdder).increment()
      }
    }
    if (Trace.on) writeOps.increment()
    if (!committed) throw new IllegalStateException(s"$name gave up after $attempt attempts: ${Main.describe(last)}")
    apply()
    if (Trace.on) userBytes.add(bytes)
  }

  private def rowBytes(rows: Seq[(Int, String, String)]): Long =
    rows.map { case (_, f, l) => 4L + f.length + l.length }.sum

  def check(rec: Recorder): Unit = {
    val t = GraftTable.forPath(spark, path)
    rec.op("check.table_equals_models") {
      val rows = t.toDF.collect()
      val got = rows.map(r => r.getInt(0) -> (r.getString(1), r.getString(2)))
      val ids = got.map(_._1)
      require(ids.distinct.length == ids.length, s"${ids.length - ids.distinct.length} duplicate ids")
      val want = models.flatMap(_.toSeq).toMap
      require(got.toMap == want,
        s"table has ${got.length} rows, models ${want.size}; " +
          s"${(got.toMap.toSet diff want.toSet).size} rows differ")
      val meta = t.metadataCount()
      require(meta == rows.length, s"metadataCount $meta != count ${rows.length}")
    }
    logProbe.foreach(p => rec.op("check.synthetic_log_equals_model")(p.check()))
  }

  def digest: String = plan.describe(started.sum)

  private var bytesAtWindow = 0L
  private var logBytesAtWindow = 0L
  private var versionAtWindow = 0L
  private var uncachedAtWindow = 0L

  private def uncachedReads: Long = handles.map(_.log.uncachedVersionReads.toLong).sum

  /** The synthetic log of the traced window; see [[LogProbe]]. */
  private var logProbe: Option[LogProbe] = None

  override def beforeTracedWindow(): Unit = {
    logProbe = Some(new LogProbe(spark, java.nio.file.Paths.get(path).getParent.resolve("synthetic-log"), seed))
    val p = java.nio.file.Paths.get(path)
    bytesAtWindow = Dirs.treeBytes(p)
    logBytesAtWindow = Dirs.treeBytes(p.resolve("_delta_log"))
    versionAtWindow = handles(0).latestVersion
    uncachedAtWindow = uncachedReads
  }

  def layerMetrics(rec: Recorder): Map[String, Double] = {
    val v = new TraceView(Trace.spans, rec)
    val p = java.nio.file.Paths.get(path)
    val t = handles(0)
    val latest = t.latestVersion
    val commits = (latest - versionAtWindow).max(1L).toDouble
    val ops = writeOps.sum.toDouble.max(1.0)
    val w = v.spark(n => n.startsWith("GraftTable.") && n != "GraftTable.history")
    val conflictCounts = Layers.conflictKinds.map(k =>
      s"write.conflicts.$k" -> Option(conflicts.get(k + "Exception")).map(_.sum.toDouble).getOrElse(0.0))
    Map(
      "GraftTable.merge.p50_ms" -> v.p50("GraftTable.merge"),
      "GraftTable.delete.p50_ms" -> v.p50("GraftTable.delete"),
      "GraftTable.append.p50_ms" -> v.p50("GraftTable.append"),
      "write.jobs_per_op" -> w.jobs.get / ops,
      "write.tasks_per_op" -> w.tasks.get / ops,
      "write.task_s_per_op" -> w.taskNs.get / 1e9 / ops,
      "write.bytes_per_user_byte" ->
        (Dirs.treeBytes(p) - bytesAtWindow) / userBytes.sum.toDouble.max(1.0),
      "table.live_files_end" -> t.snapshot.files.size.toDouble,
      "log.bytes_per_commit" -> (Dirs.treeBytes(p.resolve("_delta_log")) - logBytesAtWindow) / commits,
      "write.attempts_per_op" -> attempts.sum / ops,
      "write.conflicts_per_op" -> conflictCounts.map(_._2).sum / ops,
      "read.build_p50_ms.latest" -> v.p50("read.build.latest"),
      "read.build_p50_ms.version" -> v.p50("read.build.version"),
      "read.build_p50_ms.timestamp" -> v.p50("read.build.timestamp"),
      "read.exec_p50_ms.latest" -> v.p50("read.exec.latest"),
      "read.exec_p50_ms.version" -> v.p50("read.exec.version"),
      "read.exec_p50_ms.timestamp" -> v.p50("read.exec.timestamp"),
      "GraftTable.history.p50_ms" -> v.p50("GraftTable.history"),
      "DataSkipping.kept_ratio" -> kept.sum / live.sum.toDouble.max(1.0),
      "DataSkipping.prunedFiles.p50_ms" -> v.p50("DataSkipping.prunedFiles"),
      "GraftLog.open.p50_ms" -> v.p50("GraftLog.open"),
      "GraftLog.snapshotAt.p50_ms" -> v.p50("GraftLog.snapshotAt"),
      "GraftLog.versionAt.p50_ms" -> v.p50("GraftLog.versionAt"),
      "GraftLog.commit.p50_ms" -> v.p50("GraftLog.commit"),
      "GraftLog.uncached_reads_per_op" -> (uncachedReads - uncachedAtWindow) / rec.completed.toDouble.max(1.0),
      "Checkpoint.commit.p50_ms" -> v.p50("Checkpoint.commit"),
      "Checkpoint.bytes" -> logProbe.map(_.checkpointBytes.toDouble).getOrElse(0.0),
    ) ++ conflictCounts ++ v.common
  }
}

object TableService {
  /** The initial table holds 200,000 rows: the ids of [0, IdSpace) whose
    * second bit is clear. The absent ids between them let a merge insert new
    * rows inside the range it updates, so an upsert touches the files of one
    * id range, as a keyed upsert does. Client `c` owns the ids congruent to
    * `c` modulo 2. */
  val IdSpace = 400000
  def present(id: Int): Boolean = (id & 2) == 0
  val Files = 64
  val ReadRange = 1000
  val MaxAttempts = 3
  val PrefixDecks = 40
  /** Decks per window: a deck holds 2 or 3 samples of most request kinds,
    * too few for a steady estimate on its own. */
  val MinDecks = 3
  /** Decks of the warm-up: request latencies fall over the first two decks
    * of a JVM as Spark's and graft's code gets compiled. */
  val WarmDecks = 2
  val First = Seq("James", "Alice", "Joe", "Maria", "Wei", "Aisha", "Omar", "Lena", "Ivan",
    "Sofia", "Kenji", "Priya", "Tom", "Ana", "Luca", "Nia")
  val Last = Seq("Bond", "Rogers", "Bloggs", "Smith", "Garcia", "Chen", "Khan", "Novak",
    "Silva", "Rossi", "Tanaka", "Patel", "Okafor", "Jensen", "Moreau", "Kowalski")
  val Kinds = Seq("get_latest", "get_version", "get_timestamp", "history", "merge", "delete", "append")

  private val NameMul = 2654435761L
  private val NameMod = 1000003L
  /** The seeded name of a row of the initial table (the setup computes the
    * same function in SQL). Both name lists have 16 entries. */
  def seedName(seed: Long, id: Int): (String, String) = {
    val h = id * NameMul + Math.floorMod(seed, NameMod) * 97L
    (First(((h >> 16) & 15).toInt), Last(((h >> 20) & 15).toInt))
  }

  sealed trait Op { def kind: String; def text: String }
  final case class Read(k: String, lo: Int, u: Double) extends Op {
    def kind = s"get_$k"; def text = s"$kind $lo $u"
  }
  case object History extends Op { def kind = "history"; def text = kind }
  sealed trait Write extends Op
  final case class Merge(rows: Seq[(Int, String, String)]) extends Write {
    def kind = "merge"; def text = s"merge ${rows.mkString(",")}"
  }
  final case class Delete(ids: Seq[Int]) extends Write {
    def kind = "delete"; def text = s"delete ${ids.mkString(",")}"
  }
  final case class Append(rows: Seq[(Int, String, String)]) extends Write {
    def kind = "append"; def text = s"append ${rows.mkString(",")}"
  }

  /** The request sequence, in decks of 20 requests in the reference
    * traffic's proportions. A deck is dealt as two fixed halves of ten, one
    * per client, swapped between the clients from deck to deck, so the
    * clients carry equal work; each half is shuffled by the seed. Request
    * `i` belongs to client `i % clients`. Every parameter comes from the
    * seed, never from the table's state, so a seed fixes every client's
    * requests. */
  final class Plan(seed: Long, clients: Int) {
    private val rnd = new scala.util.Random(seed)
    private val halves = Seq(
      Seq("get_latest" -> 3, "get_version" -> 2, "get_timestamp" -> 1, "history" -> 1,
        "merge" -> 2, "delete" -> 1),
      Seq("get_latest" -> 3, "get_version" -> 1, "get_timestamp" -> 1,
        "merge" -> 3, "delete" -> 1, "append" -> 1))
      .map(_.flatMap { case (k, n) => Seq.fill(n)(k) })
    val deckSize: Int = halves.map(_.size).sum
    private val nextNew = Array.fill(clients)(0)

    private def name(xs: Seq[String]) = xs(rnd.nextInt(xs.size))
    /** Ids above the initial id space, for appends. */
    private def fresh(c: Int): Int = { val id = IdSpace + nextNew(c) * clients + c; nextNew(c) += 1; id }
    /** The first of `groups` seeded groups of four ids: each group holds one
      * initial id (`g + c`) and one absent id (`g + 2 + c`) of client `c`. */
    private def group(groups: Int): Int = rnd.nextInt(IdSpace / 4 - groups) * 4

    /** The time-travel fractions of a deck are stratified: its `n` reads of
      * a kind draw one fraction from each `1/n` of [0, 1), in a seeded order.
      * A read at a late version scans about twice the files of one at an
      * early version, so with plain draws the mean fraction of a window's few
      * reads, and with it the window's read cost, differed by seed. */
    private val perDeck = halves.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    private val strata = mutable.Map.empty[String, Iterator[Int]]
    private def fraction(kind: String): Double = (strata(kind).next() + rnd.nextDouble()) / perDeck(kind)

    private def make(kind: String, c: Int): Op = kind match {
      case "get_latest" => Read("latest", rnd.nextInt(IdSpace), 0.0)
      case "get_version" => Read("version", rnd.nextInt(IdSpace), fraction(kind))
      case "get_timestamp" => Read("timestamp", rnd.nextInt(IdSpace), fraction(kind))
      case "history" => History
      case "merge" =>
        // 80 initial ids of one range, plus 20 absent ids of the same range
        val g = group(80)
        val ids = (0 until 80).map(i => g + 4 * i + c) ++ (0 until 20).map(i => g + 4 * i + 2 + c)
        Merge(ids.map(i => (i, name(First), name(Last))))
      case "delete" =>
        val g = group(20)
        Delete((0 until 20).map(i => g + 4 * i + c))
      case "append" => Append(Seq.fill(100)(fresh(c)).map(i => (i, name(First), name(Last))))
    }

    /** The first `PrefixDecks` decks are generated up front and digested. */
    private val ops = mutable.ArrayBuffer.empty[Op]
    private def extend(): Unit = {
      val d = ops.size / deckSize
      Seq("get_version", "get_timestamp").foreach(k => strata(k) = rnd.shuffle((0 until perDeck(k)).toList).iterator)
      val hands = (0 until clients).map { c =>
        halves.indices.filter(h => (h + d) % clients == c).flatMap(halves)
      }.map(h => rnd.shuffle(h).iterator)
      (0 until deckSize).foreach(i => ops += make(hands(i % clients).next(), i % clients))
    }
    (1 to PrefixDecks).foreach(_ => extend())
    val digest: String = {
      val d = new Digest
      ops.foreach(op => d.add(op.text))
      d.hex
    }

    def op(i: Int): Op = synchronized {
      while (i >= ops.size) extend()
      ops(i)
    }
    def describe(issued: Int): String = s"clients=$clients digest=$digest issued=$issued"
  }
}
