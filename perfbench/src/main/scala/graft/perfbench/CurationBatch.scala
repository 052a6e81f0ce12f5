package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.queries.{Dedup, GraphQueries, Q, Retrieval, Similarity, Text}

/** The LLM-data-pipeline half: curation queries of `graft.queries` over a
  * generated corpus, each written in full to Spark's `noop` sink (a
  * `.count()` would let Catalyst prune the projections these queries exist
  * to compute). A request is one query: build, plan, write. Closed loop, 1
  * client, whole passes over the query set in a seeded order per pass. It
  * runs as the curation probe of the traced stream_ingest run
  * (`Main.curationProbe`), not as a workload of its own. */
final class CurationBatch(spark: SparkSession, seed: Long) extends Workload {
  import CurationBatch._

  private var dir: String = _
  private var queries: Seq[Query] = Nil
  private var dropped: Seq[String] = Nil
  private val rnd = new scala.util.Random(seed)
  /** Pass orders; the first `PrefixPasses` are drawn before the first
    * window and digested. */
  private val orders = mutable.ArrayBuffer.empty[Seq[Query]]
  private var orderDigest = ""
  private var passes = 0
  /** Rows each query wrote to the sink, per timed run of it. */
  private val written = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  /** Traced-window timings per query: build, plan and exec ms. */
  private val timings = new ConcurrentLinkedQueue[(Query, Double, Double, Double)]()

  def opKinds: Seq[String] = Seq("query", "pass.plan", "pass.exec") ++ queries.map(_.name)
  /** A pass's time to plan and time to write, each summed over its
    * queries: the queries differ too much in cost for a median over them
    * to be steady. */
  def readKinds: Seq[String] = Seq("pass.plan")
  def writeKinds: Seq[String] = Seq("pass.exec")

  def setup(d: Path): Unit = {
    dir = d.resolve("corpus").toString
    Corpus.write(spark, dir)
  }

  /** One untimed pass over the candidates. A listener watches each build
    * for streaming queries; a query whose build starts one is dropped (and
    * its streams stopped), as it is not a batch query. */
  def warm(): Unit = {
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.id.toString)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val rec = new Recorder
    spark.streams.addListener(listener)
    try {
      val (keep, streaming) = candidates.partition { q =>
        started.clear()
        val df = q.q.build(spark, dir)
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.streams.active.foreach(_.stop())
        if (started.isEmpty) rec.op("warm")(df.write.format("noop").mode("overwrite").save())
        started.isEmpty
      }
      queries = keep
      dropped = streaming.map(_.name)
    } finally spark.streams.removeListener(listener)
    require(rec.failed.get == 0, s"warm-up failed: ${rec.errorLines.mkString("; ")}")
  }

  /** Whole passes: the pass in progress at the deadline completes. */
  def run(deadlineNs: Long, rec: Recorder): Unit = {
    timings.clear()
    if (orders.isEmpty) {
      orders ++= Seq.fill(PrefixPasses)(rnd.shuffle(queries))
      val d = new Digest
      orders.foreach(o => d.add(o.map(_.name).mkString(",")))
      orderDigest = d.hex
    }
    do {
      if (passes == orders.size) orders += rnd.shuffle(queries)
      val ms = orders(passes).map(q => execute(q, rec))
      rec.sample("pass.plan", ms.map(_._1).sum)
      rec.sample("pass.exec", ms.map(_._2).sum)
      passes += 1
    } while (System.nanoTime() < deadlineNs)
  }

  /** Runs one query; returns its time to plan and time to write, in ms. */
  private def execute(q: Query, rec: Recorder): (Double, Double) = {
    var ms = (0.0, 0.0)
    Trace.request("client.query") {
      rec.op("query") {
        val t0 = System.nanoTime()
        val df = Trace.span(s"queries.${q.module}.build")(q.q.build(spark, dir))
        val t1 = System.nanoTime()
        Trace.span(s"queries.${q.module}.plan")(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        // the row count rides along the write as an observed metric
        val rows = Observation(s"rows-${q.name}")
        val sink = df.observe(rows, count(lit(1)).as("n"))
        val execNs = Trace.span(s"queries.${q.module}.exec") {
          val e0 = System.nanoTime()
          sink.write.format("noop").mode("overwrite").save()
          System.nanoTime() - e0
        }
        ms = ((t2 - t0) / 1e6, execNs / 1e6)
        rec.sample(q.name, (System.nanoTime() - t0) / 1e6)
        written.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += rows.get("n").asInstanceOf[Long]
        if (Trace.on) timings.add((q, (t1 - t0) / 1e6, (t2 - t1) / 1e6, execNs / 1e6))
      }
    }
    ms
  }

  /** Every run of every query wrote its pinned row count. */
  def check(rec: Recorder): Unit = {
    rec.op("check.query_set") {
      val missing = Pinned.keySet -- queries.map(_.name)
      require(missing.isEmpty && dropped.isEmpty,
        s"query set changed: missing ${missing.mkString(",")}; streaming ${dropped.mkString(",")}")
    }
    written.toSeq.sortBy(_._1).foreach { case (name, counts) =>
      rec.op(s"check.rows.$name") {
        val want = Pinned.getOrElse(name, -1L)
        require(counts.forall(_ == want),
          s"$name wrote ${counts.distinct.mkString("/")} rows, pinned $want")
      }
    }
  }

  def digest: String =
    s"queries=${queries.size} dropped_streaming=[${dropped.mkString(",")}] " +
      s"digest=$orderDigest passes=$passes"

  def layerMetrics(rec: Recorder): Map[String, Double] = {
    val v = new TraceView(Trace.spans, rec)
    val ts = timings.asScala.toSeq
    val npass = (ts.size.toDouble / queries.size.max(1)).max(1.0)
    val perModule = Layers.curationModules.flatMap { m =>
      val mine = ts.filter(_._1.module == m)
      val c = v.spark(n => n.startsWith(s"queries.$m."))
      Seq(
        s"queries.$m.build_s" -> mine.map(_._2).sum / 1e3 / npass,
        s"queries.$m.plan_s" -> mine.map(_._3).sum / 1e3 / npass,
        s"queries.$m.exec_s" -> mine.map(_._4).sum / 1e3 / npass,
        s"queries.$m.jobs" -> c.jobs.get / npass,
        s"queries.$m.task_s" -> c.taskNs.get / 1e9 / npass,
        s"queries.$m.shuffle_mb" -> c.shuffleBytes.get / 1048576.0 / npass,
        s"queries.$m.spill_mb" -> c.spillBytes.get / 1048576.0 / npass)
    }
    val kernels = Kernels.map { case (_, name) =>
      s"query.$name.exec_s" -> Stats.median(ts.filter(_._1.name == name).map(_._4)) / 1e3
    }
    (perModule ++ kernels).toMap + ("curation.pass_s" -> ts.map(t => t._2 + t._3 + t._4).sum / 1e3 / npass) ++
      v.common
  }
}

object CurationBatch {
  final case class Query(module: String, name: String, q: Q)

  val Modules = Seq("Dedup", "Similarity", "Text", "Retrieval", "Graph")
  private def all(module: String): Seq[(String, Q)] = module match {
    case "Dedup" => Dedup.all
    case "Similarity" => Similarity.all
    case "Text" => Text.all
    case "Retrieval" => Retrieval.all
    case "Graph" => GraphQueries.all
  }

  /** The kernel queries: minhash, simhash, BPE and product quantisation. */
  val Kernels = Seq("Dedup" -> "q42_minhash_lsh", "Dedup" -> "q46_simhash_pairs",
    "Text" -> "q177_bpe_encode", "Similarity" -> "q172_ann_ivf_pq")
  /** Modules run whole: those too small to need a pick. */
  val WholeModules = Set("Retrieval", "Graph")
  /** Queries that persist a table through `graft.Scratch`, which puts it
    * in /dev/shm, outside the benchmark's directories: the lsh pair graph
    * (q57_dedup_clusters, q92_pagerank) and the PQ index (q176). */
  val WritesOutside = Set("q57_dedup_clusters", "q92_pagerank", "q176_pq_index_probe")

  /** The candidate set, looked up in each module's `all` list: a renamed
    * or removed kernel fails the set-up instead of shrinking the set. */
  def candidates: Seq[Query] = Modules.flatMap { m =>
    val qs = all(m)
    Kernels.filter(_._1 == m).foreach { case (_, n) =>
      require(qs.exists(_._1 == n), s"$n not in $m.all")
    }
    qs.filter { case (n, _) =>
      (WholeModules(m) || Kernels.contains(m -> n)) && !WritesOutside(n)
    }.map { case (n, q) => Query(m, n, q) }
  }

  /** The per-layer metrics this class reports; the probe keeps only these. */
  def owns(metric: String): Boolean =
    Seq("queries.", "query.", "curation.", "self_ms_per_op.queries.").exists(metric.startsWith)

  /** Passes whose seeded order is drawn up front and digested. */
  val PrefixPasses = 50

  /** Output rows of each query on the corpus. The corpus does not depend on
    * the run's seed, so these hold for every seed. */
  val Pinned: Map[String, Long] = Map(
    "q42_minhash_lsh" -> 1063L,
    "q46_simhash_pairs" -> 292010L,
    "q177_bpe_encode" -> 5000L,
    "q172_ann_ivf_pq" -> 10L,
    "q91_bm25_search" -> 20L,
    "q93_heavy_hitters" -> 20L)
}

/** A corpus with the shape of the sf0.1 `documents` and `embeddings` test
  * tables: 5,000 documents of 10 to 100 tokens drawn uniformly from a
  * 30-word vocabulary, 5% of them another document's text plus " dup";
  * languages en 41%, zh/es/fr/de 15% each; 20 sources round-robin; and
  * 2,000 unit-length 64-dim embeddings with labels 0 to 9. It is generated
  * from a fixed seed, so every run measures the same corpus. */
object Corpus {
  val Seed = 42L
  val Documents = 5000
  val Embeddings = 2000
  val Dim = 64
  val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order",
    "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Seq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)
    .flatMap { case (l, n) => Seq.fill(n)(l) }

  def write(spark: SparkSession, dir: String): Unit = {
    val rnd = new scala.util.Random(Seed)
    val texts = new Array[String](Documents)
    val docs = (0 until Documents).map { i =>
      texts(i) =
        if (i > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      Row(i.toLong, texts(i), Langs(rnd.nextInt(Langs.size)), s"src${i % 20}", texts(i).length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(docs.asJava, docSchema).coalesce(1).write.parquet(s"$dir/documents.parquet")
    val embs = (0 until Embeddings).map { i =>
      val g = Array.fill(Dim)(rnd.nextGaussian())
      val n = math.sqrt(g.map(x => x * x).sum)
      Row(i.toLong, g.map(x => (x / n).toFloat).toSeq, rnd.nextInt(10))
    }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(embs.asJava, embSchema).coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }
}
