package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Per-query job/stage/task counter (guide §1: find where fixed driver-side
  * cost concentrates). Runs each named query twice and reports both runs'
  * job/stage/task counts plus wall time: the FIRST run includes the work
  * a query caches for the rest of the JVM (the DML fixtures of
  * queries/Table.scala), the second is the warm per-query cost. Usage:
  *   tools/run.sh graft.JobCount q121_cooccurrence [more | 'top']
  * 'top' expands to a built-in list of the most expensive batch queries.
  * Read-only diagnostics; never part of the bench or verify path.
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    val top = Seq("q47_range_join", "q178_ann_ivf_pq_residual", "q121_cooccurrence",
      "q43_ngram_jaccard", "q111_canonical_select", "q187_perplexity_filter",
      "q57_dedup_clusters", "q107_dq_report", "q92_pagerank", "q172_ann_ivf_pq",
      "q32_lang_id", "q97_semantic_clusters", "q03_top_revenue_orders",
      "q166_leakage_safe_split", "q46_simhash_pairs", "q104_decontaminate",
      "q152_substring_dup", "q186_dsir_selection", "q36_tfidf_keywords",
      "q91_bm25_search", "q42_minhash_lsh")
    val names = args.toSeq.flatMap { case "top" => top; case n => Seq(n) }
    for (name <- names; run <- Seq("first", "second")) {
      Thread.sleep(300) // let the listener bus drain
      jobs.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"$name%-34s $run%-6s jobs=${jobs.get}%3d stages=${stages.get}%3d tasks=${tasks.get}%5d  $dt%6.2f s")
    }
    spark.stop()
  }
}
