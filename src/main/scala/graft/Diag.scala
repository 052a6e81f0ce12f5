package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.EventStreams

/** Read-only diagnostics at the bench's configuration (`Harness`: the
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR and SPARK_GRAFT_REPS of Bench).
  * Never part of the bench or verify path. Usage:
  * {{{
  *   tools/run.sh graft.Diag plan [query...]     # formatted plan + operator summary
  *   tools/run.sh graft.Diag run query...        # wall time, rows, jobs/stages/tasks per run
  *   tools/run.sh graft.Diag stream              # stream-stream join micro-batch progress
  *   tools/run.sh graft.Diag hash-audit [sfDir...]  # xxhash64 shingle collisions
  * }}}
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    try run(spark, Harness.sfDir, Harness.reps, args.toSeq)
    finally spark.stop()
  }

  /** Runs one subcommand, printing its lines to `Console.out`. */
  def run(spark: SparkSession, sfDir: String, reps: Int, args: Seq[String]): Unit =
    args match {
      case "plan" +: names => plan(spark, sfDir, names)
      case "run" +: names if names.nonEmpty => runQueries(spark, sfDir, reps, names)
      case Seq("stream") => stream(spark, sfDir, reps)
      case "hash-audit" +: dirs => hashAudit(spark, if (dirs.isEmpty) Seq(sfDir) else dirs)
      case _ => throw new IllegalArgumentException(
        "usage: Diag plan [query...] | run query... | stream | hash-audit [sfDir...]")
    }

  /** `explain("formatted")` and a one-line operator count per query; with
    * no names, every batch query. Streaming queries run their whole
    * micro-batch pipeline while being built, so they are left out. */
  private def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val selected =
      if (names.nonEmpty) names
      else SparkEntry.queries.keys.toSeq.sorted.filterNot(_.contains("stream"))
    selected.foreach { n =>
      try {
        val txt = SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        def c(p: String) = p.r.findAllIn(txt).length
        println(s"========== $n ==========\n$txt")
        println(f"$n%-35s exch=${c("Exchange")}%2d reuseExch=${c("ReusedExchange")}%2d " +
          f"smj=${c("SortMergeJoin")}%2d bhj=${c("BroadcastHashJoin")}%2d " +
          f"bnl=${c("BroadcastNestedLoop")}%2d cart=${c("CartesianProduct")}%2d " +
          f"scans=${c("Scan ")}%2d agg=${c("HashAggregate")}%2d subq=${c("Subquery")}%2d")
      } catch {
        case e: Exception =>
          println(s"$n EXPLAIN-FAILED: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
  }

  /** Each query `reps` times: wall seconds, rows, and the jobs, stages and
    * tasks of the run. The first run includes the work a query caches for
    * the rest of the JVM (the DML fixtures of queries/Table.scala). */
  private def runQueries(spark: SparkSession, sfDir: String, reps: Int,
      names: Seq[String]): Unit =
    for (name <- names; i <- 1 to reps) {
      var rows = 0L
      val t0 = System.nanoTime()
      val jobs = Harness.jobsDuring(spark) {
        rows = SparkEntry.queries(name)(spark, sfDir).count()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$name%-34s run $i: $sec%6.2f s $rows%8d rows jobs=${jobs.count}%3d " +
        f"stages=${jobs.stages}%3d tasks=${jobs.tasks}%5d")
    }

  /** The event stream's click/purchase left-outer join, `reps` fresh runs
    * to a scratch parquet sink (deleted after each run): build and stream
    * seconds, then each batch's progress. */
  private def stream(spark: SparkSession, sfDir: String, reps: Int): Unit =
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val src = EventStreams.readEventStream(spark, sfDir)
      val joined = EventStreams.clickPurchaseJoin(src, src, "leftOuter")
      val base = Scratch.dir("diag-stream-")
      val t1 = System.nanoTime()
      val q = EventStreams.scopedStreamRun(spark) {
        val started = joined.writeStream.format("parquet")
          .option("path", base.resolve("out").toString)
          .option("checkpointLocation", base.resolve("chk").toString)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow()).start()
        started.awaitTermination(); started
      }
      val t2 = System.nanoTime()
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      println(f"stream run $i: build=${(t1 - t0) / 1e9}%.2f s stream=${(t2 - t1) / 1e9}%.2f s")
      q.recentProgress.foreach(p => println(p.json))
    }

  /** xxhash64 injectivity over the corpus 3- and 4-gram shingle universes
    * the hashed-key rewrites (q43, q104/q179) rely on: zero collisions
    * means the hashed-key plans compute the string-keyed results. */
  private def hashAudit(spark: SparkSession, dirs: Seq[String]): Unit = {
    import spark.implicits._
    for (sf <- dirs; n <- Seq(3, 4)) {
      val r = Tables.documents(spark, sf)
        .select(split($"text", " ").as("toks"))
        .filter(size($"toks") >= n)
        .select(explode(array_distinct(expr(
          s"transform(sequence(0, size(toks) - $n), " +
            s"i -> concat_ws(' ', slice(toks, i + 1, $n)))"))).as("s"))
        .agg(countDistinct($"s"), countDistinct(xxhash64($"s"))).head()
      println(s"$sf ${n}-gram: distinct=${r.getLong(0)} hashed=${r.getLong(1)} " +
        s"collisions=${r.getLong(0) - r.getLong(1)}")
    }
  }
}
