package graft

/** Each `graft.Diag` subcommand, on the shared test session at sf0.001. */
class DiagSpec extends SparkTestBase {

  private def diag(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Diag.run(spark, sfDir, reps = 2, args)
    }
    out.toString("UTF-8").split("\n").toSeq
  }

  test("plan prints each query's formatted plan and its operator summary") {
    val lines = diag("plan", "q01_pricing_summary", "q10_topk")
    for (q <- Seq("q01_pricing_summary", "q10_topk")) {
      assert(lines.contains(s"========== $q =========="), lines.take(5))
      assert(lines.exists(l => l.startsWith(q) && l.contains("exch=") && l.contains("scans=")),
        lines.filter(_.startsWith(q)))
    }
    assert(lines.exists(_.contains("== Physical Plan ==")))
    assert(!lines.exists(_.contains("EXPLAIN-FAILED")))
  }

  test("run reports wall time, rows, jobs, stages and tasks for every run") {
    val runLine = """(\S+)\s+run (\d): +[\d.]+ s +(\d+) rows jobs= *(\d+) stages= *(\d+) tasks= *(\d+)""".r
    val runs = diag("run", "q01_pricing_summary").collect {
      case runLine(q, i, rows, jobs, stages, tasks) =>
        (q, i.toInt, rows.toLong, jobs.toInt, stages.toInt, tasks.toInt)
    }
    assert(runs.map(r => (r._1, r._2)) === Seq("q01_pricing_summary" -> 1, "q01_pricing_summary" -> 2))
    val rows = graft.SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    runs.foreach { case (_, i, n, jobs, stages, tasks) =>
      assert(n === rows)
      assert(jobs >= 1, s"run $i counted no job")
      assert(stages >= 1 && tasks >= stages, s"run $i: stages=$stages tasks=$tasks")
    }
  }

  test("stream prints each run's build and stream time and its batch progress") {
    val lines = diag("stream")
    assert(lines.count(_.matches("""stream run \d: build=[\d.]+ s stream=[\d.]+ s""")) === 2,
      lines.take(5))
    assert(lines.exists(_.contains("\"batchId\"")), "no micro-batch progress printed")
  }

  test("the job counter counts the micro-batch jobs of a stream started inside it") {
    import spark.implicits._
    val dir = tmpDir("diag-jobs-stream-")
    val t = graft.table.GraftTable.create(spark, dir, (1 to 10).toDF("id").coalesce(1))
    t.append((11 to 20).toDF("id").coalesce(1))
    t.append((21 to 30).toDF("id").coalesce(1))
    var batches = 0
    val jobs = Harness.jobsDuring(spark) {
      val q = spark.readStream.format("graft").option("maxFilesPerTrigger", "1").load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", tmpDir("diag-jobs-stream-ckpt-"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      batches = q.recentProgress.count(_.numInputRows > 0)
    }
    assert(batches === 3, "one file per micro-batch")
    assert(jobs.count >= batches, s"${jobs.count} jobs counted for $batches micro-batches")
    assert(jobs.tasks >= jobs.count)
  }

  test("hash-audit prints 3- and 4-gram collision counts per corpus") {
    val lines = diag("hash-audit")
    for (n <- Seq(3, 4))
      assert(lines.exists(_.matches(s"""\\Q$sfDir\\E $n-gram: distinct=\\d+ hashed=\\d+ collisions=0""")),
        lines)
  }

  test("an unknown subcommand is refused with the usage line") {
    val e = intercept[IllegalArgumentException](diag("explain"))
    assert(e.getMessage.startsWith("usage: Diag"))
  }
}
