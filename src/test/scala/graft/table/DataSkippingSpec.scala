package graft.table

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
/** Property: scan(pred) ≡ the same filter over the table's rows with no
  * file pruning, for arbitrary range predicates — data skipping may only
  * remove provably-dead files, never rows. */
class DataSkippingSpec extends SparkTestBase {

  /** Every row of `t`, read whole, as a local frame no filter can prune. */
  private def unpruned(t: GraftTable): DataFrame = {
    val all = t.toDF
    spark.createDataFrame(java.util.Arrays.asList(all.collect(): _*), all.schema)
  }

  private lazy val table: GraftTable = {
    import spark.implicits._
    val dir = tmpDir("skip-")
    // 8 files, ids clustered by range so min/max stats are selective
    val df = (0 until 800).map(i => (i, s"name$i", i * 1.5)).toDF("id", "name", "score")
      .repartitionByRange(8, $"id")
    GraftTable.create(spark, dir, df)
  }

  private def check(pred: Column): Unit = {
    val expected = unpruned(table).filter(pred).collect().map(_.getInt(0)).sorted
    val actual = table.scan(pred).collect().map(_.getInt(0)).sorted
    assert(actual.toSeq === expected.toSeq, s"pred=$pred")
  }

  test("stats land in the log") {
    val f = table.snapshot.files
    assert(f.size === 8)
    assert(f.forall(a => a.minValues.contains("id") && a.maxValues.contains("id")))
    assert(f.forall(a => a.minValues.contains("name")))
  }

  test("selective point lookup prunes to one file") {
    val kept = table.prunedFiles(table.snapshot, col("id") === 42)
    assert(kept.size === 1)
    check(col("id") === 42)
  }

  test("range/in/string/conjunction predicates: scan ≡ filter (seeded property)") {
    val rnd = new scala.util.Random(42)
    (1 to 40).foreach { _ =>
      val a = rnd.between(-100, 900)
      val b = rnd.between(-100, 900)
      val preds = Seq(
        col("id") === a,
        col("id") > a,
        col("id") <= a,
        col("id") > a && col("id") <= b,
        lit(a) < col("id"),
        col("id").isin(a, b, a + 1),
        col("name") === s"name$a",
        col("name") >= s"name$a" && col("id") < b,
        col("score") > a.toDouble)
      check(preds(rnd.nextInt(preds.size)))
    }
  }

  test("bloom table: scan ≡ filter over the same seeded predicate mix") {
    import spark.implicits._
    // round-robin files (overlapping ranges) + blooms on id and name:
    // min/max is useless here, so any pruning is the bloom's — and it must
    // never cost a row on ANY predicate shape, including non-equality ones
    val df = (0 until 800).map(i => (i, s"name$i", i * 1.5)).toDF("id", "name", "score")
      .repartition(8)
    val t = GraftTable.create(spark, tmpDir("skipb-"),
      df, bloomFilterOn = Seq("id", "name"), bloomNdv = 1000L)
    def checkB(pred: Column): Unit = {
      val expected = unpruned(t).filter(pred).collect().map(_.getInt(0)).sorted
      val actual = t.scan(pred).collect().map(_.getInt(0)).sorted
      assert(actual.toSeq === expected.toSeq, s"pred=$pred")
    }
    val rnd = new scala.util.Random(7)
    (1 to 30).foreach { _ =>
      val a = rnd.between(-100, 900)
      val b = rnd.between(-100, 900)
      val preds = Seq(
        col("id") === a,
        col("id").isin(a, b, a + 1),
        col("name") === s"name$a",
        col("name") === s"name$a" && col("id") === a,
        col("id") === a && col("score") > b.toDouble,
        col("id") > a && col("id") <= b)
      checkB(preds(rnd.nextInt(preds.size)))
    }
  }

  test("unskippable shapes keep all files") {
    val s = table.snapshot
    assert(table.prunedFiles(s, col("id") % 2 === 0).size === s.files.size)
    assert(table.prunedFiles(s, col("id") === col("score").cast("int")).size === s.files.size)
    assert(table.prunedFiles(s, lower(col("name")) === "name1").size === s.files.size)
  }

  test("disjunctions are conservative (never skip)") {
    check(col("id") === 5 || col("id") === 795)
  }

  test("clustered OPTIMIZE restores skipping selectivity after appends") {
    import spark.implicits._
    val dir = tmpDir("clust-")
    // interleaved appends → every file spans the whole id range → no skipping
    val t = GraftTable.create(spark, dir,
      (0 until 400 by 4).map(i => (i, i * 1.0)).toDF("id", "x").coalesce(1))
    (1 to 3).foreach(off => t.append(
      (off until 400 by 4).map(i => (i, i * 1.0)).toDF("id", "x").coalesce(1)))
    val unclustered = t.prunedFiles(t.snapshot, col("id") === 42)
    assert(unclustered.size === 4, "interleaved files cannot be skipped")

    t.optimize(targetFileBytes = 4096, clusterBy = Seq("id"))
    val clustered = t.prunedFiles(t.snapshot, col("id") === 42)
    assert(t.snapshot.files.size > 1, "compaction kept multiple files")
    assert(clustered.size < t.snapshot.files.size,
      "range clustering must make point lookups prune files")
    // correctness unchanged
    assert(t.scan(col("id") === 42).collect().map(_.getInt(0)).toSeq === Seq(42))
    assert(t.toDF.count() === 400)
  }

  test("ZORDER optimize makes BOTH dimensions prunable; linear clusterBy only one") {
    import spark.implicits._
    // 64x64 grid, written in row-major id order: linear layout is
    // perfectly clustered on x's companion id but every file spans all y.
    def grid = (0 until 4096).map(i => (i, i % 64, i / 64)).toDF("id", "x", "y")
    val lin = GraftTable.create(spark, tmpDir("zlin-"), grid.coalesce(1))
    lin.optimize(targetFileBytes = 4096, clusterBy = Seq("x"))
    val zt = GraftTable.create(spark, tmpDir("zord-"), grid.coalesce(1))
    zt.optimize(targetFileBytes = 1024, zorderBy = Seq("x", "y"))

    val nZ = zt.snapshot.files.size
    assert(nZ >= 8, s"need several files for the comparison, got $nZ")

    def frac(t: GraftTable, pred: Column): Double =
      t.prunedFiles(t.snapshot, pred).size.toDouble / t.snapshot.files.size

    // linear clusterBy serves its leading column only
    assert(frac(lin, col("x") === 17) < 0.5, "clusterBy(x) must prune x slices")
    assert(frac(lin, col("y") === 17) === 1.0, "clusterBy(x) cannot prune y")
    // z-order serves both
    assert(frac(zt, col("x") === 17) < 0.6, "zorder must prune x slices")
    assert(frac(zt, col("y") === 17) < 0.6, "zorder must prune y slices")
    // and a box predicate prunes multiplicatively
    val box = col("x") >= 10 && col("x") < 14 && col("y") >= 20 && col("y") < 24
    assert(frac(zt, box) < 0.25, s"box query should read few files, read ${frac(zt, box)}")

    // reorganization only: same rows, both dims still correct
    assert(zt.toDF.count() === 4096)
    assert(zt.scan(col("x") === 17 && col("y") === 3).collect()
      .map(_.getInt(0)).toSeq === Seq(3 * 64 + 17))
  }

  test("incremental clustering: second OPTIMIZE touches only the new files") {
    import spark.implicits._
    def grid = (0 until 4096).map(i => (i, i % 64, i / 64)).toDF("id", "x", "y")
    val t = GraftTable.create(spark, tmpDir("zinc-"), grid.coalesce(1))
    t.setProperty("clustering.columns", "x,y")
    // first pass: full re-cluster, outputs tagged with the spec
    t.optimize(targetFileBytes = 1024)
    val firstPass = t.snapshot.files
    assert(firstPass.forall(_.tags.get("clustered").contains("zorder(x,y)")),
      "clustered outputs must carry the spec tag")
    // a checkpoint-seeded fold must preserve the tags (else the next pass
    // re-clusters everything): force one by crossing the interval
    (1 to 10).foreach(_ => t.setProperty("noise", java.util.UUID.randomUUID().toString))
    assert(new GraftLog(t.path).snapshotAt(t.latestVersion).files
      .forall(_.tags.contains("clustered")), "tags must survive checkpoints")

    t.append((4096 until 4608).map(i => (i, i % 64, i / 64))
      .toDF("id", "x", "y").coalesce(1))
    val beforeSecond = t.snapshot.files
    t.optimize(targetFileBytes = 1024)
    val afterSecond = t.snapshot.files
    // every first-pass file is byte-identical (same path, never rewritten)
    val firstPaths = firstPass.map(_.path).toSet
    assert(firstPaths.subsetOf(afterSecond.map(_.path).toSet),
      "an incremental pass must leave conforming files untouched")
    // only the new append rewrote
    val rewritten = beforeSecond.map(_.path).toSet -- afterSecond.map(_.path).toSet
    assert(rewritten.nonEmpty && rewritten.forall(!firstPaths.contains(_)),
      s"only the appended files may rewrite, rewrote $rewritten")
    // metrics record the skipped conforming files
    val metrics = t.history().orderBy(col("version").desc)
      .select("operation", "operationMetrics").head()
    assert(metrics.getString(0) == "OPTIMIZE")
    assert(metrics.getMap[String, String](1)
      .get("numClusteredFilesSkipped").exists(_.toInt == firstPass.size))
    // pruning still fires on BOTH z dimensions after the incremental pass
    def frac(pred: Column): Double =
      t.prunedFiles(t.snapshot, pred).size.toDouble / t.snapshot.files.size
    assert(frac(col("x") === 17) < 0.6, "x must stay prunable")
    assert(frac(col("y") === 17) < 0.8, "y must stay prunable")
    // correctness: same rows, new rows included
    assert(t.toDF.count() === 4608)
    assert(t.scan(col("id") === 4200).collect().map(_.getInt(0)).toSeq === Seq(4200))
    // a third bare OPTIMIZE with nothing new is a no-op commit-wise
    val v = t.latestVersion
    t.optimize(targetFileBytes = 1024)
    assert(t.latestVersion == v, "nothing to re-cluster → no commit")
    // an unrecognized curve raises instead of silently maintaining a
    // DIFFERENT clustering than the one declared
    t.setProperty("clustering.curve", "hilbert")
    val e = intercept[IllegalArgumentException] { t.optimize() }
    assert(e.getMessage.contains("hilbert"))
    t.setProperty("clustering.curve", "zorder")
    // OPTIMIZE FULL re-clusters EVERYTHING, conforming files included —
    // the escape hatch when incremental cube boundaries drift
    val beforeFull = t.snapshot.files.map(_.path).toSet
    t.optimize(targetFileBytes = 1024, full = true)
    assert(t.snapshot.files.map(_.path).toSet.intersect(beforeFull).isEmpty,
      "FULL must rewrite every file")
    assert(t.toDF.count() === 4608)
  }

  test("bare OPTIMIZE compacts only under-sized files (minFileSize semantics)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("binpack-"),
      (0 until 4096).map(i => (i, s"payload-$i")).toDF("id", "v").coalesce(1))
    val big = t.snapshot.files
    assert(big.size == 1 && big.head.size > 4096)
    // several small appends — the compaction candidates
    (0 until 4).foreach(k => t.append(
      Seq((10000 + k, "s")).toDF("id", "v").coalesce(1)))
    // a target below the big file's size: it must survive byte-identical
    // while the small files compact (no byte-margin coupling: assert the
    // count SHRANK, not an exact figure parquet overhead could shift)
    t.optimize(targetFileBytes = 4096)
    val after = t.snapshot.files
    assert(after.map(_.path).contains(big.head.path),
      "a right-sized file must never rewrite in a bare bin-pack")
    assert(after.size < 5, s"small files must compact, got ${after.size}")
    assert(t.toDF.count() === 4100)
    // metrics partition the file set: size-skipped survivors are counted
    val m = t.history().orderBy(col("version").desc)
      .select("operationMetrics").head().getMap[String, String](0)
    assert(m.get("numSizeSkipped").exists(_.toInt >= 1))
    // CONVERGENCE: repeated bare passes reach a fixed point — outputs of
    // a multi-output compaction land at/above target (floor sizing), so
    // the next pass re-admits nothing and commits nothing
    val v = t.latestVersion
    t.optimize(targetFileBytes = 4096)
    assert(t.latestVersion == v, "a converged table must not re-compact")
  }

  test("multi-output bare compaction converges (no re-compaction churn)") {
    import spark.implicits._
    // ~40 small files whose total spans SEVERAL targets: ceil sizing would
    // emit sub-target outputs that re-compact into themselves forever
    val t = GraftTable.create(spark, tmpDir("binpack-multi-"),
      (0 until 200).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    (1 to 40).foreach(k => t.append(
      (0 until 50).map(i => (k * 1000 + i, s"payload-$k-$i"))
        .toDF("id", "v").coalesce(1)))
    val target = 4096L
    t.optimize(targetFileBytes = target)
    val afterFirst = t.snapshot.files
    assert(afterFirst.size > 2, "the probe needs a multi-output compaction")
    val v = t.latestVersion
    t.optimize(targetFileBytes = target)
    assert(t.latestVersion == v,
      s"second pass must be a no-op; files: ${t.snapshot.files.map(_.size)}")
    assert(t.toDF.count() === 200 + 40 * 50)
  }

  test("incremental clustering composes with Hive partitioning") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("zinc-part-"),
      (0 until 4096).map(i => (i, i % 4, i % 64, i / 64))
        .toDF("id", "p", "x", "y").coalesce(1),
      partitionBy = Seq("p"))
    t.setProperty("clustering.columns", "x,y")
    t.optimize(targetFileBytes = 1024)
    val firstPass = t.snapshot.files
    assert(firstPass.forall(f => f.tags.contains("clustered") &&
      f.partitionValues.contains("p")),
      "clustered outputs must keep their Hive partition values")
    t.append((4096 until 4352).map(i => (i, i % 4, i % 64, i / 64))
      .toDF("id", "p", "x", "y").coalesce(1))
    t.optimize(targetFileBytes = 1024)
    // conforming files survive byte-identical, inside their partitions
    assert(firstPass.map(_.path).toSet
      .subsetOf(t.snapshot.files.map(_.path).toSet))
    // partition pruning AND z-dim pruning both still fire
    def frac(pred: Column): Double =
      t.prunedFiles(t.snapshot, pred).size.toDouble / t.snapshot.files.size
    assert(frac(col("p") === 1) <= 0.3, "partition pruning must fire")
    assert(frac(col("x") === 17) < 0.7, "z-dim pruning must fire")
    assert(t.toDF.count() === 4352)
    assert(t.scan(col("p") === 1 && col("x") === 17 && col("y") === 3)
      .collect().map(_.getInt(0)).toSeq.sorted.nonEmpty)
  }

  test("LIKE 'prefix%' prunes on string min/max ranges") {
    import spark.implicits._
    // three files with disjoint name ranges: [apple..avocado], [banana..blueberry], [cherry..citrus]
    val t = GraftTable.create(spark, tmpDir("skip-sw-"),
      Seq((1, "apple"), (2, "avocado")).toDF("id", "name").coalesce(1))
    t.append(Seq((3, "banana"), (4, "blueberry")).toDF("id", "name").coalesce(1))
    t.append(Seq((5, "cherry"), (6, "citrus")).toDF("id", "name").coalesce(1))
    assert(t.prunedFiles(t.snapshot, col("name").startsWith("b")).size == 1)
    assert(t.prunedFiles(t.snapshot, col("name").startsWith("blue")).size == 1)
    assert(t.prunedFiles(t.snapshot, col("name").startsWith("z")).isEmpty)
    // boundary prefix straddling two files keeps both ("a" vs "b" split)
    assert(t.prunedFiles(t.snapshot, col("name").startsWith("")).size == 3)
    // correctness: scan ≡ filter
    Seq("b", "blue", "a", "cit", "zzz", "").foreach { p =>
      val pred = col("name").startsWith(p)
      assert(t.scan(pred).collect().map(_.getInt(0)).sorted.toSeq ==
        unpruned(t).filter(pred).collect().map(_.getInt(0)).sorted.toSeq, s"prefix=$p")
    }
  }

  test("ZORDER over a string dimension clusters it for point-lookup pruning") {
    import spark.implicits._
    val langs = Seq("en", "de", "fr", "es", "it", "pt", "nl", "pl")
    // row-major interleave: before optimize, every file spans all langs
    val df = (0 until 4096).map(i => (i, langs(i % 8), i / 8)).toDF("id", "lang", "n")
    val t = GraftTable.create(spark, tmpDir("zstr-"), df.coalesce(1))
    t.optimize(targetFileBytes = 1024, zorderBy = Seq("lang", "n"))
    assert(t.snapshot.files.size >= 8)
    def frac(pred: Column): Double =
      t.prunedFiles(t.snapshot, pred).size.toDouble / t.snapshot.files.size
    // string dim prunes via the real string min/max stats of clustered files
    assert(frac(col("lang") === "en") < 0.6, s"lang slice read ${frac(col("lang") === "en")}")
    assert(frac(col("n") === 100) < 0.6, s"n slice read ${frac(col("n") === 100)}")
    // correctness: reorganization only
    assert(t.toDF.count() === 4096)
    assert(t.scan(col("lang") === "de" && col("n") === 5).collect()
      .map(_.getInt(0)).toSeq === Seq(5 * 8 + 1))
  }

  test("long-string stats truncate to 32 chars in the log; pruning stays sound") {
    import spark.implicits._
    // three files of 100-char strings with disjoint prefixes
    val mk = (p: String) => (0 until 20).map(i => (p.head - 'a') * 20 + i ->
      (p * 5 + f"$i%02d" + "x" * 88).take(100))
    val t = GraftTable.create(spark, tmpDir("skip-trunc-"),
      mk("aaaa").toDF("id", "t").coalesce(1))
    t.append(mk("mmmm").toDF("id", "t").coalesce(1))
    t.append(mk("zzzz").toDF("id", "t").coalesce(1))
    val files = t.snapshot.files
    // the log never carries the full 100-char values
    assert(files.forall(f => f.minValues("t").length <= 32 &&
      f.maxValues("t").length <= 32), "string stats must be truncated")
    // truncated max remains a strict upper bound for every row in the file
    val realMax = t.toDF.agg(max($"t")).head().getString(0)
    assert(files.map(_.maxValues("t")).max > realMax.take(32))
    // pruning still fires across disjoint prefixes...
    assert(t.prunedFiles(t.snapshot, $"t".startsWith("mmmm")).size == 1)
    assert(t.prunedFiles(t.snapshot, $"t" === ("mmmm" * 5 + "07" + "x" * 88).take(100)).size == 1)
    // ...and scan ≡ filter on equality, range, and prefix over long strings
    Seq($"t" === ("aaaa" * 5 + "03" + "x" * 88).take(100),
        $"t" > ("mmmm" * 8).take(32), $"t".startsWith("zzzz"),
        $"t" <= "b").foreach { pred =>
      assert(t.scan(pred).collect().map(_.getInt(0)).sorted.toSeq ==
        unpruned(t).filter(pred).collect().map(_.getInt(0)).sorted.toSeq, s"pred=$pred")
    }
    // a metadata-only MIN/MAX must refuse a possibly-truncated bound
    // (a prefix is not the extremum) but still serve exact numeric stats
    assert(t.metadataMinMax("t").isEmpty)
    assert(t.metadataMinMax("id").contains(("0", "519")))
  }

  test("null counts land in the log and prune IS NULL / IS NOT NULL") {
    import spark.implicits._
    val dir = tmpDir("skip-null-")
    // file 1: no nulls; file 2: all-null v; file 3: mixed
    val t = GraftTable.create(spark, dir,
      Seq((1, Some(10)), (2, Some(20))).toDF("id", "v").coalesce(1))
    t.append(Seq((3, None: Option[Int]), (4, None)).toDF("id", "v").coalesce(1))
    t.append(Seq((5, Some(50)), (6, None)).toDF("id", "v").coalesce(1))
    val files = t.snapshot.files
    assert(files.size == 3)
    assert(files.flatMap(_.nullCounts.get("v")).sorted == Seq(0L, 1L, 2L))
    // IS NULL skips the zero-null file; IS NOT NULL skips the all-null one
    assert(t.prunedFiles(t.snapshot, col("v").isNull).size == 2)
    assert(t.prunedFiles(t.snapshot, col("v").isNotNull).size == 2)
    // an all-null file can't match any comparison either
    assert(t.prunedFiles(t.snapshot, col("v") > 0).size == 2)
    // correctness: scan ≡ filter on all three shapes
    Seq(col("v").isNull, col("v").isNotNull, col("v") > 15).foreach { p =>
      assert(t.scan(p).collect().map(_.getInt(0)).sorted.toSeq ==
        unpruned(t).filter(p).collect().map(_.getInt(0)).sorted.toSeq, s"pred=$p")
    }
    // null counts survive the parquet checkpoint round-trip
    t.setProperty("checkpoint.format", "parquet")
    (1 to 10).foreach(i => t.append(Seq((100 + i, Some(i))).toDF("id", "v")))
    val reloaded = GraftTable.forPath(spark, dir)
    assert(reloaded.snapshot.files.flatMap(_.nullCounts.get("v")).count(_ > 0) == 2)
    assert(reloaded.prunedFiles(reloaded.snapshot, col("v").isNull).size == 2)
  }

  test("SET NOT NULL validates from stats alone when footers prove zero nulls") {
    import spark.implicits._
    val dir = tmpDir("skip-nn-")
    val t = GraftTable.create(spark, dir,
      Seq((1, Some(10)), (2, Some(20))).toDF("id", "v"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      t.setNullability("v", nullable = false)
      Thread.sleep(500) // let any (unexpected) job-start events drain
      assert(jobs.get() == 0,
        s"stats prove zero nulls — SET NOT NULL must not launch a scan (${jobs.get()} jobs)")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!t.snapshot.schema("v").nullable)
  }

  test("stats-column cap: first N schema columns + partition column, nothing else") {
    import spark.implicits._
    val dir = tmpDir("skip-cap-")
    // 40 value columns + a partition column at the END of the schema: past
    // the default cap of 32, so only the always-kept rule can index it
    val wide = spark.range(0, 20).select(
      (col("id") % 2).cast("string").as("p") +:
        (0 until 40).map(i => (col("id") * (i + 1)).as(s"c$i")): _*)
    val t = GraftTable.create(spark, dir,
      wide.select((0 until 40).map(i => col(s"c$i")) :+ col("p"): _*),
      partitionBy = Seq("p"))
    val f = t.snapshot.files.head
    val statCols = f.minValues.keySet
    // exactly the first 32 schema columns; c32..c39 dropped
    assert(statCols === (0 until 32).map(i => s"c$i").toSet,
      s"default cap must keep the first 32 schema columns, got $statCols")
    assert(f.nullCounts.keySet === statCols)
    // pruning on an indexed column still fires; an un-indexed predicate
    // keeps every file (conservative — never mis-prunes)
    assert(t.prunedFiles(t.snapshot, col("c0") > 1000L).isEmpty)
    assert(t.prunedFiles(t.snapshot, col("c39") > 1000L).size ===
      t.snapshot.files.size)
    // ... and the un-indexed predicate still answers correctly via scan
    assert(t.scan(col("c39") > 1000L).count() ===
      unpruned(t).filter(col("c39") > 1000L).count())
  }

  test("stats-column cap: property-tunable, 0 keeps none, -1 keeps all; checkpoint intact") {
    import spark.implicits._
    val dir = tmpDir("skip-cap2-")
    val df3 = spark.range(0, 10).select(col("id").as("a"),
      (col("id") * 2).as("b"), (col("id") * 3).as("c"))
    val t = GraftTable.create(spark, dir, df3.limit(0))
    t.setProperty(FileOps.NumIndexedColsProp, "1")
    t.append(df3)
    assert(t.snapshot.files.last.minValues.keySet === Set("a"))
    t.setProperty(FileOps.NumIndexedColsProp, "-1")
    t.append(df3)
    assert(t.snapshot.files.last.minValues.keySet === Set("a", "b", "c"))
    t.setProperty(FileOps.NumIndexedColsProp, "0")
    t.append(df3)
    assert(t.snapshot.files.last.minValues.isEmpty)
    // capped stats survive a checkpoint-seeded fold unchanged
    t.setProperty("checkpoint.format", "parquet")
    (1 to 10).foreach(_ => t.append(df3.limit(1)))
    val reloaded = GraftTable.forPath(spark, dir)
    val byKeys = reloaded.snapshot.files.map(_.minValues.keySet)
    assert(byKeys.contains(Set("a")) && byKeys.contains(Set("a", "b", "c")))
    assert(reloaded.toDF.count() === 40L)
  }

  test("stats-column cap never caps an identity column: appends keep advancing the frontier") {
    import spark.implicits._
    val dir = tmpDir("skip-cap-identity-")
    // identity column LAST in the schema and a cap of 1: without the
    // always-keep rule its max stat would be stripped from the log and
    // IdentityColumns.bumpedProps would refuse every subsequent append
    val seed = spark.range(0, 5).select(col("id").as("a"), (col("id") * 2).as("b"))
    val t = GraftTable.create(spark, dir, seed, identity = Map("rid" -> (1L, 1L)))
    t.setProperty(FileOps.NumIndexedColsProp, "1")
    t.append(seed)
    t.append(seed) // the second append re-reads the frontier the first advanced
    val f = t.snapshot.files.last
    assert(f.minValues.keySet === Set("a", "rid"),
      s"identity column must survive the cap, got ${f.minValues.keySet}")
    val rids = t.toDF.select("rid").collect().map(_.getLong(0))
    assert(rids.length === 15 && rids.distinct.length === 15,
      "identity values must stay unique across capped appends")
  }
}
