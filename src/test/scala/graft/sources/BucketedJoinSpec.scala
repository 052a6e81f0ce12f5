package graft.sources

import graft.SparkTestBase
import graft.table.{Bucketing, GraftTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hash-bucketed storage-partitioned joins: two tables bucketed
  * `bucket(N, col)` on the SAME column type and N join exchange-free on a
  * HIGH-CARDINALITY key — the co-location Hive partitioning cannot give
  * (one dir per key value is unaffordable for document/user ids). The
  * key-grouped scan reports the bucket transform; GraftCatalog (a
  * FunctionCatalog) serves the bucket function, so this works through
  * CATALOG tables (Spark resolves the transform against the relation's
  * function catalog — path-based reads fall back to the V1-equivalent
  * shuffle plan, result-identical). */
class BucketedJoinSpec extends SparkTestBase {

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.flatMap(Option(_)) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def executed(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private lazy val (pathA, pathB): (String, String) = {
    import spark.implicits._
    GraftCatalog.register(spark, tmpDir("bucket-wh-"), name = "bkt")
    val docs = graft.Tables.documents(spark, sfDir)
    val pa = tmpDir("bucket-a-") + "/t"
    val pb = tmpDir("bucket-b-") + "/t"
    GraftTable.create(spark, pa,
      docs.select($"doc_id", $"lang", $"n_chars"),
      bucketBy = Some(("doc_id", 8)))
    GraftTable.create(spark, pb,
      docs.select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens")),
      bucketBy = Some(("doc_id", 8)))
    spark.sql(s"CREATE TABLE bkt.default.a USING graft LOCATION '$pa'")
    spark.sql(s"CREATE TABLE bkt.default.b USING graft LOCATION '$pb'")
    (pa, pb)
  }
  private def catalogReady: Unit = { val _ = (pathA, pathB) }

  test("bucketed fact-fact join on a high-cardinality key: zero shuffle through the catalog") {
    catalogReady
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(
        """SELECT x.doc_id, x.lang, x.n_chars, y.n_tokens
          |FROM bkt.default.a x JOIN bkt.default.b y ON x.doc_id = y.doc_id""".stripMargin)
      val p = executed(df)
      assert(!p.contains("Exchange"),
        s"bucketed SPJ join must not shuffle:\n${p.take(2000)}")
      assert(p.contains("SortMergeJoin"), "expected a co-located sort-merge join")
      assert(p.contains("BatchScan"), "both sides must plan the key-grouped scan")
    }
  }

  test("SQL front door: PARTITIONED BY (bucket(8, doc_id)) creates, inserts, joins exchange-free") {
    catalogReady
    spark.sql(
      """CREATE TABLE bkt.default.c (doc_id BIGINT, score DOUBLE)
        |USING graft PARTITIONED BY (bucket(8, doc_id))""".stripMargin)
    spark.sql(
      """INSERT INTO bkt.default.c
        |SELECT doc_id, CAST(doc_id % 100 AS DOUBLE) / 100.0 FROM bkt.default.a""".stripMargin)
    // physical layout: every file sits in a hidden __bucket dir
    val t = spark.sql("SELECT doc_id FROM bkt.default.c")
    assert(t.count() === spark.table("bkt.default.a").count())
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val p = executed(spark.sql(
        """SELECT x.doc_id, x.n_chars, y.score
          |FROM bkt.default.a x JOIN bkt.default.c y ON x.doc_id = y.doc_id""".stripMargin))
      assert(!p.contains("Exchange"),
        s"SQL-declared bucket table must SPJ-join:\n${p.take(2000)}")
    }
  }

  test("result parity: bucketed catalog join == plain shuffle join, row for row") {
    catalogReady
    import spark.implicits._
    def rows(df: DataFrame): Array[(Long, Long)] =
      df.select($"doc_id", $"n_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    val viaCatalog = rows(spark.sql(
      "SELECT x.doc_id, y.n_tokens FROM bkt.default.a x JOIN bkt.default.b y ON x.doc_id = y.doc_id"))
    // path-based reads carry no function catalog: the bucket transform is
    // unresolvable there, so the plan falls back to an ordinary shuffle
    // join — results must be identical either way
    val viaPath = rows(
      spark.read.format("graft").load(pathA).as("x")
        .join(spark.read.format("graft").load(pathB).as("y"), Seq("doc_id")))
    assert(viaCatalog.sameElements(viaPath))
  }

  test("DML preserves bucket purity: rewritten files stay in their hash bucket") {
    catalogReady
    import spark.implicits._
    val p = tmpDir("bucket-dml-") + "/t"
    val docs = graft.Tables.documents(spark, sfDir).select($"doc_id", $"n_chars")
    val t = GraftTable.create(spark, p, docs, bucketBy = Some(("doc_id", 4)))
    t.delete($"doc_id" % 5 === 0)
    t.append(docs.filter($"doc_id" % 5 === 0).withColumn("n_chars", $"n_chars" + 1))
    val s = t.snapshot
    assert(s.files.nonEmpty)
    s.files.foreach { f =>
      val declared = f.partitionValues(Bucketing.BucketCol).toInt
      val distinct = spark.read.parquet(s"$p/${f.path}")
        .select(Bucketing.idExpr("doc_id", 4).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(distinct == Seq(declared),
        s"file ${f.path} declares bucket $declared but holds $distinct")
    }
    // the count survives the round trip (delete + re-append flipped values)
    assert(t.toDF.count() === docs.count())
  }

  test("declaration-time refusals: retyping, bucket==partition col, post-create flips") {
    import spark.implicits._
    val df = Seq((1L, "a", 0.5)).toDF("id", "s", "d")
    // bucketing the PARTITION column is redundant-and-wrong; a different
    // partition column composes (dedicated test below)
    intercept[IllegalArgumentException](GraftTable.create(spark,
      tmpDir("bucket-bad1-") + "/t", df,
      partitionBy = Seq("id"), bucketBy = Some(("id", 4))))
    intercept[IllegalArgumentException](GraftTable.create(spark,
      tmpDir("bucket-bad2-") + "/t", df, bucketBy = Some(("d", 4))))
    intercept[IllegalArgumentException](GraftTable.create(spark,
      tmpDir("bucket-bad3-") + "/t", df, bucketBy = Some(("nope", 4))))
    val t = GraftTable.create(spark, tmpDir("bucket-ok-") + "/t", df)
    intercept[IllegalArgumentException](t.setProperty(Bucketing.ColumnProp, "id"))
    // UNSET is guarded too: silently de-bucketing would leave old files
    // in __bucket dirs and new writes outside them — a half-bucketed
    // layout with no rewrite
    val tb = GraftTable.create(spark, tmpDir("bucket-unset-") + "/t", df,
      bucketBy = Some(("id", 4)))
    intercept[IllegalArgumentException](tb.removeProperty(Bucketing.ColumnProp))
    intercept[IllegalArgumentException](tb.removeProperty(Bucketing.CountProp))
    // a seed frame carrying STRAY mapping metadata (read from a mapped
    // source) must not pin stale physical names on the new table
    import org.apache.spark.sql.types.MetadataBuilder
    val mappedSeedSchema = org.apache.spark.sql.types.StructType(df.schema.fields.map(f =>
      f.copy(metadata = new MetadataBuilder()
        .putString("graft.physicalName", s"col-stale-${f.name}").build())))
    val mappedSeed = spark.createDataFrame(df.collectAsList(), mappedSeedSchema)
    val tc = GraftTable.create(spark, tmpDir("bucket-stray-") + "/t", mappedSeed,
      bucketBy = Some(("id", 4)))
    assert(Bucketing.spec(tc.snapshot.metaData) === Some(("id", 4)))
    assert(tc.toDF.collect().map(_.getLong(0)).toSeq === Seq(1L),
      "stray source mapping metadata must not misbind the new table's reads")
  }

  test("bucketing composes with Hive partitioning: day-partitioned bucketed pair joins exchange-free") {
    catalogReady
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val pc = tmpDir("bucket-part-a-") + "/t"
    val pd = tmpDir("bucket-part-b-") + "/t"
    GraftTable.create(spark, pc, docs.select($"doc_id", $"lang", $"n_chars"),
      partitionBy = Seq("lang"), bucketBy = Some(("doc_id", 8)))
    GraftTable.create(spark, pd,
      docs.select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_tokens")),
      partitionBy = Seq("lang"), bucketBy = Some(("doc_id", 8)))
    // physical layout: hidden __bucket dirs NEST inside the partition dirs
    val t = GraftTable.forPath(spark, pc)
    t.snapshot.files.foreach { f =>
      assert(f.partitionValues.contains("lang") &&
        f.partitionValues.contains(Bucketing.BucketCol),
        s"file ${f.path} must carry both the partition and bucket values")
      assert(f.path.matches("lang=[^/]+/__bucket=\\d+/.*"),
        s"expected lang=../__bucket=../ nesting, got ${f.path}")
    }
    // V1 read: the hidden dir must NOT leak into the schema, values intact
    assert(t.toDF.columns.toSeq === Seq("doc_id", "lang", "n_chars"))
    assert(t.toDF.count() === docs.count())
    // DML purity through the rewrite chokepoint
    t.delete($"doc_id" % 11 === 3)
    t.snapshot.files.foreach { f =>
      val declared = f.partitionValues(Bucketing.BucketCol).toInt
      val held = spark.read.parquet(s"$pc/${f.path}")
        .select(Bucketing.idExpr("doc_id", 8).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(held == Seq(declared),
        s"rewritten ${f.path} declares bucket $declared but holds $held")
    }
    // SPJ: both transforms report (identity(lang), bucket(8, doc_id)) and
    // the fact-fact join on (lang, doc_id) plans ZERO exchange
    spark.sql(s"CREATE TABLE bkt.default.pa USING graft LOCATION '$pc'")
    spark.sql(s"CREATE TABLE bkt.default.pb USING graft LOCATION '$pd'")
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(
        """SELECT x.doc_id, x.lang, x.n_chars, y.n_tokens
          |FROM bkt.default.pa x JOIN bkt.default.pb y
          |ON x.doc_id = y.doc_id AND x.lang = y.lang""".stripMargin)
      val p = executed(df)
      assert(!p.contains("Exchange"),
        s"partitioned+bucketed join must not shuffle:\n${p.take(2000)}")
      // correctness vs the plain shuffle join over raw parquet
      val expect = docs.select($"doc_id", $"lang").count()
      assert(df.count() >= expect - docs.filter($"doc_id" % 11 === 3).count())
    }
  }

  test("bucketing composes with column mapping: RENAME of the bucket column keeps the layout live") {
    catalogReady
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir).select($"doc_id", $"n_chars")
    val p = tmpDir("bucket-cmap-") + "/t"
    val t = GraftTable.create(spark, p, docs, bucketBy = Some(("doc_id", 4)))
    t.setProperty("columnMapping.mode", "name")
    t.renameColumn("doc_id", "document_id")
    // spec resolves the stored (physical) name to the CURRENT logical one
    assert(Bucketing.spec(t.snapshot.metaData) === Some(("document_id", 4)))
    // DML purity through the mapped write path: the bucket id computes on
    // the renamed logical column, files land in their __bucket dirs
    t.delete($"document_id" % 9 === 2)
    t.append(docs.filter($"doc_id" % 9 === 2)
      .withColumnRenamed("doc_id", "document_id"))
    val s = t.snapshot
    assert(s.files.nonEmpty)
    s.files.foreach { f =>
      assert(f.partitionValues.contains(Bucketing.BucketCol),
        s"mapped rewrite ${f.path} lost its bucket id")
      val declared = f.partitionValues(Bucketing.BucketCol).toInt
      // files spell the PHYSICAL column name (pre-mapping: doc_id)
      val held = spark.read.parquet(s"$p/${f.path}")
        .select(Bucketing.idExpr("doc_id", 4).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(held == Seq(declared),
        s"file ${f.path} declares bucket $declared but holds $held")
    }
    assert(t.toDF.count() === docs.count())
    // point lookups still bucket-prune on the renamed column
    val someId = t.toDF.select($"document_id").head.getLong(0)
    val pruned = t.prunedFiles(s, $"document_id" === someId)
    val want = Bucketing.bucketOfValue(someId,
      org.apache.spark.sql.types.LongType, 4).get
    assert(pruned.nonEmpty && pruned.forall(
      _.partitionValues(Bucketing.BucketCol).toInt == want))
    assert(pruned.size < s.files.size, "bucket pruning must drop files")
    // the bucket column cannot be dropped out from under the layout
    val e = intercept[IllegalArgumentException](t.dropColumn("document_id"))
    assert(e.getMessage.contains("bucket"))
    // SPJ: a mapped+renamed bucketed pair still joins exchange-free
    val p2 = tmpDir("bucket-cmap2-") + "/t"
    GraftTable.create(spark, p2,
      docs.toDF("document_id", "nc2"), bucketBy = Some(("document_id", 4)))
    spark.sql(s"CREATE TABLE bkt.default.cm1 USING graft LOCATION '$p'")
    spark.sql(s"CREATE TABLE bkt.default.cm2 USING graft LOCATION '$p2'")
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val plan = executed(spark.sql(
        """SELECT x.document_id, y.nc2 FROM bkt.default.cm1 x
          |JOIN bkt.default.cm2 y ON x.document_id = y.document_id""".stripMargin))
      assert(!plan.contains("Exchange"),
        s"mapped bucketed join must not shuffle:\n${plan.take(2000)}")
    }
  }

  test("optimize(rebucketTo): full rewrite swaps the layout in ONE commit; time travel below intact") {
    catalogReady
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir).select($"doc_id", $"n_chars")
    val p = tmpDir("bucket-rebkt-") + "/t"
    val t = GraftTable.create(spark, p, docs, bucketBy = Some(("doc_id", 4)))
    t.delete($"doc_id" % 13 === 1)
    val preVersion = t.latestVersion
    val preRows = t.toDF.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // rebucket 4 → 16: one commit, every file rewritten, properties swap
    t.optimize(rebucketTo = Some(("doc_id", 16)))
    assert(t.latestVersion === preVersion + 1, "rebucket is ONE commit")
    val s = t.snapshot
    assert(Bucketing.spec(s.metaData) === Some(("doc_id", 16)))
    s.files.foreach { f =>
      val declared = f.partitionValues(Bucketing.BucketCol).toInt
      val held = spark.read.parquet(s"$p/${f.path}")
        .select(Bucketing.idExpr("doc_id", 16).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(held == Seq(declared),
        s"rebucketed ${f.path} declares bucket $declared under N=16 but holds $held")
    }
    // rows identical; history below the rebucket folds the OLD layout
    assert(t.toDF.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === preRows)
    val old = t.snapshotAt(preVersion)
    assert(Bucketing.spec(old.metaData) === Some(("doc_id", 4)))
    assert(t.versionAsOf(preVersion).count() === preRows.size.toLong)
    // SPJ plans on the NEW layout (joins b: bucket(8) ≠ bucket(16) would
    // shuffle, so join a 16-bucket twin)
    val p2 = tmpDir("bucket-rebkt2-") + "/t"
    GraftTable.create(spark, p2,
      docs.withColumnRenamed("n_chars", "nc2"), bucketBy = Some(("doc_id", 16)))
    spark.sql(s"CREATE TABLE bkt.default.r16 USING graft LOCATION '$p'")
    spark.sql(s"CREATE TABLE bkt.default.s16 USING graft LOCATION '$p2'")
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val plan = executed(spark.sql(
        """SELECT x.doc_id, y.nc2 FROM bkt.default.r16 x
          |JOIN bkt.default.s16 y ON x.doc_id = y.doc_id""".stripMargin))
      assert(!plan.contains("Exchange"),
        s"post-rebucket SPJ join must not shuffle:\n${plan.take(2000)}")
    }
    // rebucketTo composes with nothing else (standalone full rewrite)
    intercept[IllegalArgumentException](
      t.optimize(zorderBy = Seq("doc_id"), rebucketTo = Some(("doc_id", 8))))
    // SQL front door: the same rewrite through CALL ... optimize
    spark.sql(
      "CALL bkt.system.optimize(`table` => 'default.r16', rebucket_to => 'doc_id,8')")
    val t3 = GraftTable.forPath(spark, p)
    assert(Bucketing.spec(t3.snapshot.metaData) === Some(("doc_id", 8)))
    assert(t3.toDF.count() === preRows.size.toLong)
  }

  test("a rebucket commit is invisible to table streams (pure reorganization)") {
    import spark.implicits._
    val p = tmpDir("bucket-rebkt-stream-") + "/t"
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars").limit(60)
    val t = GraftTable.create(spark, p, docs, bucketBy = Some(("doc_id", 4)))
    t.append(docs.withColumn("doc_id", $"doc_id" + 1000000L))
    t.optimize(rebucketTo = Some(("doc_id", 8)))
    // replay the WHOLE history: the rebucket commit must contribute zero
    // rows — every row serves exactly once despite the full rewrite
    val q = spark.readStream.format("graft")
      .option("startingVersion", "0").load(p)
      .writeStream.format("memory").queryName("rebkt_stream")
      .option("checkpointLocation", tmpDir("bucket-rebkt-stream-ckpt-"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("rebkt_stream").select($"doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val want = t.toDF.select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want,
      s"stream must serve each row exactly once across the rebucket " +
        s"(got ${got.size} rows, want ${want.size})")
  }

  test("maintenance preserves bucketing: OPTIMIZE compacts within buckets, COPY INTO buckets") {
    catalogReady
    import spark.implicits._
    val p = tmpDir("bucket-opt-") + "/t"
    val docs = graft.Tables.documents(spark, sfDir).select($"doc_id", $"n_chars")
    val t = GraftTable.create(spark, p, docs.limit(0), bucketBy = Some(("doc_id", 4)))
    // many small appends → many small files per bucket
    (0 until 4).foreach(i => t.append(docs.filter($"doc_id" % 4 === i)))
    val before = t.snapshot.files.size
    t.optimize(targetFileBytes = 128L * 1024 * 1024)
    val s = t.snapshot
    assert(s.files.size < before, "compaction must shrink the file count")
    s.files.foreach { f =>
      val declared = f.partitionValues(Bucketing.BucketCol).toInt
      val held = spark.read.parquet(s"$p/${f.path}")
        .select(Bucketing.idExpr("doc_id", 4).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(held == Seq(declared),
        s"OPTIMIZE output ${f.path} declares bucket $declared but holds $held")
    }
    assert(t.toDF.count() === docs.count())
    // COPY INTO lands bucketed too (it rewrites through the chokepoint)
    val land = tmpDir("bucket-land-")
    docs.limit(7).coalesce(1).write.mode("overwrite").parquet(land)
    assert(t.copyInto(land) === 7L)
    assert(t.snapshot.files.forall(
      _.partitionValues.contains(Bucketing.BucketCol)))
  }

  test("point lookups bucket-prune: WHERE doc_id = v scans only bucket(v)'s files") {
    catalogReady
    import spark.implicits._
    val t = GraftTable.forPath(spark, pathA)
    val s = t.snapshot
    val buckets = s.files.flatMap(_.partitionValues.get(Bucketing.BucketCol)).distinct
    assert(buckets.size > 1, "fixture must span several buckets")
    val someId = t.toDF.select($"doc_id").head.getLong(0)
    val pruned = t.prunedFiles(s, $"doc_id" === someId)
    val wantBucket = Bucketing.bucketOfValue(someId,
      org.apache.spark.sql.types.LongType, 8).get
    assert(pruned.nonEmpty && pruned.forall(
        _.partitionValues(Bucketing.BucketCol).toInt == wantBucket),
      s"survivors must all sit in bucket $wantBucket")
    assert(pruned.size < s.files.size, "pruning must actually drop files")
    // IN probes prune to the union of the probed buckets; results exact
    val ids = t.toDF.select($"doc_id").limit(3).collect().map(_.getLong(0))
    val prunedIn = t.prunedFiles(s, $"doc_id".isin(ids: _*))
    val wantIn = ids.flatMap(Bucketing.bucketOfValue(_,
      org.apache.spark.sql.types.LongType, 8)).toSet
    assert(prunedIn.forall(f =>
      wantIn.contains(f.partitionValues(Bucketing.BucketCol).toInt)))
    assert(t.scan($"doc_id" === someId).count() ===
      t.toDF.filter($"doc_id" === someId).count(), "scan ≡ filter")
  }

  test("SQL UPDATE/MERGE rewrites preserve the hidden bucket layout (DSv2 writer path)") {
    catalogReady
    import spark.implicits._
    // fresh tables: this test MUTATES, the shared fixtures must stay stable
    val docs = graft.Tables.documents(spark, sfDir)
    val pu = tmpDir("bucket-upd-") + "/t"
    GraftTable.create(spark, pu, docs.select($"doc_id", $"lang", $"n_chars"),
      bucketBy = Some(("doc_id", 8)))
    spark.sql(s"CREATE TABLE bkt.default.upd USING graft LOCATION '$pu'")
    // the SQL UPDATE and MERGE rewrite files through the table layer's
    // writer — a rewritten file outside its __bucket dir would make every
    // future scan silently fall back to the V1 shuffle plan
    spark.sql("UPDATE bkt.default.upd SET n_chars = n_chars + 1 WHERE doc_id % 7 = 0")
    spark.sql(
      """MERGE INTO bkt.default.upd t USING (SELECT 1L AS doc_id, 999L AS nc) s
        |ON t.doc_id = s.doc_id WHEN MATCHED THEN UPDATE SET n_chars = s.nc""".stripMargin)
    val t = GraftTable.forPath(spark, pu)
    val s = t.snapshot
    assert(s.files.nonEmpty)
    s.files.foreach { f =>
      assert(f.partitionValues.contains(Bucketing.BucketCol),
        s"rewritten file ${f.path} lost its bucket id — SPJ silently dead")
      val declared = f.partitionValues(Bucketing.BucketCol).toInt
      val distinct = spark.read.parquet(s"$pu/${f.path}")
        .select(Bucketing.idExpr("doc_id", 8).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(distinct == Seq(declared),
        s"file ${f.path} declares bucket $declared but holds $distinct")
    }
    // the rewrite took effect AND the bucketed join stays exchange-free
    assert(spark.sql("SELECT n_chars FROM bkt.default.upd WHERE doc_id = 1")
      .head.getLong(0) === 999L)
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val p = executed(spark.sql(
        """SELECT x.doc_id, y.n_tokens FROM bkt.default.upd x
          |JOIN bkt.default.b y ON x.doc_id = y.doc_id""".stripMargin))
      assert(!p.contains("Exchange"),
        s"post-UPDATE bucketed join must stay shuffle-free:\n${p.take(2000)}")
    }
  }

  test("TIMESTAMP bucket keys: a time-keyed fact-fact pair joins exchange-free; DATE point lookups prune") {
    import spark.implicits._
    // timestamp keys hash their internal micros through the same Murmur3
    // as the int/long/string keys — the SPJ proof (canonicalName per
    // value type) and the write layout agree by construction (round 15)
    GraftCatalog.register(spark, tmpDir("bucket-ts-wh-"), name = "bktts")
    val ev = graft.Tables.events(spark, sfDir).select($"event_id", $"ts", $"value")
    val pa = tmpDir("bucket-ts-a-") + "/t"
    val pb = tmpDir("bucket-ts-b-") + "/t"
    GraftTable.create(spark, pa, ev.select($"ts", $"event_id"),
      bucketBy = Some(("ts", 4)))
    GraftTable.create(spark, pb, ev.select($"ts", $"value"),
      bucketBy = Some(("ts", 4)))
    spark.sql(s"CREATE TABLE bktts.default.ta USING graft LOCATION '$pa'")
    spark.sql(s"CREATE TABLE bktts.default.tb USING graft LOCATION '$pb'")
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(
        """SELECT x.ts, x.event_id, y.value
          |FROM bktts.default.ta x JOIN bktts.default.tb y ON x.ts = y.ts""".stripMargin)
      val p = executed(df)
      assert(!p.contains("Exchange"),
        s"timestamp-bucketed SPJ join must not shuffle:\n${p.take(2000)}")
      assert(p.contains("SortMergeJoin"), "expected a co-located sort-merge join")
    }
    // DATE bucket key: an equality probe scans only bucket(v)'s files
    val dated = ev.select(to_date($"ts").as("d"), $"event_id")
    val t = GraftTable.create(spark, tmpDir("bucket-date-") + "/t",
      dated, bucketBy = Some(("d", 4)))
    val s = t.snapshot
    val probe = dated.select($"d").distinct().limit(1).collect()(0).getDate(0)
    val kept = t.prunedFiles(s, $"d" === lit(probe))
    assert(kept.size < s.files.size,
      s"date point lookup must bucket-prune: kept ${kept.size}/${s.files.size}")
    assert(t.scan($"d" === lit(probe)).count() ===
      dated.filter($"d" === lit(probe)).count())
  }

  test("the bucket function itself is SQL-callable and matches the write-side layout") {
    catalogReady
    import spark.implicits._
    val got = spark.sql("SELECT doc_id, bkt.bucket(8, doc_id) AS b FROM bkt.default.a")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = spark.table("bkt.default.a")
      .select($"doc_id", Bucketing.idExpr("doc_id", 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === want, "V2 bucket function must equal pmod(hash(col), n)")
  }
}
