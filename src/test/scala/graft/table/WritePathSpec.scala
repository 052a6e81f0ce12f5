package graft.table

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one data-file writer ([[DataFileWriter]]): files land at their
  * final names from the task with the stats of their own footers, no
  * output-committer or staging debris is left in the table, a failed
  * write leaves the table as it was, partitioned writes roll one file per
  * value, and every write path spells null and "" partition values as
  * the batch write does (read back as null). */
class WritePathSpec extends SparkTestBase {
  import spark.implicits._

  private val TsKey = "spark.sql.parquet.outputTimestampType"

  private def walk(root: String): Seq[Path] = {
    val st = Files.walk(Paths.get(root))
    try st.iterator().asScala.toList finally st.close()
  }

  private def files(root: String): Set[String] =
    walk(root).filter(Files.isRegularFile(_)).map(_.toString).toSet

  test("writer stats equal a footer re-read of the same file, on an INT96-defaulted session") {
    val prev = spark.conf.get(TsKey)
    spark.conf.set(TsKey, "INT96")
    try {
      val long = "a-string-well-over-thirty-two-characters-long-"
      val schema = StructType(Seq(
        StructField("i", IntegerType), StructField("l", LongType),
        StructField("d", DoubleType), StructField("day", DateType),
        StructField("s", StringType), StructField("ts", TimestampType),
        StructField("p", StringType)))
      val rows = (0 until 60).map { n =>
        def orNull[A](a: A): Any = if (n % 7 == 3) null else a
        Row(orNull(n - 30), orNull(n.toLong * 1000003L), orNull((n - 20) * 0.5),
          orNull(java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(n))),
          orNull(long + (60 - n)),
          java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 3, 1, 0, 0).plusHours(n)),
          Seq("x", "y", "z")(n % 3))
      }
      val df = spark.createDataFrame(rows.asJava, schema)
      val dir = tmpDir("wp-stats-")
      val adds = FileOps.writeDataFiles(df.repartition(3), dir) ++
        FileOps.writeDataFiles(df.repartition(2), dir, Seq("p"))
      assert(adds.size == 3 + 6)
      adds.foreach { a =>
        val file = Paths.get(dir, a.path)
        val (rows, mins, maxs, nulls) = FileOps.footerStats(file)
        assert((a.numRecords, a.minValues, a.maxValues, a.nullCounts) == (rows, mins, maxs, nulls),
          s"stats of ${a.path}")
        assert(a.size == Files.size(file))
        assert(a.maxValues.contains("ts"), s"${a.path}: timestamps must land as INT64 micros")
        Seq("i", "l", "d", "day", "s").foreach(c => assert(a.minValues.contains(c), s"$c of ${a.path}"))
      }
      assert(adds.exists(_.nullCounts.get("i").exists(_ > 0)))
      assert(adds.forall(_.maxValues("s").length == FileOps.StatsTruncateLen))
      assert(spark.conf.get(TsKey) == "INT96", "the session conf is never flipped")
    } finally spark.conf.set(TsKey, prev)
  }

  test("append, merge, delete, CDC, DV, a streaming epoch and a checkpoint leave no committer or staging debris") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("wp-debris-")
    val t = GraftTable.create(spark, dir,
      (1 to 20).map(i => (i, s"v$i", i % 3)).toDF("id", "v", "p"), partitionBy = Seq("p"))
    t.setProperty("changeDataFeed.enabled", "true")
    t.setProperty("checkpoint.format", "parquet")
    t.append(Seq((21, "a", 0)).toDF("id", "v", "p"))
    t.merge(Seq((2, "m", 2), (30, "n", 1)).toDF("id", "v", "p"), "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "v" -> "s.v", "p" -> "s.p"))
      .execute()
    t.delete(col("id") === 3)
    t.setProperty("deletionVectors.enabled", "true")
    t.delete(col("id") === 4)
    val input = MemoryStream[(Int, String, Int)]
    val q = input.toDF().toDF("id", "v", "p").writeStream.format("graft")
      .option("path", dir)
      .option("checkpointLocation", tmpDir("wp-debris-ckpt-"))
      .start()
    try {
      input.addData((40, "s", 1), (41, "s", 2))
      q.processAllAvailable()
    } finally q.stop()
    t.append(Seq((42, "b", 1)).toDF("id", "v", "p"))
    t.append(Seq((43, "c", 2)).toDF("id", "v", "p"))
    assert(t.snapshot.version == 10)
    val all = walk(dir)
    val debris = all.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(".staging") || n.contains("_temporary") || n == "_SUCCESS" || n.endsWith(".crc")
    }
    assert(debris.isEmpty, s"debris: ${debris.mkString(", ")}")
    assert(all.exists(_.toString.contains("/_cdc/cdc-")))
    assert(all.exists(_.getFileName.toString.matches("deletion_vector_[-0-9a-f]{36}\\.bin")))
    assert(all.exists(_.getFileName.toString.endsWith(".checkpoint.parquet")))
    assert(t.toDF.count() == 24)
  }

  test("the session codec, bloom.columns and a Hadoop page-size override reach every written file") {
    implicit val sqlCtx = spark.sqlContext
    val codecKey = "spark.sql.parquet.compression.codec"
    val prevCodec = spark.conf.getOption(codecKey)
    val hadoop = spark.sparkContext.hadoopConfiguration
    val prevPage = Option(hadoop.get("parquet.page.size"))
    spark.conf.set(codecKey, "zstd")
    hadoop.set("parquet.page.size", "1024")
    try {
      val dir = tmpDir("wp-conf-")
      val rows = (n: Int, from: Long) => (from until from + n).map(i => (i, s"v$i"))
      val t = GraftTable.create(spark, dir, Seq.empty[(Long, String)].toDF("id", "v"))
      t.setProperty("bloom.columns", "id")
      t.setProperty("changeDataFeed.enabled", "true")
      t.append(rows(8000, 0).toDF("id", "v").coalesce(1))
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("id", "v").writeStream.format("graft")
        .option("path", dir)
        .option("checkpointLocation", tmpDir("wp-conf-ckpt-"))
        .start()
      try {
        input.addData(rows(4000, 10000): _*)
        q.processAllAvailable()
      } finally q.stop()
      t.delete(col("id") < 4000)
      val log = t.log.readVersion(t.snapshot.version)
      val cdc = log.collect { case c: CdcFile => c.path }
      assert(cdc.size == 1, s"one CDC sidecar: $log")
      val data = t.snapshot.files.map(_.path)
      assert(data.size == 2, s"the streamed file and the DELETE's rewrite: $data")
      /** (codec, bloom filter present, page count) of column `id`. */
      def footer(rel: String): (org.apache.parquet.hadoop.metadata.CompressionCodecName, Boolean, Int) = {
        val r = FileOps.openParquet(Paths.get(dir, rel))
        try {
          val blocks = r.getFooter.getBlocks.asScala
          assert(blocks.size == 1, rel)
          val id = blocks.head.getColumns.asScala.find(_.getPath.toDotString == "id").get
          (id.getCodec, r.readBloomFilter(id) != null, r.readOffsetIndex(id).getPageCount)
        } finally r.close()
      }
      (data ++ cdc).foreach { f =>
        val (codec, bloom, pages) = footer(f)
        assert(codec == org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD, f)
        assert(pages > 1, s"$f: 1 KB pages over 4,000 rows")
        // CDC sidecars carry no bloom filters, data files always do
        assert(bloom == !f.startsWith("_cdc/"), f)
      }
      // the batch append's file (removed by the DELETE) was written the same way
      val appended = t.log.readVersion(3).collect { case a: AddFile => a.path }
      assert(appended.size == 1)
      assert(footer(appended.head)._2 && footer(appended.head)._3 > 1)
    } finally {
      prevCodec.fold(spark.conf.unset(codecKey))(spark.conf.set(codecKey, _))
      prevPage.fold(hadoop.unset("parquet.page.size"))(hadoop.set("parquet.page.size", _))
    }
  }

  test("a write whose last task violates NOT NULL leaves the version and the file listing unchanged") {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false), StructField("v", StringType)))
    val dir = tmpDir("wp-notnull-")
    val t = GraftTable.create(spark, dir,
      spark.createDataFrame(java.util.List.of(Row(0, "z")), schema))
    val version = t.snapshot.version
    val listing = files(dir)
    // the violating row comes last in the last task, after the other
    // tasks have written (and finished) their files
    val late = udf { (i: Long) => if (i == 39) Thread.sleep(1500); i }
    val bad = spark.range(0, 40, 1, 4)
      .select(when(late(col("id")) === 39, lit(null)).otherwise(col("id")).cast("int").as("id"),
        lit("x").as("v"))
    val e = intercept[Exception](t.append(bad))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.toString.contains("NOT NULL")), e.toString)
    assert(GraftTable.forPath(spark, dir).snapshot.version == version)
    assert(files(dir) == listing, s"new files: ${files(dir) -- listing}")
  }

  test("a one-task partitioned write over N values yields N files") {
    val n = 12
    val dir = tmpDir("wp-roll-")
    // values interleave row by row: without the per-task sort every row
    // would start a new file
    val df = spark.range(0, 240, 1, 4).select(col("id"), (col("id") % n).as("p")).coalesce(1)
    val adds = FileOps.writeDataFiles(df, dir, Seq("p"))
    assert(adds.size == n)
    assert(adds.map(_.partitionValues("p")).toSet == (0 until n).map(_.toString).toSet)
    assert(adds.map(_.numRecords).sum == 240)
  }

  private def partitionedCases: Seq[(String, String)] = Seq("int" -> "pi", "string" -> "ps")

  /** Rows with null and "" in both candidate partition columns. */
  private val nullRows = Seq((1, Option(1), Option("a")), (2, None, None), (3, Option(5), Option("")))

  private def expected(partCol: String): Set[(Int, Option[Int], Option[String])] =
    nullRows.map { case (id, pi, ps) =>
      (id, pi, if (partCol == "ps") ps.filter(_.nonEmpty) else ps) }.toSet

  private def state(d: DataFrame): Set[(Int, Option[Int], Option[String])] =
    d.select("id", "pi", "ps").collect().map(r =>
      (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Int]), Option(r.getString(2)))).toSet

  for ((kind, partCol) <- partitionedCases)
    test(s"the streaming sink spells null and empty $kind partition values as batch writes do") {
      implicit val sqlCtx = spark.sqlContext
      val dir = tmpDir(s"wp-null-sink-$kind-")
      val schema = StructType(Seq(StructField("id", IntegerType),
        StructField("pi", IntegerType), StructField("ps", StringType)))
      GraftTable.create(spark, dir, spark.createDataFrame(java.util.List.of[Row](), schema),
        partitionBy = Seq(partCol))
      val input = MemoryStream[(Int, Option[Int], Option[String])]
      val q = input.toDF().toDF("id", "pi", "ps").writeStream.format("graft")
        .option("path", dir)
        .option("checkpointLocation", tmpDir(s"wp-null-sink-$kind-ckpt-"))
        .start()
      try {
        input.addData(nullRows: _*)
        q.processAllAvailable()
      } finally q.stop()
      val t = GraftTable.forPath(spark, dir)
      assert(state(t.toDF) == expected(partCol))
      assert(t.snapshot.files.map(_.partitionValues(partCol)).toSet
        .contains("__HIVE_DEFAULT_PARTITION__"))
    }

  for ((kind, partCol) <- partitionedCases)
    test(s"SQL UPDATE spells null and empty $kind partition values as batch writes do") {
      val wh = tmpDir(s"wp-null-upd-$kind-")
      graft.sources.GraftCatalog.register(spark, wh, name = s"wpcat_$kind")
      val name = s"wpcat_$kind.default.t"
      spark.sql(s"CREATE TABLE $name (id INT, pi INT, ps STRING) USING graft PARTITIONED BY ($partCol)")
      spark.sql(s"INSERT INTO $name VALUES (1, 1, 'a'), (2, 7, 'b'), (3, 5, 'c')")
      spark.sql(s"UPDATE $name SET pi = NULL, ps = NULL WHERE id = 2")
      spark.sql(s"UPDATE $name SET ps = '' WHERE id = 3")
      assert(state(spark.table(name)) == expected(partCol))
    }
}
