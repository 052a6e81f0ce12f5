package graft.table

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Write-path soundness under concurrency and stat anomalies:
  *   - concurrent writers on an INT96-defaulted session all write INT64
  *     micros with footer stats: each write carries TIMESTAMP_MICROS in its
  *     own Hadoop conf and the session conf is never flipped (an INT96
  *     file has no footer stats, so no time-based data skipping);
  *   - an identity append whose file lacks the max footer stat fails
  *     loudly instead of silently re-issuing ids from a stale frontier;
  *   - symlink manifests are replaced atomically (old or new listing,
  *     never missing), with stale partitions pruned after the swap.
  */
class WriteSoundnessSpec extends SparkTestBase {
  private val TsKey = "spark.sql.parquet.outputTimestampType"

  test("concurrent writes on an INT96-defaulted session all emit micros + ts stats") {
    import spark.implicits._
    val prev = spark.conf.get(TsKey)
    spark.conf.set(TsKey, "INT96")
    try {
      val n = 8
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      val results = (0 until n).map { i =>
        pool.submit(() => {
          start.await()
          val dir = tmpDir(s"ws-micros-$i-")
          // stagger so some writers enter while others are restoring
          Thread.sleep(i * 3L)
          val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
                       (2L, java.sql.Timestamp.valueOf("2024-06-01 00:00:00")))
            .toDF("id", "ts")
          FileOps.writeDataFiles(df.repartition(2), dir)
        })
      }
      start.countDown()
      val adds = results.flatMap(_.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      assert(adds.nonEmpty)
      // INT96 carries no footer min/max — a stat on ts proves every file
      // was written as INT64 micros regardless of interleaving
      adds.foreach { a =>
        assert(a.maxValues.contains("ts"),
          s"file ${a.path} lost its ts footer stat (INT96 leak)")
      }
      // last writer out restored the session default
      assert(spark.conf.get(TsKey) == "INT96")
    } finally spark.conf.set(TsKey, prev)
  }

  test("identity frontier bump refuses a data file with rows but no max stat") {
    val meta = new MetadataBuilder()
      .putLong(IdentityColumns.StartKey, 100L)
      .putLong(IdentityColumns.StepKey, 1L).build()
    val schema = StructType(Seq(
      StructField("row_id", LongType, nullable = false, meta),
      StructField("name", StringType)))
    val statless = AddFile("f1.parquet", 10L, 0L, numRecords = 5L,
      minValues = Map.empty, maxValues = Map("name" -> "zz"))
    val ex = intercept[IllegalArgumentException] {
      IdentityColumns.bumpedProps(Map.empty, schema, Seq(statless))
    }
    assert(ex.getMessage.contains("row_id"))
    // zero-row files and stat-carrying files still bump normally
    val ok = AddFile("f2.parquet", 10L, 0L, numRecords = 3L,
      minValues = Map("row_id" -> "101"), maxValues = Map("row_id" -> "103"))
    val bumped = IdentityColumns.bumpedProps(Map.empty, schema, Seq(ok))
    assert(bumped.get(IdentityColumns.hwmKey("row_id")).contains("103"))
  }

  test("manifest regeneration swaps atomically and prunes dropped partitions") {
    import spark.implicits._
    val dir = tmpDir("ws-manifest-")
    val t = GraftTable.create(spark,
      dir, Seq(("a", 1), ("b", 2)).toDF("k", "v"), partitionBy = Seq("k"))
    assert(t.generateManifest() == 2)
    val manifestA = Paths.get(dir, "_symlink_format_manifest", "k=a", "manifest")
    assert(Files.isRegularFile(manifestA))
    // drop partition b entirely; regenerate — a's manifest refreshes in
    // place, b's directory is pruned, and no temp debris remains
    t.delete(col("k") === "b")
    assert(t.generateManifest() == 1)
    assert(Files.isRegularFile(manifestA))
    assert(!Files.exists(Paths.get(dir, "_symlink_format_manifest", "k=b")))
    val debris = Files.walk(Paths.get(dir, "_symlink_format_manifest"))
      .iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (debris.hasNext) names += debris.next().getFileName.toString
    assert(!names.exists(_.endsWith(".tmp")), s"temp debris left: $names")
  }

  test("COPY INTO accepts uppercase format and gates before ingesting") {
    import spark.implicits._
    val dir = tmpDir("ws-copy-")
    val src = tmpDir("ws-copy-src-")
    Files.writeString(Paths.get(src, "a.json"),
      """{"id":1,"name":"x"}""" + "\n" + """{"id":2,"name":"y"}""" + "\n")
    val t = GraftTable.create(spark, dir,
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("id", LongType), StructField("name", StringType)))))
    assert(t.copyInto(src, "JSONL") == 2L)
    assert(t.toDF.count() == 2L)
    // idempotent under the normalized key too
    assert(t.copyInto(src, "jsonl") == 0L)
  }
}
