package graft.table

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every read is planned from the log: building a frame at any version
  * lists no directory and runs no Spark job, and a filter on it prunes
  * files by partition values and stats when Spark plans the scan — never
  * changing a row. */
class ReadPathSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** Files the scans of an executed frame read, from their `numFiles`. */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The same filter over the version's rows with no file pruning at all. */
  private def unpruned(t: GraftTable, v: Long, pred: Column): Seq[String] = {
    val all = t.versionAsOf(v)
    rows(spark.createDataFrame(java.util.Arrays.asList(all.collect(): _*), all.schema)
      .filter(pred))
  }

  private def clustered(n: Int, files: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i, s"s${i % 37}", if (i % 5 == 0) null else Seq("a", "b", "c")(i % 3)))
      .toDF("id", "s", "p").repartitionByRange(files, $"id")
  }

  test("building toDF, versionAsOf and timestampAsOf over 40 files starts no Spark job") {
    val t = GraftTable.create(spark, tmpDir("rp-jobs-"), clustered(4000, 40))
    t.append(clustered(400, 4).withColumn("id", col("id") + 4000))
    val ts = new Timestamp(System.currentTimeMillis())
    assert(t.snapshotAt(0).files.size === 40)
    val dv = GraftTable.create(spark, tmpDir("rp-jobs-dv-"), clustered(4000, 40))
    dv.setProperty("deletionVectors.enabled", "true")
    dv.delete(col("id") % 10 === 3)
    assert(dv.snapshot.files.count(_.dvPath.isDefined) > 32)
    val n = jobsDuring {
      t.toDF
      t.versionAsOf(0)
      t.timestampAsOf(ts)
      t.versionAsOf(1).filter(col("id") > 10)
      dv.toDF
    }
    assert(n === 0, s"building the frames started $n Spark job(s)")
  }

  test("a filtered read of a multi-file DV table plans no join and runs one Spark job") {
    val t = GraftTable.create(spark, tmpDir("rp-dv-read-"), clustered(4000, 40))
    t.setProperty("deletionVectors.enabled", "true")
    t.delete(col("id") % 10 === 3)
    t.delete(col("id") === 1204)
    assert(t.snapshot.files.count(_.dvPath.isDefined) > 32)
    val pred = col("id").between(1100, 1400)
    val df = t.toDF.filter(pred)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"),
      s"tombstones must drop inside the scan, not through a join:\n$plan")
    var got: Seq[String] = Nil
    val n = jobsDuring { got = rows(df) }
    assert(n === 1, s"the read ran $n Spark jobs")
    assert(got === unpruned(t, t.latestVersion, pred))
    assert(got.size === 301 - 30 - 1)
  }

  test("versionAsOf(v).filter(pred) scans only the files whose stats survive") {
    val t = GraftTable.create(spark, tmpDir("rp-prune-"), clustered(800, 8))
    t.append(clustered(200, 2).withColumn("id", col("id") + 800))
    t.delete(col("id") < 50)
    val pred = col("id").between(120, 190)
    val s1 = t.snapshotAt(1)
    val kept = t.prunedFiles(s1, pred)
    assert(kept.size < s1.files.size)
    val df = t.versionAsOf(1).filter(pred)
    assert(scannedFiles(df) === kept.size)
    assert(rows(df) === unpruned(t, 1, pred))
    // a long IN list (the optimizer's InSet) prunes too
    val keys = (300 until 320) ++ (905 until 915)
    val in = col("id").isin(keys: _*)
    assert(scannedFiles(t.versionAsOf(1).filter(in)) === t.prunedFiles(s1, in).size)
    assert(t.prunedFiles(s1, in).size < s1.files.size)
  }

  test("a partition predicate stats cannot decide still filters exactly") {
    val t = GraftTable.create(spark, tmpDir("rp-part-"), clustered(600, 3),
      partitionBy = Seq("p"))
    val pred = upper(col("p")) === "A"
    val df = t.toDF.filter(pred)
    assert(rows(df) === unpruned(t, 0, pred))
    assert(df.collect().forall(_.getAs[String]("p") == "a"))
    // evaluated on each file's partition row: only the p = 'a' files scan
    assert(scannedFiles(t.toDF.filter(pred)) ===
      t.snapshot.files.count(_.partitionValues.get("p").contains("a")))
    val nulls = t.toDF.filter(col("p").isNull)
    assert(rows(nulls) === unpruned(t, 0, col("p").isNull))
    assert(nulls.count() === 120)
  }

  test("partition columns keep their schema position") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("rp-order-"),
      Seq((1, "a", 2.0), (2, "b", 3.0)).toDF("id", "p", "x"), partitionBy = Seq("p"))
    t.append(Seq((3, "a", 4.0)).toDF("id", "p", "x"))
    Seq(t.toDF, t.versionAsOf(0), t.scan(col("p") === "a")).foreach(df =>
      assert(df.columns.toSeq === Seq("id", "p", "x")))
    assert(t.scan(col("p") === "a").collect().map(_.toString).sorted.toSeq ===
      Seq("[1,a,2.0]", "[3,a,4.0]"))
  }

  test("a read of a vacuumed version still throws") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("rp-vac-"),
      Seq((1, "a"), (2, "b")).toDF("id", "s").coalesce(1))
    t.delete("id = 1")
    t.setProperty("vacuum.retentionDurationCheck", "false")
    assert(t.vacuum(retainVersions = 0, retentionMs = 0) === 1)
    intercept[Exception](t.versionAsOf(0).collect())
    intercept[Exception](t.versionAsOf(0).filter(col("id") > 0).collect())
    assert(t.toDF.collect().map(_.getInt(0)).toSeq === Seq(2))
  }

  /** Tables with several versions, each read with its own column names. */
  private def fixtures(): Seq[(String, GraftTable)] = {
    val plain = GraftTable.create(spark, tmpDir("rp-plain-"), clustered(600, 6))
    plain.append(clustered(100, 2).withColumn("id", col("id") + 600))
    plain.delete(col("id") % 7 === 0 && col("id") < 300)
    plain.update(col("id").between(100, 150), Map("s" -> "'upd'"))

    val part = GraftTable.create(spark, tmpDir("rp-partn-"), clustered(600, 4),
      partitionBy = Seq("p"))
    part.append(clustered(100, 2).withColumn("id", col("id") + 600))
    part.delete(col("p") === "b" && col("id") < 200)
    part.update(col("p").isNull && col("id") > 500, Map("s" -> "'upd'"))

    val named = GraftTable.create(spark, tmpDir("rp-name-"), clustered(600, 6))
    named.setProperty("columnMapping.mode", "name")
    named.renameColumn("s", "label")
    named.append(clustered(100, 2).withColumn("id", col("id") + 600)
      .withColumnRenamed("s", "label"))
    named.delete(col("id") > 550 && col("id") < 620)

    val dv = GraftTable.create(spark, tmpDir("rp-dv-"), clustered(600, 6))
    dv.setProperty("deletionVectors.enabled", "true")
    dv.delete(col("id") % 4 === 1)
    dv.update(col("id").between(200, 260), Map("s" -> "'upd'"))
    dv.delete(col("p") === "c" && col("id") < 400)

    val src = GraftTable.create(spark, tmpDir("rp-clsrc-"), clustered(600, 4),
      partitionBy = Seq("p"))
    val clone = src.cloneTo(tmpDir("rp-clone-"))
    clone.append(clustered(100, 2).withColumn("id", col("id") + 600))
    clone.delete(col("id") < 100)
    src.delete(col("id") > 300) // the source moves on; the clone must not

    Seq("plain" -> plain, "partitioned" -> part, "name-mapped" -> named,
      "id-mapped" -> idMapped(), "deletion-vectors" -> dv, "shallow-clone" -> clone)
  }

  /** An id-mode column-mapped table: a foreign Delta table whose only
    * file binds columns by field id, adopted, then written by graft. */
  private def idMapped(): GraftTable = {
    val dir = tmpDir("rp-idmap-")
    val fileSchema = StructType(Seq(
      StructField("x1", IntegerType, nullable = true,
        metadata = new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("x2", StringType, nullable = true,
        metadata = new MetadataBuilder().putLong("parquet.field.id", 2L).build()),
      StructField("x3", StringType, nullable = true,
        metadata = new MetadataBuilder().putLong("parquet.field.id", 3L).build())))
    val stage = tmpDir("rp-idmap-stage-")
    val idWrites = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    try spark.createDataFrame(clustered(300, 1).rdd, fileSchema).coalesce(1)
      .write.mode("overwrite").parquet(stage)
    finally idWrites match {
      case Some(v) => spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
      case None => spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
    }
    val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val target = Paths.get(dir, "part-00000-id.parquet")
    Files.move(Paths.get(part), target)
    def field(logical: String, id: Long, dt: DataType) =
      StructField(logical, dt, nullable = true, metadata = new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", s"col-$id")
        .putLong("delta.columnMapping.id", id).build())
    val schema = StructType(Seq(field("id", 1L, IntegerType),
      field("s", 2L, StringType), field("p", 3L, StringType)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve(f"${0}%020d.json"), Seq(
      """{"commitInfo":{"timestamp":1619112345000,"operation":"WRITE","operationParameters":{},"isBlindAppend":true,"operationMetrics":{}}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"rp-idmap","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"3"},"createdTime":1619112344000}}""",
      s"""{"add":{"path":"part-00000-id.parquet","partitionValues":{},"size":${Files.size(target)},"modificationTime":${Files.getLastModifiedTime(target).toMillis},"dataChange":true,"stats":"{\\"numRecords\\":300,\\"minValues\\":{},\\"maxValues\\":{},\\"nullCount\\":{}}"}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val t = GraftTable.adoptDelta(spark, dir)
    t.append(clustered(300, 3).withColumn("id", col("id") + 300))
    t.delete(col("id").between(350, 420))
    t
  }

  test("a seeded predicate mix reads the same rows as an unpruned read at every version") {
    val rnd = new scala.util.Random(20261019)
    fixtures().foreach { case (name, t) =>
      (0L to t.latestVersion).foreach { v =>
        val schema = t.snapshotAt(v).schema
        val str = col(schema.fields(1).name) // "s", or "label" once renamed
        val p = col("p")
        (1 to 6).foreach { _ =>
          val a = rnd.between(-50, 760)
          val b = rnd.between(-50, 760)
          val preds = Seq(
            col("id") === a,
            col("id") > a,
            col("id") <= a && col("id") >= b,
            col("id").between(a, a + 40),
            col("id").isin(a, b, a + 1),
            col("id").isin((a until a + 15) :+ b: _*),
            str === s"s${math.abs(a) % 37}",
            str.startsWith("s1") && col("id") < b,
            col("id") === a || col("id") === b,
            p === "a" && col("id") > a,
            p.isin("a", "c"),
            p.isNull,
            p.isNotNull && col("id") < a,
            upper(p) === "B",
            coalesce(p, lit("z")) === "z" || col("id") === a)
          val pred = preds(rnd.nextInt(preds.size))
          assert(rows(t.versionAsOf(v).filter(pred)) === unpruned(t, v, pred),
            s"$name@v$v: $pred")
        }
      }
    }
  }
}
