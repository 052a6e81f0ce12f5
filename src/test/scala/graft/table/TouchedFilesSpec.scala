package graft.table

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.roaringbitmap.RoaringBitmap

/** The row-level ops' touched-file pass ([[TouchedFiles]]): the Spark jobs
  * a small DML runs, the duplicate-match guard wherever the join puts the
  * copies of a target row, and the job descriptions of an op's phases. */
class TouchedFilesSpec extends SparkTestBase {
  import spark.implicits._

  /** 4,000 rows, ids 0 until 4000, in 4 files of 1,000 consecutive ids. */
  private def fourFiles(prefix: String): GraftTable = {
    val t = GraftTable.create(spark, tmpDir(prefix),
      spark.range(0, 4000).select(col("id"), concat(lit("v"), col("id")).as("v"))
        .repartitionByRange(4, col("id")))
    assert(t.snapshot.files.size === 4)
    t
  }

  /** 80 matches in the first file, 20 inserts: the in-memory API upsert. */
  private def upsertSource: DataFrame =
    ((0L until 80L).map(i => (i, s"u$i")) ++ (10000L until 10020L).map(i => (i, s"n$i")))
      .toDF("id", "v")

  private def upsert(t: GraftTable, src: DataFrame): Unit =
    t.merge(src, "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "v" -> "s.v"))
      .execute()

  private def filesUnder(root: String): Set[String] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
    finally walk.close()
  }

  private def bits(ps: Int*): RoaringBitmap = RoaringBitmap.bitmapOf(ps: _*)

  test("two tasks' matched bitmaps sharing one position are a duplicate match") {
    val one = TouchedFiles.combine(Iterator(
      TouchedFiles.Fold("f", bits(1, 2), bits(1, 2), duplicate = false),
      TouchedFiles.Fold("f", bits(2, 3), bits(3), duplicate = false),
      TouchedFiles.Fold("g", bits(7), bits(7), duplicate = false)))
    assert(one("f").duplicate && !one("g").duplicate)
    val e = intercept[IllegalStateException](TouchedFiles.touched(one))
    assert(e.getMessage === TouchedFiles.DuplicateMatch)
    // disjoint positions across tasks: a file's positions are the ORed bitmaps
    val two = TouchedFiles.combine(Iterator(
      TouchedFiles.Fold("f", bits(1), bits(1), duplicate = false),
      TouchedFiles.Fold("f", bits(2), bits(2), duplicate = false),
      TouchedFiles.Fold("g", bits(5), bits(), duplicate = false)))
    assert(TouchedFiles.touched(two) === Map("f" -> bits(1, 2)),
      "a file with no affected row is left out")
    // a duplicate in a file with no affected row touches nothing
    assert(TouchedFiles.touched(Map("h" ->
      TouchedFiles.Fold("h", bits(4), bits(), duplicate = true))) === Map.empty)
  }

  test("MERGE: duplicate source rows in different partitions fail a sort-merge join") {
    val t = fourFiles("tf-smj-")
    val version = t.latestVersion
    val files = filesUnder(t.path)
    val dup = Seq((5L, "a"), (6L, "b"), (5L, "c"), (10000L, "d")).toDF("id", "v")
      .repartitionByRange(2, col("v"))
    assert(dup.rdd.map(_.getLong(0)).glom().collect().map(_.count(_ == 5L)).toSeq === Seq(1, 1),
      "one copy of id 5 in each of two partitions")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val e =
      try intercept[IllegalStateException](upsert(t, dup))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(e.getMessage === TouchedFiles.DuplicateMatch)
    assert(t.latestVersion === version, "a failed MERGE commits nothing")
    assert(filesUnder(t.path) === files, "a failed MERGE writes no file")
  }

  test("MERGE: a duplicated key fails with matched and NOT MATCHED BY SOURCE clauses") {
    val t = fourFiles("tf-nmbs-")
    val version = t.latestVersion
    val files = filesUnder(t.path)
    val e = intercept[IllegalStateException](
      t.merge(Seq((7L, "a"), (7L, "b"), (8L, "c")).toDF("id", "v"), "t.id = s.id")
        .whenMatchedUpdate(Map("v" -> "s.v"))
        .whenNotMatchedBySourceDelete("t.id >= 3990")
        .execute())
    assert(e.getMessage === TouchedFiles.DuplicateMatch)
    assert(t.latestVersion === version, "a failed MERGE commits nothing")
    assert(filesUnder(t.path) === files, "a failed MERGE writes no file")
  }

  test("a copy-on-write API upsert into one file runs at most 5 Spark jobs") {
    val t = fourFiles("tf-jobs-merge-")
    upsert(t, upsertSource) // warm
    val n = jobsDuring(upsert(t, upsertSource))
    assert(n <= 5, s"the upsert ran $n jobs")
    assert(t.toDF.count() === 4020)
    assert(t.toDF.filter(col("v").startsWith("u")).count() === 80)
  }

  test("a 20-id copy-on-write DELETE runs at most 2 Spark jobs") {
    val t = fourFiles("tf-jobs-delete-")
    t.delete(col("id").between(100, 119)) // warm
    val n = jobsDuring(assert(t.delete(col("id").between(2000, 2019)) === 20L))
    assert(n <= 2, s"the DELETE ran $n jobs")
    assert(t.toDF.count() === 3960)
  }

  /** [[fourFiles]] with deletion vectors on. */
  private def fourDvFiles(prefix: String): GraftTable = {
    val t = fourFiles(prefix)
    t.setProperty("deletionVectors.enabled", "true")
    t
  }

  test("a merge-on-read API upsert into one file runs at most 6 Spark jobs") {
    val t = fourDvFiles("tf-jobs-dv-merge-")
    upsert(t, upsertSource) // warm
    val n = jobsDuring(upsert(t, upsertSource))
    assert(n <= 6, s"the upsert ran $n jobs")
    assert(t.history().select("operationMetrics").head().getMap[String, String](0)
      .get("numDeletionVectors").exists(_.toInt > 0), "the upsert must tombstone")
    assert(t.toDF.count() === 4020)
    assert(t.toDF.filter(col("v").startsWith("u")).count() === 80)
  }

  test("a 20-id merge-on-read DELETE runs at most 1 Spark job") {
    val t = fourDvFiles("tf-jobs-dv-delete-")
    t.delete(col("id").between(100, 119)) // warm
    val n = jobsDuring(assert(t.delete(col("id").between(2000, 2019)) === 20L))
    assert(n <= 1, s"the DELETE ran $n jobs")
    assert(t.snapshot.files.count(_.dvPath.isDefined) === 2)
    assert(t.toDF.count() === 3960)
  }

  test("a 20-id merge-on-read DELETE into files that carry DVs runs at most 1 Spark job") {
    val t = fourDvFiles("tf-jobs-dv-redelete-")
    t.delete(col("id").between(100, 119) || col("id").between(1100, 1119))
    t.delete(col("id").between(120, 129) || col("id").between(1120, 1129)) // warm
    val n = jobsDuring(
      assert(t.delete(col("id").between(130, 139) || col("id").between(1130, 1139)) === 20L))
    assert(n <= 1, s"the DELETE ran $n jobs")
    assert(t.snapshot.files.map(_.dvCount).sum === 80)
    assert(t.toDF.count() === 3920 && t.metadataCount() === 3920)
  }

  test("an API MERGE's jobs are described by op, table, version and phase") {
    val t = fourFiles("tf-desc-")
    val v = t.latestVersion
    val sc = spark.sparkContext
    var restored: String = null
    val descs = jobPropertiesDuring {
      sc.setJobDescription("caller")
      upsert(t, upsertSource)
      restored = sc.getLocalProperty("spark.job.description")
    }.map(_.getProperty("spark.job.description"))
    assert(restored === "caller", "the caller's description is restored")
    val discover = s"graft MERGE ${t.path}@v$v discover"
    val write = s"graft MERGE ${t.path}@v$v write"
    assert(descs.contains(discover) && descs.contains(write), descs.mkString("\n"))
    assert(descs.forall(Set(discover, write)), descs.mkString("\n"))
  }
}
