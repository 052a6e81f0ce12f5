package graft.table

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** CLONE semantics: a shallow clone is metadata-only (zero data copied),
  * equals the source at clone time, evolves independently, and can never
  * mutate or vacuum away the source's files. */
class CloneSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: (Int, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (i, v) => Row(i, v) }.asJava, schema)

  private def ids(d: DataFrame): Set[Int] = d.collect().map(_.getInt(0)).toSet

  test("shallow clone: zero data files copied, content equal at clone time") {
    val src = GraftTable.create(spark, tmpDir("clone-src-"), df((1, "a"), (2, "b"), (3, "c")))
    val dest = tmpDir("clone-dst-")
    val c = src.cloneTo(dest)
    assert(ids(c.toDF) === Set(1, 2, 3))
    // metadata-only: no parquet under the clone directory
    val copied = java.nio.file.Files.walk(java.nio.file.Paths.get(dest))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    assert(copied === 0, "shallow clone must not copy data files")
    assert(c.history().head().getString(2) === "CLONE")
  }

  test("clone evolves independently; source never mutates") {
    val srcDir = tmpDir("clone-src-")
    val src = GraftTable.create(spark, srcDir, df((1, "a"), (2, "b"), (3, "c")))
    val c = src.cloneTo(tmpDir("clone-dst-"))
    c.append(df((4, "d")))
    c.delete(col("id") === 1)
    assert(ids(c.toDF) === Set(2, 3, 4))
    assert(ids(src.toDF) === Set(1, 2, 3), "source must be untouched by clone DML")
    // and the other direction: source DML is invisible to the clone
    src.delete(col("id") === 2)
    assert(ids(src.toDF) === Set(1, 3))
    assert(ids(c.toDF) === Set(2, 3, 4),
      "clone snapshot must pin the files it referenced at clone time")
  }

  test("vacuum on the clone never deletes source files") {
    val src = GraftTable.create(spark, tmpDir("clone-src-"), df((1, "a"), (2, "b")))
    val c = src.cloneTo(tmpDir("clone-dst-"))
    // rewrite everything in the clone so the source refs become unreferenced
    c.delete(col("id") === 1)
    c.optimize(targetFileBytes = 1024 * 1024)
    c.setProperty("vacuum.retentionDurationCheck", "false")
    assert(c.vacuum(retentionMs = 0) >= 0)
    assert(ids(src.toDF) === Set(1, 2), "source data must survive clone vacuum")
    assert(ids(c.toDF) === Set(2))
  }

  test("deep clone copies files; bloom/constraint properties carry over") {
    val src = GraftTable.create(spark, tmpDir("clone-src-"),
      df((1, "a"), (2, "b")), bloomFilterOn = Seq("id"))
    src.addConstraint("pos", "id > 0")
    val dest = tmpDir("clone-dst-")
    val c = src.cloneTo(dest, shallow = false)
    val copied = java.nio.file.Files.walk(java.nio.file.Paths.get(dest))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    assert(copied > 0, "deep clone must copy data files")
    assert(ids(c.toDF) === Set(1, 2))
    assert(GraftTable.bloomColumns(c.snapshot.metaData) === Seq("id"))
    val ex = intercept[Exception] { c.append(df((-5, "x"))) }
    def msgs(th: Throwable): Seq[String] =
      if (th == null) Nil else Option(th.getMessage).toSeq ++ msgs(th.getCause)
    assert(msgs(ex).exists(_.contains("pos")),
      s"carried constraint must reject the write: ${msgs(ex).mkString(" | ")}")
  }

  test("shallow clone of a PARTITIONED table: partition columns reconstitute from the log") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmpDir("clone-psrc-"),
      df((1, "a"), (2, "b"), (3, "a"), (4, "b"), (5, "c")), partitionBy = Seq("v"))
    val dest = tmpDir("clone-pdst-")
    val c = src.cloneTo(dest)
    // zero data copied; partition VALUES served from the log, not basePath
    val copied = java.nio.file.Files.walk(java.nio.file.Paths.get(dest))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    assert(copied === 0, "shallow partitioned clone must copy zero data files")
    assert(c.toDF.collect().map(r => r.getInt(0) -> r.getString(1)).toSet ===
      Set(1 -> "a", 2 -> "b", 3 -> "a", 4 -> "b", 5 -> "c"))
    assert(c.toDF.columns.toSeq === Seq("id", "v"), "schema order preserved")
    // partition pruning still works off the clone's AddFile values
    assert(c.scan($"v" === "a").count() === 2L)
    // the clone evolves independently: DML mixes escaped + local files
    c.delete($"id" === 1)
    c.append(df((10, "a"), (11, "d")))
    assert(c.toDF.collect().map(r => r.getInt(0) -> r.getString(1)).toSet ===
      Set(2 -> "b", 3 -> "a", 4 -> "b", 5 -> "c", 10 -> "a", 11 -> "d"))
    assert(ids(src.toDF) === Set(1, 2, 3, 4, 5), "the source never mutates")
    // deep clone of a partitioned table still works
    val d = src.cloneTo(tmpDir("clone-pdeep-"), shallow = false)
    assert(ids(d.toDF) === Set(1, 2, 3, 4, 5))
  }

  test("shallow partitioned clone plans ONE parquet leaf at 100+ partition combos") {
    import spark.implicits._
    // 120 distinct partition values: the round-14 union-per-combo read
    // would plan 120 scan legs here — the flattened read must plan ONE
    // parquet leaf whose partition values come from the log, the shape
    // that keeps driver-side planning constant when a 100-TB clone
    // carries thousands of partitions.
    val rows = (1 to 400).map(i => (i, f"p${i % 120}%03d"))
    val src = GraftTable.create(spark, tmpDir("clone-wide-src-"),
      df(rows: _*), partitionBy = Seq("v"))
    val c = src.cloneTo(tmpDir("clone-wide-dst-"))
    val scan = c.toDF
    val plan = scan.queryExecution.executedPlan.toString
    val leaves = "FileScan parquet".r.findAllIn(plan).size
    assert(leaves === 1,
      s"escaped-file scan must plan one parquet leaf, got $leaves:\n${plan.take(2000)}")
    assert(!plan.contains("Join"),
      s"partition values must come from the log, not a join:\n${plan.take(2000)}")
    // value parity: every row lands in its declared partition
    assert(scan.count() === 400L)
    assert(scan.groupBy($"v").count().count() === 120L)
    assert(c.scan($"v" === "p005").collect().map(_.getInt(0)).toSet ===
      rows.filter(_._2 == "p005").map(_._1).toSet)
    // and DML over the wide clone keeps provenance intact
    c.delete($"v" === "p007")
    assert(c.toDF.count() === rows.count(_._2 != "p007").toLong)
  }

  test("shallow clone of a CONVERTED layout: same-named files in different partitions stay distinct") {
    import spark.implicits._
    // converted/foreign layouts commonly hold one "part-00000..." per
    // partition dir — each escaped file must take its own partition values,
    // never a same-named twin's (a basename key multiplied every row by
    // its name-collision count)
    val src = tmpDir("clone-conv-src-")
    val stage = tmpDir("clone-conv-stage-")
    Seq((1, "x")).toDF("id", "payload").coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).head
    (0 until 6).foreach { i =>
      val d = java.nio.file.Paths.get(src, s"p=v$i")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        d.resolve("part-00000-c000.parquet"))
    }
    val t = GraftTable.convert(spark, src)
    val c = t.cloneTo(tmpDir("clone-conv-dst-"))
    assert(c.toDF.count() === 6L,
      "every same-named file must contribute exactly its own rows")
    assert(c.toDF.select($"p").distinct().count() === 6L)
    assert(c.scan($"p" === "v3").count() === 1L)
  }

  test("shallow partitioned clone of a DV table: merge-on-read rides the grouped scan") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmpDir("clone-dvsrc-"),
      df((1 to 8).map(i => (i, if (i % 2 == 0) "e" else "o")): _*),
      partitionBy = Seq("v"))
    src.setProperty("deletionVectors.enabled", "true")
    src.delete($"id".isin(2, 3)) // tombstones via DV sidecars
    val c = src.cloneTo(tmpDir("clone-dvdst-"))
    // the DV filter's provenance columns attach inside the clone's one
    // scan leaf — tombstoned rows stay dead
    assert(ids(c.toDF) === Set(1, 4, 5, 6, 7, 8))
    // and the provenance-carrying DML path works on the clone too
    c.delete($"id" === 5)
    assert(ids(c.toDF) === Set(1, 4, 6, 7, 8))
  }
}
