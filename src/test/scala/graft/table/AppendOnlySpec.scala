package graft.table

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** `appendOnly = 'true'` (Delta's delta.appendOnly): committed rows are
  * immutable — DELETE / UPDATE / MERGE-with-modify / OVERWRITE / RESTORE
  * refuse, while appends, insert-only MERGE, OPTIMIZE, and metadata DDL
  * stay legal. The property rides the protocol as a writerFeature so a
  * foreign writer that predates it fails loudly instead of deleting. */
class AppendOnlySpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: (Int, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (i, v) => Row(i, v) }.asJava, schema)

  private def mk(): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("ao-"), df((1, "a"), (2, "b")))
    t.setProperty("appendOnly", "true")
    t
  }

  test("destructive operations refuse; appends and OPTIMIZE stay legal") {
    val t = mk()
    val v0 = t.latestVersion
    intercept[UnsupportedOperationException](t.delete(col("id") === 1))
    intercept[UnsupportedOperationException](
      t.update(col("id") === 1, Map("v" -> "'x'")))
    intercept[UnsupportedOperationException](t.overwrite(df((9, "z"))))
    intercept[UnsupportedOperationException](
      t.overwriteWhere(col("id") === 1, df((1, "z"))))
    intercept[UnsupportedOperationException](t.restore(0L))
    assert(t.latestVersion === v0, "no refused op may have committed")
    // append-shaped writes still work
    t.append(df((3, "c")))
    t.optimize(targetFileBytes = 128L * 1024 * 1024)
    assert(t.toDF.count() === 3)
  }

  test("MERGE: insert-only passes, update/delete clauses refuse") {
    val t = mk()
    t.merge(df((4, "d")), "t.id = s.id")
      .whenNotMatchedInsert(Map("id" -> "s.id", "v" -> "s.v"))
      .execute()
    assert(t.toDF.count() === 3)
    intercept[UnsupportedOperationException] {
      t.merge(df((1, "X")), "t.id = s.id")
        .whenMatchedUpdate(Map("v" -> "s.v"))
        .execute()
    }
    intercept[UnsupportedOperationException] {
      t.merge(df((1, "X")), "t.id = s.id").whenMatchedDelete().execute()
    }
  }

  test("REPLACE TABLE AS SELECT refuses on an append-only table") {
    val t = mk()
    intercept[UnsupportedOperationException] {
      t.commitReplaceTable(t.snapshot, Nil, t.snapshot.schema, Nil, Map.empty)
    }
    assert(t.toDF.count() === 2, "no rows may be dropped")
  }

  /** Commit a protocol naming a writer feature this build lacks. */
  private def addUnknownWriterFeature(t: GraftTable): Unit = {
    val p = t.snapshot.protocol
    val unknown = p.copy(writerFeatures = p.writerFeatures :+ "fromTheFuture")
    t.log.commit(t.latestVersion + 1, Seq(unknown,
      CommitInfo(t.latestVersion + 1, t.log.nextTimestamp(), "SET TBLPROPERTIES",
        Map.empty)))
  }

  test("writer feature gates foreign writers; UNSET is the escape hatch") {
    val t = mk()
    assert(t.snapshot.protocol.writerFeatures.contains("appendOnly"))
    // a build that predates the feature must refuse to write at all
    intercept[GraftProtocolException] {
      addUnknownWriterFeature(t)
      t.append(df((5, "e")))
    }
    // escape hatch on a fresh table: unset re-enables destructive writes
    val t2 = mk()
    t2.removeProperty("appendOnly")
    assert(t2.delete(col("id") === 1) === 1L)
    assert(t2.toDF.count() === 1)
  }

  test("writer feature gates DDL too") {
    val t = mk()
    addUnknownWriterFeature(t)
    val v = t.latestVersion
    intercept[GraftProtocolException](t.setProperty("some.prop", "x"))
    intercept[GraftProtocolException](t.addColumn("extra", StringType))
    assert(t.latestVersion === v, "a gated table must not be altered")
  }
}
