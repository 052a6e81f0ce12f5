package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Protocol feature gating, SetTransaction folding, the `_last_checkpoint`
  * pointer, and the vacuum retention guard — the round-6 log-layer
  * hardening (Delta-protocol shapes: Protocol action, txn action,
  * _last_checkpoint, vacuum file-age check). */
class ProtocolSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: (Int, String)*) =
    spark.createDataFrame(rows.map { case (i, s) => Row(i, s) }.asJava, schema)

  test("DROP FEATURE deletionVectors: purge-validated, checkpoint-protected, clean truncation") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("dropfeat-")
    val t = GraftTable.create(spark, dir, df((1, "a"), (2, "b"), (3, "c")))
    t.setProperty("deletionVectors.enabled", "true")
    t.delete(col("id") === 2)
    assert(t.snapshot.files.exists(_.dvPath.isDefined),
      "fixture needs a live DV to validate the purge gate")
    // live sidecars block the drop, naming the purge path
    val e = intercept[IllegalArgumentException](t.dropFeature("deletionVectors"))
    assert(e.getMessage.contains("OPTIMIZE"), e.getMessage)
    t.optimize()
    assert(t.snapshot.files.forall(_.dvPath.isEmpty))
    t.dropFeature("deletionVectors")
    val dropV = t.latestVersion
    val s = t.snapshot
    // the feature is gone from BOTH protocol sides; the protected-drop
    // machinery is in place
    assert(!s.protocol.readerFeatures.contains("deletionVectors") &&
      !s.protocol.writerFeatures.contains("deletionVectors"))
    assert(s.protocol.writerFeatures.contains("checkpointProtection"))
    assert(!s.metaData.properties.contains("deletionVectors.enabled"))
    assert(s.metaData.properties(
      "delta.requireCheckpointProtectionBeforeVersion").toLong === dropV)
    // the boundary checkpoint landed at the drop version
    assert(Files.exists(Paths.get(dir, "_delta_log",
        f"$dropV%020d.checkpoint.json")) ||
      Files.exists(Paths.get(dir, "_delta_log",
        f"$dropV%020d.checkpoint.parquet")),
      "the drop must write its protected boundary checkpoint")
    // post-drop DML runs copy-on-write (no DV sidecars ever again)
    t.delete(col("id") === 1)
    assert(t.snapshot.files.forall(_.dvPath.isEmpty))
    assert(t.toDF.collect().map(_.getInt(0)).toSet === Set(3))
    // cleanup: the ONLY legal truncation is to the drop boundary or above
    // — one atomic prune of the whole protected (DV-era) history
    t.cleanupExpiredLogs(retentionMs = 0)
    assert(t.log.earliestVersion >= dropV,
      s"cleanup must truncate at/above the protected version, at ${t.log.earliestVersion}")
    val fresh = GraftTable.forPath(spark, dir)
    assert(fresh.toDF.collect().map(_.getInt(0)).toSet === Set(3))
    // unsupported / inactive features refuse by name
    assert(intercept[IllegalArgumentException](
      t.dropFeature("rowTracking")).getMessage.contains("rowTracking"))
    assert(intercept[IllegalArgumentException](
      t.dropFeature("changeDataFeed")).getMessage.contains("not active"))
  }

  test("unknown reader feature fails loudly with a named error") {
    val t = GraftTable.create(spark, tmpDir("proto-"), df((1, "a")))
    // a future build committed a protocol requiring a feature we predate
    t.log.commit(1L, Seq(
      Protocol(3, 7, Seq("timeTravelV2Magic"), Seq("timeTravelV2Magic")),
      CommitInfo(1L, t.log.nextTimestamp(), "UPGRADE", Map.empty)))
    val e = intercept[GraftProtocolException](t.snapshot)
    assert(e.getMessage.contains("timeTravelV2Magic"))
    // version 0 predates the upgrade and still reads fine
    assert(t.versionAsOf(0).count() == 1)
  }

  test("supported features pass the gate and survive checkpoints") {
    val t = GraftTable.create(spark, tmpDir("proto-"), df((1, "a")))
    t.log.commit(1L, Seq(
      Protocol(2, 3, Seq("deletionVectors"), Seq("deletionVectors")),
      CommitInfo(1L, t.log.nextTimestamp(), "UPGRADE", Map.empty)))
    (2 to 10).foreach(i => t.append(df((i, s"v$i")))) // crosses checkpoint at 10
    assert(Files.exists(t.log.checkpointFile(10)) ||
      Files.exists(t.log.parquetCheckpointFile(10)))
    assert(t.snapshot.protocol.readerFeatures == Seq("deletionVectors"))
    assert(t.toDF.count() == 10)
  }

  test("txn actions fold into the snapshot and survive checkpoints") {
    val t = GraftTable.create(spark, tmpDir("txn-"), df((1, "a")))
    (0 until 12).foreach { epoch =>
      val adds = FileOps.writeDataFiles(df((100 + epoch, "s")), t.path)
      t.commitStreamingAppend(t.snapshot, adds, "queryA", epoch.toLong)
    }
    assert(t.snapshot.transactions.get("queryA").contains(11L))
    // checkpoint at v10 exists; a fresh log instance folds from it
    val fresh = new GraftLog(t.path)
    assert(fresh.snapshotAt(fresh.latestVersion).transactions("queryA") == 11L)
    // replayed (already committed) epoch resolves as a no-op guard hit
    assert(t.snapshot.transactions("queryA") >= 5L)
  }

  test("_last_checkpoint pointer: O(1) discovery, corruption falls back") {
    val t = GraftTable.create(spark, tmpDir("ptr-"), df((1, "a")))
    (2 to 12).foreach(i => t.append(df((i, s"v$i"))))
    val ptr = t.log.lastCheckpointFile
    assert(Files.isRegularFile(ptr), "_last_checkpoint written at checkpoint")
    assert(Files.readString(ptr).contains("\"version\":10"))
    val withPtr = t.snapshot
    // corrupt the pointer: snapshot resolution must fall back to listing
    Files.write(ptr, "garbage".getBytes(StandardCharsets.UTF_8))
    val fresh = new GraftLog(t.path)
    assert(fresh.latestVersion == withPtr.version)
    val without = fresh.snapshotAt(fresh.latestVersion)
    assert(without.files.map(_.path).toSet == withPtr.files.map(_.path).toSet)
    // delete it entirely: same answer
    Files.delete(ptr)
    assert(new GraftLog(t.path).latestVersion == withPtr.version)
  }

  test("reader-feature gate fires on the checkpoint-seed fast path too") {
    val t = GraftTable.create(spark, tmpDir("proto-cp-"), df((1, "a")))
    val snap0 = t.log.snapshotAt(0)
    val bad = Protocol(3, 7, Seq("v2CheckpointMagic"), Seq("v2CheckpointMagic"))
    t.log.commit(1L, Seq(bad,
      CommitInfo(1L, t.log.nextTimestamp(), "UPGRADE", Map.empty)))
    // a foreign/future writer checkpointed AT v1 and left the pointer —
    // snapshotAt(1) then returns the checkpoint seed directly (cp == v)
    // and must still be gated, not silently misread
    val lines = (bad +: snap0.metaData +: snap0.files).map(Actions.toJson)
    Files.write(t.log.checkpointFile(1),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(t.log.lastCheckpointFile,
      """{"version":1}""".getBytes(StandardCharsets.UTF_8))
    val fresh = new GraftLog(t.path)
    val e = intercept[GraftProtocolException](fresh.snapshotAt(1))
    assert(e.getMessage.contains("v2CheckpointMagic"))
  }

  test("streaming epoch guard falls back to commitInfo metrics on legacy tables") {
    val t = GraftTable.create(spark, tmpDir("legacy-txn-"), df((1, "a")))
    // a legacy streaming epoch: (txnAppId, epoch) recorded ONLY in
    // commitInfo operationMetrics — no Txn action (pre-round-6 format)
    val adds = FileOps.writeDataFiles(df((2, "b")), t.path)
    t.log.commit(1L, Seq(CommitInfo(1L, t.log.nextTimestamp(), "STREAMING UPDATE",
      Map("numOutputRows" -> "1", "txnAppId" -> "legacyQuery", "epoch" -> "7")) ) ++ adds)
    assert(t.snapshot.transactions.get("legacyQuery").isEmpty)
    val w = new graft.sources.GraftStreamingWrite(t, schema, "legacyQuery")
    // replaying epoch 7 after a restart must be skipped, not re-committed,
    // and its rewritten file deleted (an epoch without rows commits
    // nothing either way, so both epochs carry a file)
    val replayed = FileOps.writeDataFiles(df((2, "b")), t.path)
    w.commit(7L, Array(graft.sources.GraftWriteMessage(replayed)))
    assert(t.latestVersion == 1L, "replayed legacy epoch must not re-commit")
    assert(replayed.forall(a => !Files.exists(Paths.get(t.path, a.path))))
    // the next epoch commits normally and writes the Txn action
    w.commit(8L, Array(graft.sources.GraftWriteMessage(
      FileOps.writeDataFiles(df((3, "c")), t.path))))
    assert(t.latestVersion == 2L)
    assert(t.snapshot.transactions.get("legacyQuery").contains(8L))
  }

  test("vacuum retention guard keeps young unreferenced files") {
    val t = GraftTable.create(spark, tmpDir("vac-"),
      df((1, "a"), (2, "b")).coalesce(1))
    t.delete("id = 1") // orphans v0's file
    // an uncommitted in-flight executor file, just written
    val inflight = Paths.get(t.path, s"part-${java.util.UUID.randomUUID()}.parquet")
    Files.write(inflight, Array[Byte](1, 2, 3))
    // the minimum-retention safety check refuses an aggressive vacuum
    // until the table explicitly opts out (Delta parity)
    val guard = intercept[IllegalArgumentException](
      t.vacuum(retainVersions = 0, retentionMs = 0))
    assert(guard.getMessage.contains("below the minimum"))
    // default-args vacuum is SELF-CONSISTENT: the 7d fallback satisfies
    // the 7d minimum, so it runs without opt-outs (and deletes nothing
    // young) — Delta's defaults behave identically
    assert(t.vacuum() == 0)
    t.setProperty("vacuum.retentionDurationCheck", "false")
    // default (7d) retention: nothing young is deleted
    assert(t.vacuum(retainVersions = 0) == 0)
    assert(Files.exists(inflight))
    // explicit zero retention removes both orphans
    assert(t.vacuum(retainVersions = 0, retentionMs = 0) == 2)
    assert(!Files.exists(inflight))
    assert(t.toDF.collect().map(_.getInt(0)).toSet == Set(2))
  }

  test("snapshot load, time travel, and vacuum do zero log-directory listings") {
    // object-store shape: discovery rides the _last_checkpoint pointer and
    // aligned existence probes — an S3-style LIST call never happens on
    // the read path, no matter how long the history is
    val t = GraftTable.create(spark, tmpDir("nolist-"), df(1 -> "a"))
    (2 to 25).foreach(i => t.append(df(i -> "x"))) // checkpoints at 10 and 20
    val fresh = new GraftLog(t.path)
    assert(fresh.latestVersion == 24L)
    fresh.snapshotAt(24)        // head: pointer fast path
    fresh.snapshotAt(15)        // time travel below the pointer: aligned probe
    fresh.snapshotAt(3)         // before any checkpoint: full replay, still no LIST
    assert(fresh.listingCount == 0,
      s"log read paths performed ${fresh.listingCount} directory listing(s)")
    val t2 = GraftTable.forPath(spark, t.path)
    t2.setProperty("vacuum.retentionDurationCheck", "false")
    t2.vacuum(retainVersions = 2, retentionMs = 0)
    assert(t2.log.listingCount == 0,
      "vacuum's log-side discovery must not list the log directory")
  }
}
