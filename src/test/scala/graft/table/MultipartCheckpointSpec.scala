package graft.table

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Multipart parquet checkpoints (Delta's classic parts scheme): above
  * `checkpoint.partSize` live files, the checkpoint lands as N part files
  * written and read CONCURRENTLY — the single-threaded 1M-row parquet
  * encode was the measured bottleneck of checkpointing at real file
  * counts. The `_last_checkpoint` pointer carries `parts` so the common
  * read constructs part names with zero listing; a torn part set is
  * treated as absent (fold falls back to an older seed — always correct). */
class MultipartCheckpointSpec extends SparkTestBase {

  private def build(dir: String): GraftTable = {
    import spark.implicits._
    val t = GraftTable.create(spark, dir, Seq((0, "seed")).toDF("id", "v").coalesce(1))
    t.setProperty("checkpoint.format", "parquet")   // v1
    t.setProperty("checkpoint.partSize", "3")       // v2
    (1 to 8).foreach(i =>                            // v3..v10
      t.append(Seq((i, s"row$i")).toDF("id", "v").coalesce(1)))
    t
  }

  test("checkpoint splits into parts; fresh log folds the same snapshot") {
    val dir = tmpDir("mpcp-")
    val t = build(dir)
    assert(t.latestVersion === 10L)
    val log = new GraftLog(dir)
    // v10 checkpoint: 9 files / partSize 3 = 3 parts, no single-file twin
    val parts = (0 until 3).map(i => log.multipartCheckpointFile(10, i))
    assert(parts.forall(Files.exists(_)), s"expected 3 parts at v10")
    assert(!Files.exists(log.parquetCheckpointFile(10)))
    assert(Files.readString(log.multipartManifestFile(10)).contains(""""parts":3"""))
    assert(Files.readString(log.lastCheckpointFile)
      .contains(""""version":10,"parts":3"""))
    // a FRESH log (no caches) seeds from the multipart checkpoint
    val s = new GraftLog(dir).snapshotAt(10L)
    assert(s.files.size === 9)
    assert(s.metaData.properties("checkpoint.partSize") === "3")
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.toDF.count() === 9)
    assert(t2.toDF.agg(sum(col("id"))).head().getLong(0) === 36L)
  }

  test("time travel across and below a multipart checkpoint") {
    val dir = tmpDir("mpcp-tt-")
    val t = build(dir)
    assert(t.versionAsOf(10).count() === 9)
    assert(t.versionAsOf(5).count() === 4)  // seed + rows 1..3
    // a torn part set is ignored: delete one part, fold still correct
    val log = new GraftLog(dir)
    Files.delete(log.multipartCheckpointFile(10, 1))
    val s = new GraftLog(dir).snapshotAt(10L)
    assert(s.files.size === 9, "torn multipart must fall back, not misfold")
  }

  test("a failing checkpoint part surfaces its own exception") {
    val dir = tmpDir("mpcp-fail-")
    build(dir)
    val log = new GraftLog(dir)
    val parts = (0 until 3).map(i => log.multipartCheckpointFile(10, i))
    assert(CheckpointCodec.readMulti(parts, 10).files.size == 9)
    Files.write(parts(1), "not a parquet file".getBytes("UTF-8"))
    val e = intercept[RuntimeException](CheckpointCodec.readMulti(parts, 10))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    assert(e.getMessage.contains(parts(1).getFileName.toString), e.getMessage)
    // the fold treats the torn set as absent and replays the commits
    assert(new GraftLog(dir).snapshotAt(10L).files.size == 9)
  }

  test("log retention cleanup removes expired multipart parts") {
    val dir = tmpDir("mpcp-clean-")
    val t = build(dir)
    (9 to 18).foreach(i =>                           // v11..v20: next checkpoint
      t.append(spark.range(1).selectExpr(s"cast($i as int) as id", "'x' as v").coalesce(1)))
    val log = new GraftLog(dir)
    assert((0 until 7).exists(i => Files.exists(log.multipartCheckpointFile(20, i))))
    t.cleanupExpiredLogs(retentionMs = 0L)
    // v10's parts are expired history now
    assert((0 until 3).forall(i => !Files.exists(log.multipartCheckpointFile(10, i))))
    assert(!Files.exists(log.multipartManifestFile(10)))
    // head still reads fine
    assert(GraftTable.forPath(spark, dir).toDF.count() === 19)
  }
  test("a crashed multipart publish completes on retry instead of abandoning") {
    val dir = tmpDir("mpcp-retry-")
    build(dir)
    // simulate the crash: version 10's checkpoint half-published — the
    // manifest and one part are gone, two survivor parts remain on disk
    val log = new GraftLog(dir)
    Files.delete(log.multipartManifestFile(10))
    Files.delete(log.multipartCheckpointFile(10, 1))
    assert(Files.exists(log.multipartCheckpointFile(10, 0)),
      "survivor parts stay — the exact state that used to block completion")
    // retry: survivor parts must be tolerated (contents are deterministic
    // for a given version), the missing part re-published, and the
    // manifest must LAND — never permanently-incomplete debris
    log.writeCheckpoint(10)
    assert(Files.exists(log.multipartManifestFile(10)))
    assert((0 until 3).forall(i => Files.exists(log.multipartCheckpointFile(10, i))))
    // a FRESH log folds from the completed checkpoint
    val s = new GraftLog(dir).snapshotAt(10L)
    assert(s.files.size === 9)
  }

  test("a stale checkpoint retry cannot regress _last_checkpoint") {
    // A straggler retrying an OLD checkpoint after another writer already
    // checkpointed a newer version must not move the pointer backwards —
    // log cleanup keyed to the newer checkpoint may have deleted the files
    // the stale pointer references.
    val dir = tmpDir("mpcp-ptr-")
    val t = build(dir)
    val log = new GraftLog(dir)
    log.writeCheckpoint(10)
    assert(Files.readString(log.lastCheckpointFile).contains(""""version":10"""))
    log.writeCheckpoint(5) // straggler retry of an older version
    assert(Files.readString(log.lastCheckpointFile).contains(""""version":10"""),
      "the pointer must stay at the newest checkpoint")
    // the v5 checkpoint itself may land (harmless); re-publishing the
    // NEWEST version still refreshes the pointer (crash-repair path)
    log.writeCheckpoint(10)
    assert(Files.readString(log.lastCheckpointFile).contains(""""version":10"""))
    assert(new GraftLog(dir).snapshotAt(10L).files.size === 9)
  }

  test("a synthetic 2,000-file log: JSON fold, parquet and multipart checkpoints keep every file") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // the fold never opens a data file, so the files need not exist
    val n = 2000
    val dir = tmpDir("mpcp-synth-")
    val now = System.currentTimeMillis()
    def addFile(i: Int): AddFile = AddFile(
      f"part-$i%07d-xxxxxxxx.parquet", 128L * 1024 * 1024, now, 1000000L,
      Map("id" -> (i * 1000L).toString, "v" -> "aaaa"),
      Map("id" -> ((i + 1) * 1000L).toString, "v" -> "zzzz"))
    val log = new GraftLog(dir)
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val meta = MetaData(java.util.UUID.randomUUID().toString, schema.json, now, Nil,
      Map.empty, Map("checkpoint.format" -> "parquet"))
    def write(v: Long, adds: Seq[AddFile], extra: Action*): Unit =
      log.commit(v, (extra :+ CommitInfo(v, log.nextTimestamp(), "WRITE", Map.empty)) ++ adds)
    write(0L, (0 until n).map(addFile), meta)
    (1 to 9).foreach(v => write(v, (0 until 10).map(i => addFile(n + v * 10 + i))))
    assert(new GraftLog(dir).snapshotAt(9L).files.size === n + 90, "the JSON fold lost files")
    // v10 crosses the checkpoint interval: one parquet checkpoint
    write(10L, (0 until 10).map(i => addFile(n + 100 + i)))
    assert(Files.exists(log.parquetCheckpointFile(10)))
    assert(new GraftLog(dir).snapshotAt(10L).files.size === n + 100,
      "the checkpoint-seeded fold lost files")
    // the same table split into parts: v20 writes a 4-part checkpoint
    write(11L, Nil, meta.copy(properties = meta.properties +
      ("checkpoint.partSize" -> (n / 4 + 1).toString)))
    (12 to 20).foreach(v => write(v, Nil))
    assert(Files.exists(log.multipartManifestFile(20)))
    val s20 = new GraftLog(dir).snapshotAt(20L)
    assert(s20.files.size === n + 100, "the multipart-seeded fold lost files")
    // file pruning by a large sorted key set supports the numeric id stats
    val kept = GraftTable.sortedKeyPruneOf(s20, "id", (0 until 10000).map(i => Long.box(i * 37L)))
    assert(kept.exists(k => k.nonEmpty && k.size < s20.files.size), kept.map(_.size))
  }
}
