package graft.table

import java.nio.file.Files

import graft.SparkTestBase

/** A warm [[GraftLog]] folds each new version forward from its cached
  * predecessor instead of re-reading a checkpoint. That fold must equal
  * the cold one a fresh log makes from the nearest checkpoint, at every
  * version: same live files in the same order, same txns, metaData and
  * protocol. When a commit between the cached snapshot and the target is
  * gone (log cleanup), the warm log falls back to the checkpoint. */
class SnapshotFoldSpec extends SparkTestBase {

  private val schema = """{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}}]}"""

  private def add(p: String, v: Long): AddFile =
    AddFile(p, 100 + v, 1000 + v, v, Map("id" -> s"$v"), Map("id" -> s"${v + 9}"),
      nullCounts = Map("id" -> 0L))

  /** Commits versions 0..last to `log`: adds, removes, re-adds of removed
    * and of live paths, Txn, MetaData (switching the checkpoint format)
    * and Protocol commits, in a seeded random order. `after(v)` runs once
    * version v has landed. */
  private def randomWalk(log: GraftLog, last: Int, seed: Long)(after: Long => Unit): Unit = {
    val rnd = new scala.util.Random(seed)
    var live = Vector.empty[String]
    var dead = Vector.empty[String]
    var next = 0
    var ts = System.currentTimeMillis() - 3600L * 1000
    def fresh(): String = { next += 1; s"part-$next.parquet" }
    (0 to last).foreach { v =>
      ts += 1
      val info = CommitInfo(v, ts, "WRITE", Map.empty)
      val actions: Seq[Action] =
        if (v == 0) {
          val adds = Seq.fill(3)(fresh()).map(add(_, 0))
          live = adds.map(_.path).toVector
          Seq(info, Protocol(), MetaData("t", schema, ts)) ++ adds
        } else rnd.nextInt(7) match {
          case 0 | 1 =>
            val adds = Seq.fill(1 + rnd.nextInt(3))(fresh()).map(add(_, v))
            live ++= adds.map(_.path)
            info +: adds
          case 2 if live.size > 1 =>
            val gone = rnd.shuffle(live).take(1 + rnd.nextInt(live.size - 1)).toSet
            live = live.filterNot(gone); dead ++= gone
            info +: gone.toSeq.sorted.map(RemoveFile(_, ts))
          case 3 if dead.nonEmpty =>
            val back = dead(rnd.nextInt(dead.size))
            dead = dead.filterNot(_ == back); live :+= back
            Seq(info, add(back, v))
          case 4 =>
            // a live path re-added with new stats keeps its place
            Seq(info, add(live(rnd.nextInt(live.size)), v))
          case 5 =>
            Seq(info, Txn(s"app-${rnd.nextInt(3)}", v))
          case _ =>
            if (rnd.nextBoolean()) Seq(info, MetaData("t", schema, ts,
              properties = Map("checkpoint.format" -> (if (rnd.nextBoolean()) "parquet" else "json"),
                "step" -> v.toString)))
            else Seq(info, Protocol(1, 2 + rnd.nextInt(3)))
        }
      log.commit(v, actions)
      after(v)
    }
  }

  test("the forward fold equals a cold fold at every version, across checkpoints of both formats") {
    val dir = tmpDir("fold-eq-")
    val writer = new GraftLog(dir)
    val reader = new GraftLog(dir)
    randomWalk(writer, 45, seed = 11) { v =>
      val cold = new GraftLog(dir).snapshotAt(v)
      assert(writer.snapshotAt(v) == cold, s"writer at $v")
      assert(reader.snapshotAt(v) == cold, s"reader at $v")
    }
    val log = new GraftLog(dir)
    val cps = (10 to 40 by 10).filter(v =>
      Files.exists(log.checkpointFile(v)) || Files.exists(log.parquetCheckpointFile(v)))
    assert(cps == Seq(10, 20, 30, 40))
    assert(Seq(10, 20, 30, 40).exists(v => Files.exists(log.parquetCheckpointFile(v))) &&
      Seq(10, 20, 30, 40).exists(v => Files.exists(log.checkpointFile(v))),
      "the walk checkpoints in both formats")
    // the warm logs stepped forward without one checkpoint read; every
    // fresh log past version 10 seeded from one
    assert(writer.checkpointReads == 0 && reader.checkpointReads == 0)
    assert(new GraftLog(dir).snapshotAt(45).version == 45)
    val s = reader.snapshotAt(45)
    assert(s.files.nonEmpty && s.transactions.nonEmpty, "the walk left files and txns")
    assert(s.metaData.properties.contains("step") || s.protocol != Protocol(),
      "the walk changed metaData or protocol")
  }

  test("a tail commit removed by log cleanup falls back to the checkpoint") {
    val dir = tmpDir("fold-cleaned-")
    val writer = new GraftLog(dir)
    randomWalk(writer, 25, seed = 5)(_ => ())
    val reader = new GraftLog(dir)
    reader.snapshotAt(12)
    val at18 = reader.snapshotAt(18)
    assert(reader.checkpointReads == 1)
    // cleanup up to the checkpoint at 20 deletes commits 0..19
    assert(writer.cleanupExpiredLogs(System.currentTimeMillis() + 1000) > 0)
    assert(!Files.exists(writer.versionFile(19)) && Files.exists(writer.versionFile(20)))
    val at25 = reader.snapshotAt(25)
    assert(reader.checkpointReads == 2, "commit 19 is gone: 25 seeds from checkpoint 20")
    assert(at25 == new GraftLog(dir).snapshotAt(25))
    // the cached snapshot still answers; an uncached version below the
    // retention floor still fails, though commits 13..15 are still parsed
    // in the reader's cache and 12 is a cached snapshot below it
    assert(reader.snapshotAt(18) eq at18)
    intercept[IllegalArgumentException](reader.snapshotAt(15))
  }

  test("the reader-feature gate fires on a forward-folded snapshot") {
    val dir = tmpDir("fold-gate-")
    val log = new GraftLog(dir)
    randomWalk(log, 12, seed = 3)(_ => ())
    val reader = new GraftLog(dir)
    reader.snapshotAt(12)
    val reads = reader.checkpointReads
    log.commit(13, Seq(CommitInfo(13, System.currentTimeMillis(), "UPGRADE", Map.empty),
      Protocol(3, 7, Seq("someFutureFeature"), Seq("someFutureFeature"))))
    val e = intercept[GraftProtocolException](reader.snapshotAt(13))
    assert(e.getMessage.contains("someFutureFeature"))
    assert(reader.checkpointReads == reads, "13 folded forward from the cached 12")
  }
}
