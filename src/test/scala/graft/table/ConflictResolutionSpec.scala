package graft.table

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-writer LOGICAL conflict resolution (Delta VLDB 2020 §3.2): a lost
  * commit race rebases when the winner is provably disjoint from what this
  * transaction read/removed, and raises a TYPED conflict otherwise. The
  * deterministic tests drive `commit` directly with a deliberately
  * stale snapshot (the winner committed in between); the racing tests pin
  * the end-to-end behavior under real thread interleavings. */
class ConflictResolutionSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: (Int, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (i, s) => Row(i, s) }.asJava, schema)

  /** Table with two single-file commits: file A holds ids 0-4, file B
    * holds ids 100-104. Returns (table, pathOfA, pathOfB). */
  private def twoFiles(): (GraftTable, String, String) = {
    val t = GraftTable.create(spark, tmpDir("cr-"),
      df((0 to 4).map(i => (i, s"a$i")): _*).repartition(1))
    val before = t.snapshot.files.map(_.path).toSet
    t.append(df((100 to 104).map(i => (i, s"b$i")): _*).repartition(1))
    val a = before.head
    val b = (t.snapshot.files.map(_.path).toSet -- before).head
    (t, a, b)
  }

  private def noActions(v: Long, ts: Long): Seq[Action] = Nil

  test("lost race vs a stats-disjoint append rebases and lands") {
    val (t, a, _) = twoFiles()
    val stale = t.snapshot
    t.append(df((200, "w")))                    // winner: ids disjoint from pred
    t.commit(stale,
      TxnInfo(readWholeTable = false, Some(col("id") <= 4), Set(a), Set(a)),
      "DELETE", Map.empty)(noActions)
    assert(t.latestVersion === stale.version + 2, "rebase commits at the new head")
    assert(!t.snapshot.files.map(_.path).contains(a))
    assert(t.toDF.filter(col("id") === 200).count() === 1, "winner's append intact")
  }

  test("winner appended rows the predicate may match -> ConcurrentAppendException") {
    val (t, a, _) = twoFiles()
    val stale = t.snapshot
    t.append(df((2, "dup")))                    // overlaps pred range [0,4]
    intercept[ConcurrentAppendException] {
      t.commit(stale,
        TxnInfo(readWholeTable = false, Some(col("id") <= 4), Set(a), Set(a)),
        "DELETE", Map.empty)(noActions)
    }
  }

  test("winner removed a file this txn also removes -> ConcurrentDeleteDeleteException") {
    val (t, a, _) = twoFiles()
    val stale = t.snapshot
    t.delete(col("id") === 1)                   // winner rewrites file A
    intercept[ConcurrentDeleteDeleteException] {
      t.commit(stale,
        TxnInfo(readWholeTable = false, Some(col("id") === 3), Set(a), Set(a)),
        "DELETE", Map.empty)(noActions)
    }
  }

  test("winner removed a file this txn READ (but keeps) -> ConcurrentDeleteReadException") {
    val (t, a, b) = twoFiles()
    val stale = t.snapshot
    t.delete(col("id") === 1)                   // winner rewrites file A
    intercept[ConcurrentDeleteReadException] {
      // this txn read A and B but only removes B
      t.commit(stale,
        TxnInfo(readWholeTable = false, None, Set(a, b), Set(b)),
        "DELETE", Map.empty)(noActions)
    }
  }

  test("winner changed metadata / protocol -> typed errors") {
    val (t, a, _) = twoFiles()
    val stale = t.snapshot
    t.setProperty("some.prop", "x")             // metaData-changing commit
    intercept[MetadataChangedException] {
      t.commit(stale,
        TxnInfo(readWholeTable = false, None, Set(a), Set(a)),
        "DELETE", Map.empty)(noActions)
    }
    val stale2 = t.snapshot
    t.setProperty("deletionVectors.enabled", "true") // protocol upgrade commit
    intercept[ProtocolChangedException] {
      t.commit(stale2,
        TxnInfo(readWholeTable = false, None, Set.empty, Set.empty),
        "DELETE", Map.empty)(noActions)
    }
  }

  test("whole-table readers conflict with ANY append") {
    val (t, _, _) = twoFiles()
    val stale = t.snapshot
    t.append(df((300, "w")))
    intercept[ConcurrentAppendException] {
      t.commit(stale,
        TxnInfo(readWholeTable = true, None, Set.empty, Set.empty),
        "MERGE", Map.empty)(noActions)
    }
  }

  test("multi-winner rebase: several disjoint appends all classify clean") {
    val (t, a, _) = twoFiles()
    val stale = t.snapshot
    (0 until 3).foreach(i => t.append(df((400 + i, "w"))))
    t.commit(stale,
      TxnInfo(readWholeTable = false, Some(col("id") <= 4), Set(a), Set(a)),
      "DELETE", Map.empty)(noActions)
    assert(t.latestVersion === stale.version + 4)
    assert(t.toDF.filter(col("id") >= 400).count() === 3)
  }

  /** A metadata-only commit (ADD CONSTRAINT's shape) based on `s`. */
  private def addConstraintOn(t: GraftTable, s: Snapshot): Option[Long] = {
    val meta = s.metaData.copy(
      constraints = s.metaData.constraints + ("nonneg" -> "id >= 0"))
    t.commit(s, TxnInfo.wholeTable(s), "ADD CONSTRAINT", Map.empty)((_, _) => Seq(meta))
  }

  test("metadata-only DDL on a stale snapshot loses to a winner's append") {
    // the constraint was validated against rows that did not include the
    // winner's, so rebasing past the append would skip validating them
    val (t, _, _) = twoFiles()
    val stale = t.snapshot
    t.append(df((500, "w")))
    intercept[ConcurrentAppendException](addConstraintOn(t, stale))
    assert(t.latestVersion === stale.version + 1)
    assert(t.snapshot.metaData.constraints.isEmpty)
  }

  test("metadata-only DDL rebases past a zero-row DELETE") {
    val (t, _, _) = twoFiles()
    val stale = t.snapshot
    assert(t.delete(col("id") === 999) === 0L)  // winner changes nothing
    assert(addConstraintOn(t, stale) === Some(stale.version + 2))
    assert(t.snapshot.metaData.constraints.contains("nonneg"))
  }

  test("REPLACE on a stale snapshot loses to a winner that enabled appendOnly") {
    val (t, _, _) = twoFiles()
    val stale = t.snapshot
    t.setProperty("appendOnly", "true")
    intercept[GraftConcurrentWriteException] {
      t.commitReplaceTable(stale, Nil, stale.schema, Nil, Map.empty)
    }
    assert(t.latestVersion === stale.version + 1)
    assert(t.toDF.count() === 10, "no rows may be dropped")
  }

  test("REPLACE over a store that drops publishes fails, never retries forever") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler}
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    spark.conf.set(LogStore.ConfKey, "graft.table.DroppingPublishStore")
    try {
      val (t, _, _) = twoFiles()
      val s = t.snapshot
      DroppingPublishStore.dropping = true
      try failAfter(60.seconds) {
        intercept[LogStoreContractException] {
          t.commitReplaceTable(s, Nil, s.schema, Nil, Map.empty)
        }
      } finally DroppingPublishStore.dropping = false
      assert(t.latestVersion === s.version)
      assert(t.toDF.count() === 10)
    } finally spark.conf.unset(LogStore.ConfKey)
  }

  test("SQL UPDATE on a stale snapshot rebases past a predicate-disjoint append") {
    val (t, _, _) = twoFiles()
    graft.sources.GraftCatalog.register(spark, tmpDir("cr-sql-wh-"), name = "crcat")
    spark.sql(s"CREATE TABLE crcat.default.u USING graft LOCATION '${t.path}'")
    val before = t.latestVersion
    spark.conf.set(LogStore.ConfKey, "graft.table.InjectingPublishStore")
    try {
      // the winner lands between the UPDATE's read and its publish
      InjectingPublishStore.beforePublish = Some(() => t.append(df((200, "w"))))
      spark.sql("UPDATE crcat.default.u SET v = 'x' WHERE id <= 4")
      assert(InjectingPublishStore.beforePublish.isEmpty, "no winner was injected")
    } finally {
      InjectingPublishStore.beforePublish = None
      spark.conf.unset(LogStore.ConfKey)
    }
    assert(t.latestVersion === before + 2, "the UPDATE rebased onto the winner")
    assert(t.history().select("operation").collect().map(_.getString(0)).head === "UPDATE")
    val rows = t.toDF.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows === ((0 to 4).map(_ -> "x") ++ (100 to 104).map(i => i -> s"b$i") :+ (200 -> "w")).toMap)
  }

  test("end-to-end race: appends vs predicate-disjoint DELETE — both land, no errors") {
    val t = GraftTable.create(spark, tmpDir("cr-race-"),
      df((0 to 4).map(i => (i, s"d$i")): _*).repartition(1))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() => {
      barrier.await()
      try (1 to 4).foreach(i => t.append(df((1000 + i, "app"))))
      catch { case e: Throwable => errs.add(e) }
    })
    val deleter = new Thread(() => {
      barrier.await()
      try t.delete(col("id") <= 4)
      catch { case e: Throwable => errs.add(e) }
    })
    appender.start(); deleter.start(); appender.join(); deleter.join()
    assert(errs.isEmpty,
      s"disjoint append/DELETE race must fully serialize via rebase: ${errs.asScala}")
    assert(t.toDF.collect().map(_.getInt(0)).toSet === (1 to 4).map(1000 + _).toSet,
      "all appends present, all seed rows deleted")
  }

  test("end-to-end race: two DELETEs on one file — one wins, loser typed, state clean") {
    val t = GraftTable.create(spark, tmpDir("cr-dd-"),
      df((0 to 9).map(i => (i, s"d$i")): _*).repartition(1))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def deleter(id: Int) = new Thread(() => {
      barrier.await()
      try t.delete(col("id") === id)
      catch { case e: Throwable => errs.add(e) }
    })
    val x = deleter(1); val y = deleter(8)
    x.start(); y.start(); x.join(); y.join()
    // serialized interleavings legally delete both; a real race must
    // surface as a TYPED conflict on exactly one side
    assert(errs.size <= 1, "at least one DELETE must win")
    errs.asScala.foreach(e => assert(e.isInstanceOf[GraftConcurrentWriteException],
      s"loser must get a typed logical conflict, got: $e"))
    val ids = t.toDF.collect().map(_.getInt(0)).toSet
    val legal = Set((0 to 9).toSet -- Set(1, 8), (0 to 9).toSet - 1, (0 to 9).toSet - 8)
    assert(legal.contains(ids), s"state $ids is not a clean outcome")
  }

  test("2-JVM race: external DELETEs rebase past in-process appends, nothing lost") {
    import spark.implicits._
    val dir = tmpDir("cr-2jvm-")
    val perSide = 5
    val t0 = GraftTable.create(spark, dir, Seq(("seed", 0)).toDF("writer", "seq"))
    // victim rows in separate files, so deletes touch disjoint file sets
    (1 to perSide).foreach(i => t0.append(Seq(("victim", i)).toDF("writer", "seq")))

    val proc = new ProcessBuilder(
      "/root/repo/tools/run.sh", "graft.RaceWriter", dir, "deleter", perSide.toString)
      .redirectErrorStream(true).start()

    val t = GraftTable.forPath(spark, dir)
    (1 to perSide).foreach(i => t.append(Seq(("internal", i)).toDF("writer", "seq")))
    val out = new String(proc.getInputStream.readAllBytes())
    assert(proc.waitFor() == 0, s"external deleter failed:\n$out")
    assert(out.contains(s"DELETED $perSide"),
      s"every predicate-disjoint DELETE must land across JVMs:\n$out")

    val rows = t.toDF.as[(String, Int)].collect().toSet
    val expected = Set("seed" -> 0) ++ (1 to perSide).map("internal" -> _)
    assert(rows === expected, "victim rows gone, all appends intact")
  }

  test("N-writer contention: every blind append lands exactly once") {
    import spark.implicits._
    val dir = tmpDir("contend-")
    GraftTable.create(spark, dir, Seq((0L, -1)).toDF("k", "w"))
    val writers = 6; val each = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val start = new java.util.concurrent.CountDownLatch(1)
    val fs = (0 until writers).map { w =>
      pool.submit(new Runnable { override def run(): Unit = {
        val t = GraftTable.forPath(spark, dir) // own instance = own "driver"
        start.await()
        (1 to each).foreach(i =>
          t.append(Seq((w * 1000L + i, w)).toDF("k", "w")))
      }})
    }
    start.countDown()
    fs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val t = GraftTable.forPath(spark, dir)
    assert(t.latestVersion == writers * each,
      "every append must land as its own commit (rebase, not loss)")
    assert(t.toDF.count() == writers * each + 1)
    assert(t.toDF.select("k").distinct().count() == writers * each + 1,
      "no append may double-commit under contention")
  }

  test("N-writer identity contention: the frontier serializes, ids stay unique") {
    import spark.implicits._
    val dir = tmpDir("contend-id-")
    GraftTable.create(spark, dir,
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("w",
            org.apache.spark.sql.types.IntegerType)))),
      identity = Map("rid" -> (1L, 1L)))
    val writers = 6; val each = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val start = new java.util.concurrent.CountDownLatch(1)
    val retries = new java.util.concurrent.atomic.AtomicInteger
    val fs = (0 until writers).map { w =>
      pool.submit(new Runnable { override def run(): Unit = {
        val t = GraftTable.forPath(spark, dir)
        start.await()
        (1 to each).foreach { _ =>
          var landed = false
          while (!landed)
            try { t.append(Seq(w).toDF("w")); landed = true }
            catch { case _: GraftConcurrentWriteException =>
              retries.incrementAndGet() } // typed loser: re-read frontier, retry
        }
      }})
    }
    start.countDown()
    fs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val t = GraftTable.forPath(spark, dir)
    val n = writers * each
    assert(t.toDF.count() == n)
    assert(t.toDF.select("rid").distinct().count() == n,
      s"identity ids collided under contention (${retries.get()} retries)")
  }
}

/** Top-level so the LogStore conf can load it: a conforming store that,
  * while `dropping` is set, acknowledges publishes without making them
  * visible (the lost-visibility contract violation). */
class DroppingPublishStore extends ConfSelectedStore {
  override def publishIfAbsent(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    if (!DroppingPublishStore.dropping) super.publishIfAbsent(src, dst)
}

object DroppingPublishStore {
  @volatile var dropping = false
}

/** Top-level so the LogStore conf can load it: a conforming store that runs
  * `beforePublish` once, just before the next commit-file publish, so a
  * winner commit can land between a writer's read and its publish. */
class InjectingPublishStore extends ConfSelectedStore {
  override def publishIfAbsent(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    if (dst.getFileName.toString.endsWith(".json"))
      InjectingPublishStore.take().foreach(_.apply())
    super.publishIfAbsent(src, dst)
  }
}

object InjectingPublishStore {
  @volatile var beforePublish: Option[() => Unit] = None

  private def take(): Option[() => Unit] = synchronized {
    val hook = beforePublish; beforePublish = None; hook
  }
}
