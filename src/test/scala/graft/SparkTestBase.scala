package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  val sfDir = "/root/testdata/sf0.001"

  /** A fresh temp dir, deleted with its contents when the test JVM exits. */
  def tmpDir(prefix: String): String = SparkTestBase.tmpDir(prefix)

  /** Spark jobs started by `body` on this thread. */
  def jobsDuring(body: => Unit): Int = jobPropertiesDuring(body).size

  /** The local properties of each Spark job started by `body` on this
    * thread, in start order. The listener bus is ordered, so once a
    * sentinel job's start is seen every earlier start has been recorded. */
  def jobPropertiesDuring(body: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => started.add(e.properties)
          case `sentinel` => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      body
      sc.setJobGroup(sentinel, "sentinel")
      spark.range(1).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      started.toArray(Array.empty[java.util.Properties]).toSeq
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTestBase {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    created.forEach(d => deleteTree(d))))

  private def deleteTree(d: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(d)) {
      val walk = java.nio.file.Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
      finally walk.close()
    }

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    created.add(d)
    d.toString
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", tmpDir("graft-wh-"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
