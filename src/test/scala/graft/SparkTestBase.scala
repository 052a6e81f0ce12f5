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
  def jobsDuring(body: => Unit): Int = Harness.jobsDuring(spark)(body).count

  /** The local properties of each Spark job started by `body` on this
    * thread, in start order. */
  def jobPropertiesDuring(body: => Unit): Seq[java.util.Properties] =
    Harness.jobsDuring(spark)(body).properties
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

  lazy val session: SparkSession = Harness.session(4, Some(tmpDir("graft-wh-")))
}
