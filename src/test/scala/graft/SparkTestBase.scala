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
  def tmpDir(prefix: String): String =
    Scratch.deletedAtExit(java.nio.file.Files.createTempDirectory(prefix)).toString

  lazy val session: SparkSession = Harness.session(4, Some(tmpDir("graft-wh-")))
}
