package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.table.{AddFile, CommitInfo, GraftLog, GraftTable, MetaData, RemoveFile}

/** A metadata-only log workload that runs beside the traced table_service
  * window, one step after each request: a fresh handle opens the latest
  * snapshot (`GraftLog.open`), then one commit of `Churn` adds and `Churn`
  * removes keeps `LiveFiles` files live. Every `checkpointInterval`-th
  * commit writes a checkpoint and is timed as `Checkpoint.commit`. The log
  * is synthetic, built with `GraftLog.commit` as `ScalingProbe log` does:
  * no data file is opened and no Spark job runs, so the log fold,
  * checkpoint codec and commit protocol are what the steps time. Each open
  * snapshot's live-file set is checked against the generator's model. */
final class LogProbe(spark: SparkSession, dir: Path, seed: Long) {
  import LogProbe._

  private val log = new GraftLog(dir.toString)
  private val rnd = new scala.util.Random(seed)
  private val live = mutable.ArrayBuffer.empty[String]
  private var nextFile = 0
  private var version = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  private def add(now: Long): AddFile = {
    val i = nextFile
    nextFile += 1
    live += f"part-$i%07d.parquet"
    AddFile(f"part-$i%07d.parquet", 1L << 20, now, 1000L,
      Map("id" -> (i * 1000L).toString), Map("id" -> (i * 1000L + 999).toString))
  }

  {
    val now = System.currentTimeMillis()
    val schema = StructType(Seq(StructField("id", LongType)))
    log.commit(0L, Seq(MetaData(java.util.UUID.randomUUID().toString, schema.json, now),
      CommitInfo(0L, log.nextTimestamp(), "CONVERT", Map.empty)) ++ Seq.fill(LiveFiles)(add(now)))
  }

  /** One open and one commit. */
  def step(): Unit = synchronized {
    val s = Trace.span("GraftLog.open")(GraftTable.forPath(spark, dir.toString).snapshot)
    val got = s.files.map(_.path).toSet
    if (got != live.toSet && errors.size < 5)
      errors += s"v${s.version}: ${got.size} live files, model ${live.size}"
    version += 1
    val now = System.currentTimeMillis()
    val removes = Seq.fill(Churn) {
      val i = rnd.nextInt(live.size)
      val p = live(i)
      live(i) = live.last
      live.remove(live.size - 1)
      RemoveFile(p, now)
    }
    val actions = Seq(CommitInfo(version, log.nextTimestamp(), "WRITE", Map.empty)) ++
      removes ++ Seq.fill(Churn)(add(now))
    val name = if (version % log.checkpointInterval == 0) "Checkpoint.commit" else "GraftLog.commit"
    Trace.span(name)(log.commit(version, actions))
  }

  def check(): Unit = synchronized {
    val s = GraftTable.forPath(spark, dir.toString).snapshot
    require(s.version == version, s"log at v${s.version}, model at v$version")
    require(s.files.map(_.path).toSet == live.toSet,
      s"log has ${s.files.size} live files, model ${live.size}")
    require(errors.isEmpty, errors.mkString("; "))
  }

  /** Bytes of the newest checkpoint. */
  def checkpointBytes: Long = synchronized {
    val cp = f"${(version / log.checkpointInterval) * log.checkpointInterval}%020d"
    val s = Files.list(dir.resolve("_delta_log"))
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(cp) && n.contains("checkpoint")
    }.map(Files.size).sum
    finally s.close()
  }
}

object LogProbe {
  val LiveFiles = 20000
  val Churn = 10
}
