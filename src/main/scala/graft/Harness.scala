package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one session factory of Bench, Verify, Diag, RaceWriter and the
  * tests, and the one Spark job counter of Diag and the tests. */
object Harness {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  def reps: Int = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)

  /** A local session on `cpus` cores with graft's SQL extensions. */
  def session(cpus: Int, warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    val s = warehouseDir.fold(b)(b.config("spark.sql.warehouse.dir", _)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The Spark jobs one block started: each job's local properties in
    * start order, and the stages and tasks those jobs completed. */
  final case class Jobs(properties: Seq[Properties], stages: Int, tasks: Int) {
    def count: Int = properties.size
  }

  /** The Spark jobs `body` starts on this thread (and on the threads that
    * inherit its job group), and the micro-batch jobs of the streaming
    * queries `body` starts: Structured Streaming runs those under the
    * query's run id as job group, and a query reports its start, run id
    * included, before it runs a batch. The listener bus is ordered, so
    * once a sentinel job's start is seen every earlier event has been
    * recorded. */
  def jobsDuring(spark: SparkSession)(body: => Unit): Jobs = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    groups.add(group)
    val queries = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        groups.add(e.runId.toString)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val started = new ConcurrentLinkedQueue[Properties]
    val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`sentinel`) => drained.countDown()
          case Some(g) if groups.contains(g) =>
            started.add(e.properties)
            e.stageIds.foreach(stageIds.add)
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(e.stageInfo.stageId)) stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stageIds.contains(e.stageId)) tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    spark.streams.addListener(queries)
    try {
      sc.setJobGroup(group, "build")
      body
      sc.setJobGroup(sentinel, "sentinel")
      spark.range(1).collect()
      require(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      Jobs(started.toArray(Array.empty[Properties]).toSeq, stages.get, tasks.get)
    } finally {
      sc.clearJobGroup()
      spark.streams.removeListener(queries)
      sc.removeSparkListener(listener)
    }
  }
}
