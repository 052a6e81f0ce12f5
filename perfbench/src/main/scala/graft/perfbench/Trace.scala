package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one request share `req`; `parent`
  * is the enclosing span on the same thread (0 at a request's root). */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span: the jobs started while the span was
  * the innermost one on the calling thread, and the tasks of their stages. */
final class SparkCounts {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  def +=(o: SparkCounts): Unit = {
    jobs.addAndGet(o.jobs.get); tasks.addAndGet(o.tasks.get); taskNs.addAndGet(o.taskNs.get)
    shuffleBytes.addAndGet(o.shuffleBytes.get); spillBytes.addAndGet(o.spillBytes.get)
  }
}

/** In-memory span recorder, written out once at exit. With tracing off
  * `span` is a plain call, so the untraced run times the program alone. */
object Trace {
  @volatile var on = false

  private val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(1)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  @volatile private var sc: SparkContext = _

  /** Spark counts per span id, plus the run-wide totals under id 0. */
  val counts = new ConcurrentHashMap[Long, SparkCounts]()
  private def countsOf(id: Long) = counts.computeIfAbsent(id, _ => new SparkCounts)

  def spans: Seq[Span] = recorded.asScala.toSeq

  def reset(): Unit = { recorded.clear(); counts.clear() }

  /** Opens a new request: every span under `f` shares its id. */
  def request[A](name: String)(f: => A): A =
    if (!on) f else enter(name, newRequest = true)(f)

  /** A span around one call into a layer. */
  def span[A](name: String)(f: => A): A =
    if (!on) f else enter(name, newRequest = false)(f)

  private def enter[A](name: String, newRequest: Boolean)(f: => A): A = {
    val outer = stack.get
    val id = ids.getAndIncrement()
    val req = if (newRequest || outer.isEmpty) id else outer.head._2
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    stack.set((id, req) :: outer)
    if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      recorded.add(Span(id, parent, req, name, t0, System.nanoTime()))
      stack.set(outer)
      if (sc != null)
        sc.setLocalProperty(SpanProp, outer.headOption.map(_._1.toString).orNull)
    }
  }

  /** Counts every job and task, run-wide and per span. Listener events
    * arrive on Spark's bus thread, so the span is carried by the job's
    * local properties, which Spark copies from the submitting thread. */
  def install(context: SparkContext): Unit = {
    sc = context
    val stageSpan = new ConcurrentHashMap[Int, Long]()
    context.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
          .map(_.toLong).getOrElse(-1L)
        e.stageIds.foreach(s => stageSpan.put(s, span))
        countsOf(0L).jobs.incrementAndGet()
        if (span > 0) countsOf(span).jobs.incrementAndGet()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val targets = Seq(0L) ++ Option(stageSpan.get(e.stageId)).filter(_ > 0)
        targets.foreach { id =>
          val c = countsOf(id)
          c.tasks.incrementAndGet()
          if (m != null) {
            c.taskNs.addAndGet(m.executorRunTime * 1000000L)
            c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            c.spillBytes.addAndGet(m.diskBytesSpilled)
          }
        }
      }
    })
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}
