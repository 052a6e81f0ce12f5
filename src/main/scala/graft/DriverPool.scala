package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

/** The driver's one pool for fanning work out: checkpoint parts encoded
  * or decoded side by side, independent Spark jobs overlapped. It has a
  * fixed number of daemon threads, so concurrent callers queue instead of
  * growing it, and a call fails with the first task that fails.
  *
  * Its threads inherit no thread-locals from whichever caller happened to
  * create them: a task that runs Spark jobs sets the job group and session
  * it wants itself. A call made from one of its own threads runs its
  * tasks inline, so a task that fans out again never waits on a slot it
  * holds. */
object DriverPool {

  /** Threads in the pool: the core count, within [2, 8]. */
  val threads: Int = math.max(2, math.min(8, Runtime.getRuntime.availableProcessors))

  private val inPool = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  private lazy val pool: ExecutorService = {
    val n = new AtomicInteger
    Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(null, () => { inPool.set(true); r.run() },
        s"graft-driver-pool-${n.incrementAndGet()}", 0L, false)
      t.setDaemon(true)
      t
    })
  }

  /** Runs `tasks` and returns their results in order. The first failure
    * is rethrown as soon as it is seen, and the tasks still queued or
    * running are cancelled. */
  def all[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.size <= 1 || inPool.get) tasks.map(_())
    else {
      val done = new ExecutorCompletionService[A](pool)
      val futures = tasks.map(t => done.submit(() => t()))
      try {
        tasks.foreach { _ =>
          try done.take().get()
          catch { case e: ExecutionException => throw e.getCause }
        }
        futures.map(_.get())
      } finally futures.foreach(_.cancel(true))
    }
}
