package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** [[DriverPool]]: results in task order, the first failure rethrown as
  * it was raised while the other tasks are cancelled, nested fan-out run
  * inline, and no thread-local carried over from the caller. */
class DriverPoolSpec extends AnyFunSuite {

  test("results come back in task order") {
    val out = DriverPool.all((1 to 20).map(i => () => { Thread.sleep((20 - i) % 4); i * i }))
    assert(out == (1 to 20).map(i => i * i))
  }

  test("the first failure is rethrown as raised, and the other tasks are cancelled") {
    val interrupted = new CountDownLatch(1)
    val started = System.nanoTime()
    val e = intercept[IllegalStateException](DriverPool.all(Seq(
      () => try { Thread.sleep(60000); 0 } catch { case x: InterruptedException =>
        interrupted.countDown(); throw x },
      () => { Thread.sleep(50); throw new IllegalStateException("part 1 failed") })))
    assert(e.getMessage == "part 1 failed")
    assert((System.nanoTime() - started) / 1e9 < 30, "the call waited for the slow task")
    assert(interrupted.await(30, TimeUnit.SECONDS), "the slow task was not cancelled")
  }

  test("a task that fans out again runs its tasks inline instead of waiting on the pool") {
    val n = DriverPool.threads * 2
    val out = DriverPool.all((0 until n).map(i => () =>
      DriverPool.all((0 until n).map(j => () => { Thread.sleep(1); i * n + j })).sum))
    assert(out.sum == (0 until n * n).sum)
  }

  test("pool threads inherit no thread-locals from the caller") {
    val local = new InheritableThreadLocal[String]
    local.set("caller")
    try {
      val seen = DriverPool.all(Seq.fill(DriverPool.threads * 2)(() => Option(local.get)))
      assert(seen.forall(_.isEmpty), seen)
    } finally local.remove()
  }
}
