package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import graft.SparkSpec

class ParallelSpec extends SparkSpec {

  test("all: results in order; the first failure rethrows after completed siblings are disposed") {
    assert(Parallel.all(spark)(() => 1, () => 2, () => 3) === Seq(1, 2, 3))
    val disposed = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val e = intercept[IllegalStateException] {
      Parallel.allCleaning[Int](spark, disposed.add(_))(
        () => 1, () => throw new IllegalStateException("boom"), () => 3)
    }
    assert(e.getMessage === "boom")
    assert(disposed.toArray.toSet === Set(1, 3))
  }

  test("allCleaning: an interrupt of the waiting caller cancels the pending " +
      "siblings and rethrows promptly with the interrupt flag kept") {
    val started = new CountDownLatch(2)
    val siblingInterrupted = new CountDownLatch(2)
    val disposedAfterInterrupt = new AtomicBoolean(false)
    @volatile var thrown: Throwable = null
    @volatile var flagKept = false
    def blocker(): Int = {
      started.countDown()
      try { Thread.sleep(60000); 0 }
      catch { case e: InterruptedException => siblingInterrupted.countDown(); throw e }
    }
    val caller = new Thread(() => {
      try Parallel.allCleaning[Int](spark, _ => disposedAfterInterrupt.set(true))(
        () => blocker(), () => blocker())
      catch { case t: Throwable => thrown = t; flagKept = Thread.currentThread().isInterrupted }
    })
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS), "siblings never started")
    val t0 = System.nanoTime()
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive, "caller still waiting on its siblings after the interrupt")
    assert((System.nanoTime() - t0) / 1e9 < 10.0)
    assert(thrown.isInstanceOf[InterruptedException], s"got $thrown")
    assert(flagKept, "interrupt flag not restored on the caller")
    assert(siblingInterrupted.await(10, TimeUnit.SECONDS), "pending siblings were not cancelled")
    assert(!disposedAfterInterrupt.get, "no sibling completed, so nothing to dispose")
  }
}
