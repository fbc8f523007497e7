package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import graft.SparkSpec

class ParallelSpec extends SparkSpec {

  test("all: results in order; the first failure rethrows after completed siblings are disposed") {
    assert(Parallel.all(spark)(() => 1, () => 2, () => 3) === Seq(1, 2, 3))
    // disposal is the caller's scope: the completed siblings registered
    // their persisted frames there, and the rethrow releases them
    val before = cachedIds
    val completed = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val created = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val e = intercept[IllegalStateException] {
      Residency.scoped { s =>
        def persisted(n: Int): Int = {
          val d = s.persist(spark.range(n).toDF("id"))
          d.count()
          completed.add(n)
          (cachedIds -- before).foreach(created.add)
          n
        }
        Parallel.all(spark)(
          () => persisted(10), () => throw new IllegalStateException("boom"),
          () => persisted(30))
      }
    }
    assert(e.getMessage === "boom")
    assert(completed.toArray.toSet === Set(10, 30), "every sibling is awaited before the rethrow")
    assert(!created.isEmpty, "the siblings' frames were never cached")
    assertReleased(created.asScala.toSet)
  }

  test("all: a caller interrupt cancels pending siblings") {
    val started = new CountDownLatch(2)
    val siblingInterrupted = new CountDownLatch(2)
    @volatile var thrown: Throwable = null
    @volatile var flagKept = false
    def blocker(): Int = {
      started.countDown()
      try { Thread.sleep(60000); 0 }
      catch { case e: InterruptedException => siblingInterrupted.countDown(); throw e }
    }
    val caller = new Thread(() => {
      try Parallel.all(spark)(() => blocker(), () => blocker())
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
  }
}
