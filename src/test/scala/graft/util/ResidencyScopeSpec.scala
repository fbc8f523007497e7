package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Unit contract of [[Residency]]: a scope releases exactly what it
  * registered — on success, throw and interrupt — and an eager scope
  * leaves only its result cached. */
class ResidencyScopeSpec extends SparkSpec {

  private def frame(n: Int): DataFrame = spark.range(0, n, 1, 4).toDF("id")

  private def isCached(d: DataFrame): Boolean =
    d.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  /** Persist and materialize `df` in `s`; returns it with the cache ids
    * its materialization created. */
  private def resident(s: Residency.Scope, df: DataFrame): (DataFrame, Set[Int]) = {
    val before = cachedIds
    val d = s.persist(df)
    d.count()
    (d, cachedIds -- before)
  }

  test("eager success: the intermediates are released, only the result stays cached") {
    val before = cachedIds
    var inside = Set.empty[Int]
    val out = Residency.eager { s =>
      val (a, ia) = resident(s, frame(100))
      val (b, ib) = resident(s, frame(50).select((col("id") * 2).as("id")))
      inside = ia ++ ib
      a.join(b, "id")
    }
    assert(inside.size === 2)
    val left = cachedIds -- before
    assert(left.size === 1 && (left & inside).isEmpty,
      s"expected the result alone cached, got $left")
    assert(out.count() === 50)
    out.unpersist(blocking = true)
    assertReleased(left ++ inside)
  }

  test("a throw after N registrations leaves nothing cached, " +
      "including the half-materialized result") {
    val before = cachedIds
    var inside = Set.empty[Int]
    val e = intercept[Exception] {
      Residency.eager { s =>
        inside = (1 to 3).flatMap(i => resident(s, frame(10 * i))._2).toSet
        // the last partition fails after the others cached their blocks
        spark.range(0, 100, 1, 4).select(
          when(col("id") === 99, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
      }
    }
    assert(e.getMessage.contains("boom"), e.getMessage)
    assert(inside.size === 3)
    assertReleased(inside ++ (cachedIds -- before))
    assert((cachedIds -- before).isEmpty)
  }

  test("an interrupted caller still releases, and keeps its interrupt flag") {
    val registered = new CountDownLatch(1)
    @volatile var inside = Set.empty[Int]
    @volatile var thrown: Throwable = null
    @volatile var flagKept = false
    val caller = new Thread(() => {
      try Residency.scoped { s =>
        inside = resident(s, frame(100))._2
        registered.countDown()
        while (!Thread.currentThread().isInterrupted) Thread.onSpinWait()
        // the release runs with the flag still set, as after an
        // interrupted Spark wait that restores it
        throw new InterruptedException("cancelled")
      } catch {
        case t: Throwable => thrown = t; flagKept = Thread.currentThread().isInterrupted
      }
    })
    caller.start()
    assert(registered.await(30, TimeUnit.SECONDS), "body never registered")
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive)
    assert(thrown.isInstanceOf[InterruptedException], s"got $thrown")
    assert(flagKept, "interrupt flag lost")
    assert(inside.nonEmpty)
    assertReleased(inside)
  }

  test("concurrent Parallel.all thunks register into one scope") {
    val before = cachedIds
    var inside = Set.empty[Int]
    val frames = Residency.scoped { s =>
      val frames = Parallel.all(spark)((1 to 4).map { i =>
        () => { val d = s.persist(frame(10 * i)); d.count(); d }
      }: _*)
      assert(frames.map(_.count()) === Seq(10L, 20L, 30L, 40L))
      assert(frames.forall(isCached))
      inside = cachedIds -- before
      frames
    }
    assert(!frames.exists(isCached), "a thunk's frame outlived the scope")
    assert(inside.size >= 4)
    assertReleased(inside)
  }

  test("release inside a loop keeps one round resident") {
    val before = cachedIds
    var seen = Set.empty[Int]
    val total = Residency.scoped { s =>
      var (cur, ids) = resident(s, frame(10))
      seen ++= ids
      for (_ <- 1 to 4) {
        val (next, nids) = resident(s, s.truncate(cur).select((col("id") + 1).as("id")))
        seen ++= nids
        s.release(cur)
        cur = next
        assert((cachedIds -- before).size === 1, "more than one round resident")
      }
      cur.agg(sum("id")).head().getLong(0)
    }
    assert(total === (0 until 10).map(_ + 4L).sum)
    assert(seen.size === 5)
    assertReleased(seen)
  }

  test("a registered result is handed over; a late registration is refused") {
    val before = cachedIds
    var scope: Residency.Scope = null
    val out = Residency.eager { s => scope = s; resident(s, frame(20))._1 }
    val left = cachedIds -- before
    assert(left.size === 1, "the handed-over result was released")
    out.unpersist(blocking = true)
    assertReleased(left)
    val late = frame(30)
    intercept[IllegalStateException](scope.persist(late))
    assert(!isCached(late))
  }
}
