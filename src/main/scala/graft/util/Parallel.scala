package graft.util

import org.apache.spark.sql.SparkSession

/** Overlap independent, blocking Spark driver actions (optimization-guide
  * §2.6: Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially). The train-heavy operators (PQ's m seeded codebook
  * fits, IVF-PQ's coarse + product quantizers, the per-column rank-map
  * builds) issue many short independent job chains whose wall time was
  * dominated by sequential scheduling gaps, not compute — overlapping
  * them lets the next chain's tasks back-fill cores freed by the current
  * chain's tail.
  *
  * Determinism: each thunk's RESULT is independent of scheduling (seeded
  * fits, persisted frames); only wall-clock overlaps. FIFO scheduling
  * gives earlier-submitted jobs resource priority, which is exactly the
  * back-fill behaviour wanted here. */
object Parallel {

  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-parallel")
      t.setDaemon(true)
      t
    })

  /** Run the thunks concurrently, return results in order. The active
    * SparkSession is re-pinned inside each task: pooled threads are
    * reused across callers, so the inheritable thread-local may hold a
    * stale (or no) session, and driver-side planning reads SQLConf
    * through it. Failures rethrow the ORIGINAL cause (fail-fast guard
    * exceptions must keep their types for callers and specs).
    *
    * Failure discipline: EVERY sibling future is awaited before the
    * first failure rethrows — an early rethrow would leave sibling Spark
    * jobs running (and their persisted frames materializing) behind the
    * caller's back. Thunks that persist register their frames with the
    * caller's [[Residency.Scope]], which releases the completed
    * siblings' frames when the rethrow leaves it. An interrupt of the
    * waiting caller cancels the pending siblings and rethrows the
    * `InterruptedException` with the caller's interrupt flag set. */
  def all[A](session: SparkSession)(thunks: (() => A)*): Seq[A] = {
    val futs = thunks.map { th =>
      pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = {
          SparkSession.setActiveSession(session)
          th()
        }
      })
    }
    val results: Seq[Either[Throwable, A]] = futs.map { f =>
      try Right(f.get())
      catch {
        case e: java.util.concurrent.ExecutionException =>
          Left(e.getCause)
        case e: InterruptedException =>
          // the caller was interrupted: keep its flag, stop waiting and
          // cancel the siblings still pending (interrupting their Spark
          // waits), so the interrupt surfaces now, not after every job
          Thread.currentThread().interrupt()
          futs.foreach(_.cancel(true))
          Left(e)
        case e: Throwable => Left(e)
      }
    }
    // an interrupt outranks a sibling's failure: it is why the wait ended
    results.collectFirst { case Left(t: InterruptedException) => t }
      .orElse(results.collectFirst { case Left(t) => t })
      .foreach(first => throw first)
    results.collect { case Right(a) => a }
  }

  /** Two differently-typed independent actions, concurrently. */
  def par2[A, B](session: SparkSession)(fa: () => A, fb: () => B): (A, B) = {
    val r = all[Any](session)(fa, fb)
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
