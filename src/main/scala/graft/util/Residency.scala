package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cache residency for multi-consumer operators: the one place the engine
  * persists, releases, checkpoints or lineage-cuts a frame.
  *
  * Operators like MinHash-LSH dedup persist corpus-sized intermediate
  * frames because several downstream consumers (self-join sides,
  * verification joins) would otherwise each re-derive the whole upstream
  * pipeline. In a long-lived session (QueryService, a bench loop) those
  * persists must not accumulate: an operator releases every frame it
  * persisted before it returns, leaving at most its (much smaller) result
  * cached. A [[Scope]] makes that structural — it releases what it
  * registered on success, throw or interrupt, so no call site writes its
  * own release guard. */
object Residency {

  private val Level = StorageLevel.MEMORY_AND_DISK

  /** The frames one [[scoped]] body registered. Thread-safe: thunks run
    * by [[Parallel.all]] inside the body may register concurrently, and a
    * failed sibling's completed persists are released with the rest. */
  final class Scope private[Residency] () {
    private[this] var held = List.empty[DataFrame]
    private[this] var open = true

    /** Persist `df` at MEMORY_AND_DISK (lazily, like `Dataset.persist`)
      * and register it for release when the scope exits. */
    def persist(df: DataFrame): DataFrame = adopt(df.persist(Level))

    /** Register a frame an operator already returned persisted (the
      * eager family's results), so this scope releases it. A frame
      * registered after the scope exited is released at once. */
    def adopt(df: DataFrame): DataFrame = {
      val registered = synchronized { if (open) held ::= df; open }
      if (!registered) {
        unpersist(df)
        throw new IllegalStateException("residency scope already exited")
      }
      df
    }

    /** Release a registered frame before the scope exits — loops that
      * replace a persisted frame per round keep one round's residency. */
    def release(df: DataFrame): Unit = {
      synchronized { held = held.filterNot(_ eq df) }
      unpersist(df)
    }

    /** A lineage cut: the same rows as `df` behind a single RDD leaf, so
      * iterative and multi-pass operators do not re-analyze the whole
      * accumulated plan at every eager step. A cut of a persisted frame
      * reads that frame's cache while it is resident; a persisted cut
      * is a materialized leaf of its own (the per-round loop frames). */
    def truncate(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.rdd, df.schema)

    private[Residency] def handOver(df: DataFrame): Boolean = synchronized {
      val had = held.exists(_ eq df)
      held = held.filterNot(_ eq df)
      had
    }

    private[Residency] def close(): Option[Throwable] = {
      val frames = synchronized { open = false; val h = held; held = Nil; h }
      frames.foldLeft(Option.empty[Throwable]) { (first, df) =>
        try { unpersist(df); first }
        catch { case scala.util.control.NonFatal(t) => first.orElse(Some(t)) }
      }
    }
  }

  /** Run `body`, then unpersist (blocking) every frame it registered —
    * on success, throw or interrupt. A release failure never masks the
    * body's own failure; on success the first one is rethrown. */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    val out = try body(s) catch {
      case t: Throwable =>
        s.close().foreach(t.addSuppressed)
        throw t
    }
    s.close().foreach(t => throw t)
    out
  }

  /** [[scoped]] for the eager operator family: the body's result is
    * persisted and materialized once through the registered frames
    * before they are released, and comes back persisted — callers that
    * invoke the operator repeatedly in one session `unpersist()` it when
    * done. If the materializing action throws, the half-materialized
    * result is released too: a failed call leaves no new cached frame.
    * A result the body registered itself is handed over as it is: the
    * body has already materialized it (iterative operators whose last
    * round is the answer). */
  def eager(body: Scope => DataFrame): DataFrame = scoped { s =>
    val result = body(s)
    if (s.handOver(result)) result
    else {
      val out = result.persist(Level)
      try { out.count(); out }
      catch { case t: Throwable => unpersist(out); throw t }
    }
  }

  /** Eagerly checkpoint `df` — reliably to the session's checkpoint
    * directory, or locally into executor storage — and return the
    * checkpointed frame. Pins are never released by a scope: the
    * returned frame's lineage reads their blocks. */
  def pin(df: DataFrame, reliable: Boolean = false): DataFrame =
    if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(true)

  /** Blocking unpersist, run with the caller's interrupt flag cleared: an
    * interrupted caller must still release (Spark's blocking removal
    * would otherwise throw before the registry entry is dropped); the
    * flag is restored afterwards. */
  private def unpersist(df: DataFrame): Unit = {
    val interrupted = Thread.interrupted()
    try df.unpersist(blocking = true)
    finally if (interrupted) Thread.currentThread().interrupt()
  }
}
