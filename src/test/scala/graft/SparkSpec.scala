package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall time otherwise). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Walk an EXECUTED physical plan through every AQE wrapper: both
    * `AdaptiveSparkPlanExec` and the `QueryStageExec` family
    * (Shuffle/Broadcast/ResultQueryStage) are LEAF nodes whose real
    * subtree hangs off a field, not `children` — a naive walker sees
    * only the wrapper and makes any exists/isEmpty assertion on plan
    * nodes silently vacuous. ONE shared implementation so a new wrapper
    * node gets fixed in one place. */
  def allPlanNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a +: allPlanNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: allPlanNodes(q.plan)
    case other => other +: other.children.flatMap(allPlanNodes)
  }

  /** The persisted-RDD ids registered now, copied. The registry map's
    * own key set (`getPersistentRDDs.keySet`, and `.keySet.toSet`, which
    * returns that same set) keeps the whole map — RDDs included —
    * reachable, so a snapshot taken that way would keep checkpoint pins
    * alive and a wait for their collection would never end. */
  def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** Residency assertion for "the call under test leaked no cached
    * frames": wait (bounded) until none of `created` — the DELTA of
    * persisted-RDD ids snapshotted around the call — remains registered.
    * Residency tests must NEVER assert on the registry's global SIZE:
    * the asynchronous ContextCleaner and concurrently-running suites on
    * the shared session mutate the global map underneath the test (the
    * round-19 at-HEAD `sbt test` flake). The id-set delta is immune to
    * the cleaner reaping OLD entries, and the bounded retry drains a
    * sibling suite's transient persist that happened to land inside this
    * test's snapshot window; a genuine leak stays registered forever and
    * still fails after the timeout. */
  def assertReleased(created: Set[Int], timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var leaked = cachedIds & created
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      leaked = cachedIds & created
    }
    assert(leaked.isEmpty,
      s"persisted RDD ids leaked by the call under test: $leaked")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
