package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScanSpec extends SparkSpec {
  import spark.implicits._

  test("prefixSums: matches scanLeft reference, ascending and descending, multi-column") {
    val data = Seq((5L, 2L, 10L), (1L, 7L, 1L), (9L, 1L, 3L),
      (3L, 4L, 2L), (7L, 5L, 8L), (2L, 6L, 4L), (8L, 3L, 6L))
    val df = data.toDF("k", "x", "y").repartition(3)

    val ascDf = Scan.prefixSums(df, Seq(col("k").asc), Seq("x", "y"))
    val asc = ascDf.select("k", "x_cum", "y_cum").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    ascDf.unpersist(blocking = true)
    val sortedAsc = data.sortBy(_._1)
    var (cx, cy) = (0L, 0L)
    sortedAsc.foreach { case (k, x, y) =>
      cx += x; cy += y
      assert(asc(k) === ((cx, cy)), s"ascending cum at k=$k")
    }
    val descDf = Scan.prefixSums(df, Seq(col("k").desc), Seq("x"))
    val desc = descDf.select("k", "x_cum").as[(Long, Long)].collect().toMap
    descDf.unpersist(blocking = true)
    var c2 = 0L
    data.sortBy(-_._1).foreach { case (k, x, _) =>
      c2 += x
      assert(desc(k) === c2, s"descending cum at k=$k")
    }
  }

  test("prefixSums: correct when rows span many range partitions (and when partitions > rows)") {
    val n = 500
    val df = (0 until n).map(i => ((i * 7919) % 10007).toLong -> 1L)
      .toDF("k", "c")
    val outDf = Scan.prefixSums(df, Seq(col("k").asc), Seq("c"), partitions = 13)
    val out = outDf.select("k", "c_cum").as[(Long, Long)].collect().sortBy(_._1)
    outDf.unpersist(blocking = true)
    // distinct keys, unit weights: cum of the i-th smallest key is i+1
    assert(out.length === n)
    out.zipWithIndex.foreach { case ((_, cum), i) =>
      assert(cum === i + 1L)
    }
    val tiny = Seq((1L, 5L), (2L, 6L)).toDF("k", "c")
    val tinyDf = Scan.prefixSums(tiny, Seq(col("k").asc), Seq("c"), partitions = 8)
    val t = tinyDf.select("k", "c_cum").as[(Long, Long)].collect().toMap
    tinyDf.unpersist(blocking = true)
    assert(t === Map(1L -> 5L, 2L -> 11L))
  }

  test("prefixSums plan: no unpartitioned WindowExec (the single-partition scale hazard)") {
    val df = (0 until 100).map(i => (i.toLong, 1L)).toDF("k", "c")
    val out = Scan.prefixSums(df, Seq(col("k").asc), Seq("c"))
    out.collect()
    // the result is persisted: walk THROUGH InMemoryTableScan into the
    // cached plan, else the window nodes are invisible and the assertion
    // is vacuous
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      allPlanNodes(p).flatMap {
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          im +: walk(im.relation.cachedPlan)
        case other => Seq(other)
      }
    val windows = walk(out.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected to find the local-running-sum window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "every window in the prefix scan must be partitioned — a global " +
        "Window.orderBy funnels the data frame through ONE task")
    out.unpersist(blocking = true)
  }

  test("prefixSums: releases its range-partitioned intermediate (residency contract)") {
    // Snapshot the persisted-RDD ID SET around the call and assert on
    // the DELTA, never on the global size — the async ContextCleaner
    // and sibling suites on the shared session mutate the registry
    // underneath this test (the round-19 at-HEAD flake).
    val before = cachedIds
    val out = Scan.prefixSums(
      (0 until 50).map(i => (i.toLong, 2L)).toDF("k", "c"),
      Seq(col("k").asc), Seq("c"))
    val created = cachedIds -- before
    // the result frame is persisted (contract)...
    assert(out.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "prefixSums must return a persisted frame")
    // ...and once the caller releases it, nothing the call created may
    // remain: a leaked range-partitioned intermediate stays registered
    // forever and fails assertReleased after its retry bound.
    out.unpersist(blocking = true)
    assertReleased(created)
  }
}
