package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Residency

/** Distributed prefix-sum scan — the scale-safe replacement for a global
  * `Window.orderBy(v)` with no `partitionBy`, which Spark plans as a
  * SINGLE-partition sort (every row moves to one task; the WindowExec
  * "No Partition Defined" warning). Cumulative/CDF shapes over a frame
  * whose cardinality grows with the data (distinct values of a continuous
  * column, a whole scored corpus) must not funnel through one task.
  *
  * Two passes instead:
  *   1. range-repartition on the ordering, so partition `i` holds a
  *      contiguous slice of the sort order and partitions are themselves
  *      ordered; per-partition local running sums (parallel — each task
  *      sorts only its own slice);
  *   2. per-partition totals (numPartitions rows — constant-size, NOT
  *      data-sized) → exclusive running offsets via a triangular
  *      self-join on that tiny frame → broadcast back and added.
  *
  * No step plans an unpartitioned window: the offset accumulation is a
  * constant-size O(numParts²) join, chosen over a window so the helper
  * is warning-free end to end.
  */
object Scan {

  /** Running (inclusive-prefix) sums of `sumCols` over `df` in `orderBy`
    * order. Appends one `<c>_cum` column per input sum column.
    *
    * CALLER CONTRACT: `orderBy` must be a TOTAL order over `df` (no two
    * rows may tie on every sort expression — aggregate by the order
    * column first, or add a unique key as the last sort expression; all
    * in-repo call sites do one or the other). With ties the
    * within-partition row-frame sums would be tie-order-dependent and
    * the result nondeterministic.
    *
    * The returned frame is PERSISTED (the range-partitioned intermediate
    * is materialized once so both the local-sum branch and the totals
    * branch observe the same partition boundaries — `spark_partition_id`
    * on a recomputed shuffle is not stable — and is released before
    * return). Callers should `unpersist()` the result when done, or
    * `adopt` it into the [[graft.util.Residency.Scope]] that shapes it.
    * When `df` is corpus-sized the persisted result is the honest cost
    * of an exact global scan: a narrow MEMORY_AND_DISK frame that spills
    * rather than recomputing the upstream pipeline per consumer. */
  def prefixSums(df: DataFrame, orderBy: Seq[Column], sumCols: Seq[String],
                 partitions: Int = 0): DataFrame = Residency.eager { s =>
    require(orderBy.nonEmpty, "need at least one ordering expression")
    require(sumCols.nonEmpty, "need at least one column to sum")
    val spark = df.sparkSession
    // SCALE-ADAPTIVE width (guide §2.2): with no explicit `partitions`,
    // the range exchange is left UNPINNED so AQE coalesces it to the
    // data's actual size — a KB-scale counts frame runs as one task
    // instead of `spark.sql.shuffle.partitions` micro-tasks, and a
    // corpus-sized frame keeps the session width. The construction is
    // width-independent (per-partition sums + offset frame, `__pid` read
    // AFTER the exchange and pinned by the persist below), so values are
    // identical at any partition count. An explicit `partitions` pins
    // the width as before; with AQE off the unpinned form falls back to
    // the session width — the previous behavior exactly.
    val ranged0 =
      if (partitions > 0) df.repartitionByRange(partitions, orderBy: _*)
      else df.repartitionByRange(orderBy: _*)
    val ranged = s.persist(ranged0.withColumn("__pid", spark_partition_id()))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sumCols.foldLeft(ranged) { (d, c) =>
      d.withColumn(s"__run_$c", sum(col(c)).over(wLocal))
    }
    // Totals per partition, then the EXCLUSIVE running offset each
    // partition inherits from its predecessors. This frame has
    // numPartitions rows, so the triangular self-join is O(numParts²) on
    // a constant-size frame.
    val totalAggs = sumCols.map(c => sum(col(c)).as(s"__t_$c"))
    val offsets = ranged.groupBy("__pid").agg(totalAggs.head, totalAggs.tail: _*)
    val offAggs = sumCols.map(c => sum(col(s"__t_$c")).as(s"__off_$c"))
    val offsetCum = offsets.select(col("__pid").as("__p"))
      .join(offsets, col("__pid") < col("__p"), "left")
      .groupBy("__p")
      .agg(offAggs.head, offAggs.tail: _*)
      .withColumnRenamed("__p", "__pid")
    local.join(broadcast(offsetCum), Seq("__pid"))
      .select(df.columns.map(col) ++ sumCols.map { c =>
        (col(s"__run_$c") + coalesce(col(s"__off_$c"), lit(0L)))
          .as(s"${c}_cum")
      }: _*)
  }
}
