package perfbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** `faces_sweep`: a fixed list of registry faces over the committed sf0.1
  * test tables, each run as `SparkEntry.queries(name)(spark, dir)
  * .queryExecution.toRdd.count()` — the registry's own timing contract.
  * Set-up is one cold pass over every face; the timed region repeats
  * passes. The seed only permutes the order. */
object Faces {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    require(ctx.faces.nonEmpty, "faces_sweep needs --faces")
    val registry = graft.SparkEntry.queries
    val unknown = ctx.faces.map(_._1).filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown faces: ${unknown.mkString(", ")}")
    val rows = scala.collection.mutable.Map[String, Long]()

    def face(name: String, series: String): Unit = {
      val ((n, plan), _) = ctx.cacheDelta(series)(Trace.span(s"queries.$name")(Timed(series) {
        val df = registry(name)(spark, ctx.dataDir)
        (df.queryExecution.toRdd.count(), df.queryExecution.executedPlan)
      }))
      // untimed and after the persisted-RDD count, as in the registry's
      // bench: each face starts from an empty cache, so sweep position
      // does not decide its time
      spark.catalog.clearCache()
      Record.add("faceplan", name, nodes(plan).count(_.isInstanceOf[ShuffleExchangeLike]))
      rows(name) = n
    }

    // the residency counter sees a Dataset a call caches and leaves behind
    val (_, cached) = ctx.cacheDelta("cache_probe")(spark.range(16).cache().count())
    Record.check("cache.counter_sees_dataset_cache", cached > 0,
      s"persisted RDDs moved by $cached")
    spark.catalog.clearCache()

    Timed("setup")(Timed("warmup")(ctx.faces.foreach { case (n, _) => face(n, s"warm.$n") }))
    val r = new scala.util.Random(ctx.seed)
    ctx.timedRegion { _ =>
      r.shuffle(ctx.faces).foreach { case (n, _) => face(n, s"face.$n") }
    }
    ctx.faces.foreach { case (n, want) =>
      Record.check(s"faces.rows.$n", rows(n) == want, s"rows ${rows(n)}, expected $want")
    }
  }
}
