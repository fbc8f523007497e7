package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Scratch measurement harness (guide §1): per-face cold/warm wall time,
  * planning-vs-execution split, Janino compiles (count from Spark's
  * `CodegenMetrics`, milliseconds from `CodeGenerator.compileTime`), and a
  * per-stage breakdown (duration, task count, shuffle bytes) from a
  * SparkListener — the local-mode stand-in for the Stages tab. A warm run
  * that compiles as much as its cold run is recompiling classes evicted
  * from Spark's codegen cache. Not part of the driver contract. */
object DebugProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val stages = mutable.Map[Int, StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.synchronized { stages(sc.stageInfo.stageId) = sc.stageInfo }
    }
    spark.sparkContext.addSparkListener(listener)

    def dumpStages(tag: String, take: Int = 12): Unit = {
      val done = stages.synchronized(stages.values.toList)
        .filter(_.completionTime.isDefined)
      val stageWall = done.map(s =>
        s.completionTime.get - s.submissionTime.getOrElse(s.completionTime.get))
      println(f"   [$tag] stages=${done.size} stageWallSum=${stageWall.sum / 1e3}%.2f")
      done.sortBy(s => -(s.completionTime.get -
          s.submissionTime.getOrElse(s.completionTime.get)))
        .take(take).foreach { s =>
          val dur = (s.completionTime.get -
            s.submissionTime.getOrElse(s.completionTime.get)) / 1e3
          val m = s.taskMetrics
          println(f"   stage ${s.stageId}%4d ${dur}%6.2fs tasks=${s.numTasks}%4d " +
            f"run=${m.executorRunTime / 1e3}%7.2fs " +
            f"cpu=${m.executorCpuTime / 1e9}%7.2fs " +
            f"sRead=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
            f"sWrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
            f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB  ${s.name}")
        }
    }
    // (Janino compiles, compile nanoseconds) so far in this JVM
    def compiles(): (Long, Long) =
      (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
    def janino(from: (Long, Long)): String = {
      val (n, ns) = compiles()
      f"janino=${n - from._1}%d compiles ${(ns - from._2) / 1e6}%.0fms"
    }
    args.tail.foreach { name =>
      val fn = SparkEntry.queries(name)
      // cold run, with the planning cost isolated AND its own stage table
      // (per-JVM stored-layout builds happen here — invisible to the warm
      // table)
      stages.synchronized(stages.clear())
      val c0 = compiles()
      val t0 = System.nanoTime()
      val dfCold = fn(spark, sfDir)
      val qe = dfCold.queryExecution
      qe.executedPlan // analysis + optimization + physical planning
      val tPlanned = System.nanoTime()
      qe.toRdd.count()
      val tCold = System.nanoTime()
      spark.catalog.clearCache()
      println(f"== $name cold=${(tCold - t0) / 1e9}%.2f " +
        f"(plan=${(tPlanned - t0) / 1e9}%.2f) ${janino(c0)}")
      dumpStages("cold")
      // warm run with stage capture
      stages.synchronized(stages.clear())
      val c1 = compiles()
      val t1 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val tWarm = System.nanoTime()
      spark.catalog.clearCache()
      println(f"== $name warm=${(tWarm - t1) / 1e9}%.2f ${janino(c1)}")
      dumpStages("warm")
    }
    spark.stop()
  }
}
