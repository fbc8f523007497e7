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
  * from Spark's codegen cache. Not part of the driver contract.
  *
  * {{{
  *   DebugProfile <sfDir> <face>...
  *   DebugProfile etl <xlsx> <gdp> <school> <mw> [reps]
  * }}}
  *
  * `etl` runs one cold and `reps` (default 3) warm refreshes of the
  * state-economics ETL — `StateEconomics.build`, the 11 tables written
  * through `Sinks.csv`, then each written table profiled — and prints,
  * per phase: wall time, process CPU, Janino compiles and compile
  * seconds, and Spark jobs. */
object DebugProfile {
  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // (Janino compiles, compile nanoseconds) so far in this JVM
  private def compiles(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  private def janino(from: (Long, Long)): String = {
    val (n, ns) = compiles()
    f"janino=${n - from._1}%d compiles ${(ns - from._2) / 1e6}%.0fms"
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("etl")) etl(args.tail) else faces(args)

  private def faces(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = session()
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

  private def etl(args: Array[String]): Unit = {
    import graft.pipeline.{EconomicsInputs, StateEconomics}
    require(args.length == 4 || args.length == 5,
      "usage: DebugProfile etl <xlsx> <gdp> <school> <mw> [reps]")
    val in = EconomicsInputs(args(0), args(1), args(2), args(3))
    val reps = args.lift(4).fold(3)(_.toInt)
    val spark = session()

    // job starts, and when the listener bus last delivered an event: the
    // bus is asynchronous, so a phase's job count is read once it is quiet
    val jobs = new java.util.concurrent.atomic.AtomicLong
    @volatile var lastEventNs = System.nanoTime()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); lastEventNs = System.nanoTime()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lastEventNs = System.nanoTime()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lastEventNs = System.nanoTime()
    })
    def quiet(): Unit = {
      val deadline = System.nanoTime() + 5000000000L
      while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
        Thread.sleep(50)
    }
    def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    def phase[A](name: String)(body: => A): A = {
      quiet()
      val (j0, c0, cpu0, t0) = (jobs.get, compiles(), cpuNs(), System.nanoTime())
      val r = body
      val (wall, cpu, jit) = (System.nanoTime() - t0, cpuNs() - cpu0, janino(c0))
      quiet()
      println(f"   $name%-8s wall=${wall / 1e9}%6.2fs cpu=${cpu / 1e9}%6.2fs $jit " +
        f"jobs=${jobs.get - j0}%d")
      r
    }

    val out = java.nio.file.Files.createTempDirectory("graft_etl_profile")
    try (0 to reps).foreach { i =>
      println(if (i == 0) "== etl cold refresh" else s"== etl warm refresh $i")
      val dir = out.resolve(s"refresh_$i")
      val tables = phase("build")(StateEconomics.build(spark, in)).toSeq.sortBy(_._1)
      def each[A](f: (String, org.apache.spark.sql.DataFrame) => A): Seq[A] =
        graft.util.Parallel.all(spark)(tables.map { case (n, df) => () => f(n, df) }: _*)
      phase("sinks")(each((n, df) => graft.io.Sinks.csv(df, dir.resolve(n).toString, coalesce = 1)))
      phase("profiles")(each((n, df) => graft.profile.Profile.profile(
        spark.read.option("header", true).schema(df.schema).csv(dir.resolve(n).toString), n,
        associations = false)))
    } finally {
      val s = java.nio.file.Files.walk(out)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
    spark.stop()
  }
}
