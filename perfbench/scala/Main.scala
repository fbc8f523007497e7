package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What one run is told by `run.py`. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     runDir: Path, dataDir: String, faces: Seq[(String, Long)],
                     spark: SparkSession,
                     sampler: Option[JvmProbes.Sampler], counters: SparkCounters) {

  /** A fresh directory under the run directory. */
  def dir(name: String): Path = Files.createDirectories(runDir.resolve(name))

  private var ops = 0

  /** Runs `op` (with a run-wide op index) until `seconds` have passed, at
    * least once, between the `timed_start`/`timed_end` marks. A traced run
    * first runs the same region untraced (`plain_start`/`plain_end`), so
    * the tracing overhead is measured against it in the same JVM. */
  def timedRegion(op: Int => Unit): Unit = {
    settle()
    if (trace) region(op, "plain", traced = false)
    region(op, "timed", traced = trace)
    // live heap at the end of the region, as one more GC sample
    settle()
  }

  /** A full GC, which also hands the shuffles and broadcasts of dropped
    * plans to Spark's context cleaner, then a quiet listener bus. Before
    * the region it keeps set-up's leftovers out of the first timed
    * operation, which otherwise ran slower than the ones after it. */
  private def settle(): Unit = {
    System.gc()
    counters.drain()
  }

  private def region(op: Int => Unit, name: String, traced: Boolean): Unit = {
    val cpu0 = JvmProbes.processCpuNs()
    Trace.enabled = traced
    if (traced) sampler.foreach(_.on = true)
    val t0 = Record.now()
    Record.mark(s"${name}_start")
    val end = t0 + (seconds * 1e9).toLong
    val first = ops
    while (ops == first || Record.now() < end) { op(ops); ops += 1 }
    Record.mark(s"${name}_end")
    sampler.foreach(_.on = false)
    Trace.enabled = false
    Record.value(s"${name}.cpu_s", (JvmProbes.processCpuNs() - cpu0) / 1e9)
  }

  def persistedRdds(): Int = spark.sparkContext.getPersistentRDDs.size

  /** The persisted-RDD count before and after `body`, recorded as a
    * `cache` record of `series`: what the call left cached. Returns the
    * result and the difference. */
  def cacheDelta[T](series: String)(body: => T): (T, Int) = {
    val before = persistedRdds()
    val r = body
    val after = persistedRdds()
    Record.add("cache", series, Record.now(), before, after)
    (r, after - before)
  }
}

/** Benchmark harness entry point. `run.py` builds it together with the
  * program and launches one JVM per run:
  *
  * {{{
  *   Main --workload <etl_refresh|faces_sweep>
  *        --seed <n> --seconds <s> --trace <0|1> --run-dir <dir>
  *        --data-dir <dir> --faces name:rows,... --out <records file>
  *   Main gen <seed> <dir> [counties] [lines]   (the input generator alone)
  * }}}
  *
  * The JVM writes raw records (samples, spans, Spark events, checks) to
  * `--out`; `run.py` computes and prints the metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("gen")) { InputGen.main(args.tail); return }
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val runDir = Paths.get(kv("run-dir")).toAbsolutePath
    Files.createDirectories(runDir)
    val cores = Runtime.getRuntime.availableProcessors()
    val trace = kv("trace") == "1"
    JvmProbes.installGc()
    val t0 = Record.now()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", runDir.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = SparkCounters.install(spark.sparkContext)
    Record.value("session_s", (Record.now() - t0) / 1e9)
    val sampler = if (trace) Some(new JvmProbes.Sampler(50)) else None
    sampler.foreach(_.start())
    val faces = kv.getOrElse("faces", "").split(",").filter(_.nonEmpty).map { f =>
      val i = f.lastIndexOf(':'); (f.substring(0, i), f.substring(i + 1).toLong)
    }.toSeq
    val ctx = Ctx(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, trace,
      runDir, kv.getOrElse("data-dir", ""), faces, spark, sampler, counters)
    val out = kv("out")
    try {
      ctx.workload match {
        case "etl_refresh" => Etl.run(ctx)
        case "faces_sweep" => Faces.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        Record.check("run_completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      sampler.foreach { s =>
        s.finish()
        s.counts.forEach((layer, n) => Record.add("layer", layer, n))
        Record.add("ticks", s.ticks)
      }
      Record.write(out)
      spark.stop()
    }
  }
}
