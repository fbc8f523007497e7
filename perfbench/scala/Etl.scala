package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Sinks
import graft.pipeline.{EconomicsInputs, StateEconomics}
import graft.profile.Profile

/** `etl_refresh`: repeated full refreshes of the paper's job. One refresh
  * is `StateEconomics.build` (all 11 PK gates), the 11 tables written
  * through `io.Sinks`, and a profile of each table. */
object Etl {
  val Counties = 300
  val Lines = 15

  def inputs(g: InputGen.Generated): EconomicsInputs =
    EconomicsInputs(g.unemploymentXlsx, g.gdpCsv, g.schoolExpenseCsv, g.minWageCsv)

  /** One full refresh: the build with its 11 PK gates, then each table's
    * load task — write through the sink, profile what was written — with
    * the 11 independent tasks overlapped through `util.Parallel`, as a
    * scheduler runs a DAG's per-table tasks. Profiling reads the loaded
    * table, so it does not re-run the pipeline's plan; the profile is the
    * per-column report without the pairwise association tables, which
    * more than double a refresh's time (README). */
  def refresh(spark: SparkSession, in: EconomicsInputs, out: Path): Unit = {
    val tables = Trace.span("pipeline.build")(StateEconomics.build(spark, in))
    graft.util.Parallel.all(spark)(tables.toSeq.sortBy(_._1).map { case (name, df) =>
      () => {
        val path = out.resolve(name).toString
        Trace.span("io.sink")(Sinks.csv(df, path, coalesce = 1))
        Trace.span("profile.report")(Profile.profile(
          spark.read.option("header", true).schema(df.schema).csv(path), name,
          associations = false))
      }
    }: _*)
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Row count and order-independent content hash of each written table. */
  def digest(spark: SparkSession, out: Path, names: Seq[String]): Map[String, (Long, Long)] =
    names.map { n =>
      val df = spark.read.option("header", true).csv(out.resolve(n).toString)
      val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col): _*)), lit(0L)))
        .head()
      n -> ((r.getLong(0), r.getLong(1)))
    }.toMap

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // set-up: the seeded inputs and one cold refresh
    val warm = ctx.dir("refresh_warm")
    val (gen, in) = Timed("setup") {
      val gen = InputGen.write(ctx.dir("inputs"), ctx.seed, Counties, Lines)
      val in = inputs(gen)
      Timed("warmup")(refresh(spark, in, warm))
      (gen, in)
    }
    var last = warm
    ctx.timedRegion { i =>
      val out = ctx.dir(s"refresh_$i")
      ctx.cacheDelta("refresh")(Timed("refresh")(refresh(spark, in, out)))
      Record.add("bytes_written", bytesUnder(out))
      last = out
    }
    // every table's count matches the generator, and count + content hash
    // repeat between the warm-up refresh and the last timed one
    val names = gen.expected.keys.toSeq.sorted
    val a = digest(spark, warm, names)
    val b = digest(spark, last, names)
    names.foreach { n =>
      Record.check(s"etl.count.$n", a(n)._1 == gen.expected(n),
        s"rows ${a(n)._1}, generator expects ${gen.expected(n)}")
      Record.check(s"etl.repeat.$n", a(n) == b(n), s"warm ${a(n)} vs last ${b(n)}")
    }
  }
}
