package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end parity build over FIXTURES.md §A synthetic inputs: all 11
  * PK-gated tables, golden values including the fed-min-wage series the
  * reference notebook displays. */
class StateEconomicsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tables: Map[String, org.apache.spark.sql.DataFrame] = {
    val dir = Files.createTempDirectory("graft_fixtures")
    StateEconomics.build(spark, Fixtures.writeAll(dir))
  }

  test("build produces the 11 reference tables and every PK gate passes") {
    // build() runs checkPrimaryKey on all 11 — reaching here means no gate threw
    assert(tables.keySet === Set(
      "table_location", "table_Unemployment", "table_HouseholdIncome2021",
      "table_gdp", "table_industry", "table_school_expense_type",
      "table_school_expenses", "table_state_min_wage", "table_inflation",
      "table_CPI", "table_fed_min_wage"))
  }

  test("location: full-outer geo union, * cleaned, PR name backfilled (J1+F10/F6)") {
    val loc = tables("table_location")
      .orderBy("GeoFIPS").as[(Int, String, Option[Double])].collect()
    assert(loc.map(_._1).sameElements(Array(0, 1000, 2000, 8000, 72000)))
    assert(loc.head._2 === "United States")          // '*' stripped + trimmed
    assert(loc.last._2 === "Puerto Rico")            // coalesce from unemp Name
    assert(loc.head._3.isEmpty)                      // blank Region → null
    assert(loc(1)._3.contains(5.0))
  }

  test("unemployment: melted years, null cells dropped (W1)") {
    val u = tables("table_Unemployment")
    assert(u.count() === 6)  // AL×2, AK×2, CO 2014 only, PR 2014 only
    val al2014 = u.filter($"GeoFIPS" === 1000 && $"Year" === 2014)
      .select("Unemployment_Rate").as[Double].head()
    assert(al2014 === 4.5)
  }

  test("household income: money parse, PR's null dropped (F2)") {
    val inc = tables("table_HouseholdIncome2021")
      .orderBy("GeoFIPS").as[(Int, Double)].collect()
    assert(inc.sameElements(Array((1000, 53990.0), (2000, 77790.0), (8000, 82254.0))))
  }

  test("gdp: (NA) coerced + dropped, ×1e6 scale, quoted FIPS cleaned (F2/F3/F7)") {
    val gdp = tables("table_gdp")
    // AL Farms 1998 was (NA) → absent; 1997 present
    assert(gdp.filter($"GeoFIPS" === 1000 && $"Industry_Code" === 2).count() === 1)
    val farms97 = gdp.filter($"GeoFIPS" === 1000 && $"Industry_Code" === 2 && $"Year" === 1997)
      .select("GDP").as[Double].head()
    assert(farms97 === 1744.0 * 1e6)
    assert(gdp.filter($"GeoFIPS" === 0).count() === 2) // US from quoted "00000"
  }

  test("industry: deduped dimension with trimmed descriptions (F5)") {
    val ind = tables("table_industry").orderBy("Industry_Code")
      .as[(Int, String)].collect()
    assert(ind.sameElements(Array((1, "All industry total"), (2, "Farms"))))
  }

  test("school expense types: ordinal surrogate keys over natural-key order (A6)") {
    val et = tables("table_school_expense_type")
      .orderBy("School_Expense_Type_Id")
      .as[(Long, String, String, String)].collect()
    assert(et.sameElements(Array(
      (0L, "Private", "4-year", "Fees/Tuition"),
      (1L, "Private", "4-year", "Room/Board"),
      (2L, "Public In-State", "2-year", "Fees/Tuition"))))
  }

  test("school expenses: joined to surrogate ids, non-location states dropped (J2/J3)") {
    val se = tables("table_school_expenses")
    assert(se.count() === 5)                          // DC row dropped
    val al2020 = se.filter($"Year" === 2020 && $"GeoFIPS" === 1000 &&
        $"School_Expense_Type_Id" === 0)
      .select("Expense_Amount").as[Int].head()
    assert(al2020 === 13983)
  }

  test("state min wage: territories dropped by location join (J4)") {
    val smw = tables("table_state_min_wage")
    assert(smw.count() === 6)                         // Guam's 1968 row dropped
    assert(smw.filter($"GeoFIPS" === 1000 && $"Year" === 2017)
      .select("State_Min_Wage").as[Double].head() === 0.0)
  }

  test("inflation: 0-wage NaN multipliers excluded from the Year mean (F8/A1/A2)") {
    val infl = tables("table_inflation").orderBy("Year")
      .as[(Int, Double)].collect().toMap
    // 1968: Alabama 0/0 excluded; mean of AK 15.61/2.1, CO 7.43, Guam 7.432
    val expected1968 = (15.61 / 2.1 + 7.43 + 9.29 / 1.25) / 3
    assert(math.abs(infl(1968) - expected1968) < 1e-9)
    val expected2017 = (10.33 / 9.8 + 9.8 / 9.3) / 2
    assert(math.abs(infl(2017) - expected2017) < 1e-9)
  }

  test("CPI table keyed by year (dedup W3)") {
    val cpi = tables("table_CPI").orderBy("Year").as[(Int, Double)].collect()
    assert(cpi.sameElements(Array((1968, 34.8), (2017, 245.1))))
  }

  test("fed min wage: the notebook's golden series (1968→1.15, 2017→7.25)") {
    val fed = tables("table_fed_min_wage").orderBy("Year")
      .as[(Int, Double)].collect()
    assert(fed.sameElements(Array((1968, 1.15), (2017, 7.25))))
  }

  test("incremental fed-min-wage (AvailableNow file stream) ≡ batch table") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_inc")
    val in = Fixtures.writeAll(dir)
    val enc = graft.io.Sources.detectCharset(in.minWageCsv)
    // schema from the batch reader — a file stream cannot infer
    val schema = graft.io.Sources.csv(spark, in.minWageCsv, encoding = enc).schema
    // a file stream source reads a DIRECTORY of arriving files
    val dropDir = Files.createTempDirectory("graft_inc_drops")
    Files.copy(java.nio.file.Paths.get(in.minWageCsv),
      dropDir.resolve("min_wage.csv"))
    val q = StateEconomics.fedMinWageStream(spark, dropDir.toString, schema, enc)
      .writeStream.format("memory").queryName("fmw_inc")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val stream = spark.table("fmw_inc").orderBy("Year").as[(Int, Double)].collect()
    val batch = tables("table_fed_min_wage").orderBy("Year").as[(Int, Double)].collect()
    assert(stream.sameElements(batch))
  }

  test("incremental fed-min-wage: a Year group with a null wage resolves to null (dedupKeys parity)") {
    import org.apache.spark.sql.streaming.Trigger
    // batch dedupKeys orders nulls first, so dirty data must yield null —
    // a bare streaming min() would skip the null and silently diverge
    val dropDir = Files.createTempDirectory("graft_inc_nulls")
    val csv = dropDir.resolve("mw.csv")
    Files.writeString(csv,
      "Year,State,Federal.Minimum.Wage\n1970,Alabama,N/A\n1970,Alaska,1.60\n1971,Alabama,1.60\n")
    val schema = graft.io.Sources.csv(spark, csv.toString).schema
    val q = StateEconomics.fedMinWageStream(spark, dropDir.toString, schema)
      .writeStream.format("memory").queryName("fmw_nulls")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("fmw_nulls").orderBy("Year")
      .as[(Int, Option[Double])].collect()
    assert(rows.sameElements(Array((1970, None), (1971, Some(1.60)))))
  }

  test("profiling the built tables (the reference's per-table report DAG)") {
    // profiling.py:59-79 loops the 11 loaded tables through ProfileReport →
    // html; here: single-pass Profile over a built table + report render.
    val p = graft.profile.Profile.profile(tables("table_fed_min_wage"),
      "table_fed_min_wage", exact = true)
    assert(p.rows === 2 && p.duplicateRows === 0)
    val yr = p.profiles.find(_.name == "Year").get
    assert(yr.min.contains(1968.0) && yr.max.contains(2017.0) && yr.missing === 0)
    val html = graft.profile.Profile.toHtml(p)
    assert(html.contains("table_fed_min_wage") && html.contains("Fed_Min_Wage"))
  }

  test("the load ships the gated rows: a source rewritten after build does not reach the tables") {
    val in = Fixtures.writeAll(Files.createTempDirectory("graft_fixtures_reload"))
    val built = StateEconomics.build(spark, in)
    val cpiRows = built("table_CPI").count()
    // Blank one row's Year in place. The byte length stays the same, so
    // the file listing Spark holds for the build's scans still covers it.
    val mwPath = java.nio.file.Paths.get(in.minWageCsv)
    val bytes = Files.readAllBytes(mwPath)
    val text = new String(bytes, "windows-1252")
    val at = text.indexOf("\n2017,Colorado,") + 1
    Files.write(mwPath, (text.take(at) + "    " + text.drop(at + 4)).getBytes("windows-1252"))
    assert(Files.size(mwPath) === bytes.length.toLong)
    Seq("table_CPI", "table_fed_min_wage").foreach { t =>
      assert(built(t).filter($"Year".isNull).count() === 0, s"$t holds a null Year the gate never saw")
    }
    assert(built("table_CPI").count() === cpiRows)
    // the rewrite is a real violation: a fresh build over it is refused
    intercept[graft.quality.PrimaryKeyViolation](StateEconomics.build(spark, in))
  }

  test("the returned tables are computed once: reading them scans no input and reshuffles nothing") {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import java.util.concurrent.atomic.AtomicLong
    def nodes(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(nodes)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val mapTasks, shuffleRecords = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ShuffleMapTask") {
          mapTasks.incrementAndGet()
          shuffleRecords.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(nodes(s.sparkPlanInfo))
        case _ =>
      }
    }
    val built = tables
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      built.values.foreach(_.count())
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // Task input metrics also count a pin's block reads, so "no input"
    // is read off the plans: each count's only leaf is its pin's RDD
    // scan and its only exchange is the count's own.
    import scala.jdk.CollectionConverters._
    assert(plans.size === 11)
    plans.asScala.foreach { p =>
      assert(p.filter(_.startsWith("Scan")) === Seq("Scan ExistingRDD"), p.mkString(" / "))
      assert(p.count(_ == "Exchange") === 1, p.mkString(" / "))
    }
    // nothing but the counts' partial rows, one per map task, is shuffled
    assert(mapTasks.get > 0 && shuffleRecords.get <= mapTasks.get,
      s"$shuffleRecords shuffle records from $mapTasks map tasks")
  }

  test("negative: a null PK in a source makes the matching gate throw (A5)") {
    // Corrupt the min-wage fixture with an empty Year — dedup keeps
    // null-keyed rows, so table_CPI's (Year) gate must reject the build,
    // mirroring the reference's ValueError (dag1.py:71-79).
    val dir = Files.createTempDirectory("graft_fixtures_bad")
    val in = Fixtures.writeAll(dir)
    val mwPath = java.nio.file.Paths.get(in.minWageCsv)
    val corrupted = new String(Files.readAllBytes(mwPath), "windows-1252") +
      "\n,Nowhere,1.0,1.0,1.15,8.55,34.8,,1.0,1.0,"
    Files.write(mwPath, corrupted.getBytes("windows-1252"))
    val e = intercept[graft.quality.PrimaryKeyViolation] {
      StateEconomics.build(spark, in).values.foreach(_.count())
    }
    assert(e.nullKeyRows > 0)
  }
}
