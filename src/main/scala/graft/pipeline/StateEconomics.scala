package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expr.Exprs
import graft.io.{Sources, Xlsx}
import graft.ops.Ops
import graft.quality.Quality
import graft.util.{Parallel, Residency}

/** The reference's full ETL pipeline re-expressed in Spark:
  * 4 heterogeneous sources → 11 normalized, PK-validated tables
  * (dag1.py:21-180,229-241; table docs Pipeline_Details.pdf pp. 2-4).
  *
  * Where the reference materialized every intermediate through Airflow XCom
  * JSON (dag1.py:42-59,125-129), here the intermediates stay lazy:
  * Catalyst prunes columns and pushes filters all the way to the scans,
  * and nothing is serialized between "tasks". Only the 11 finished tables
  * are materialized: each is computed once into a pin (the two tables
  * that join to a dimension read that dimension's pin), the gate checks
  * the pins, and the pinned rows are what the caller loads, as the
  * reference checks and loads the same frame (dag1.py:71-79,199-209,
  * 272-287).
  *
  * Key semantic decisions carried over (SURVEY §7.4):
  *   - GeoFIPS is a canonical INT key end-to-end; zero-padding is
  *     presentation only (Exprs.fipsPad).
  *   - lenient numeric parsing: "(NA)" → null (try_cast), money strings
  *     parsed with [$,] strip.
  *   - 0-wage states produce 0/0 = NaN inflation multipliers which must be
  *     EXCLUDED from the Year-mean like pandas mean does → nanToNull before
  *     avg (dag1.py:153,164).
  *   - inner joins on state name intentionally drop jurisdictions absent
  *     from table_location (e.g. territories; dag1.py:139,157).
  *   - surrogate school-expense-type ids are ordinal over the natural key
  *     ordering — stable and 1:1, may renumber vs the reference's file
  *     order (dag1.py:134-135). */
final case class EconomicsInputs(
    unemploymentXlsx: String,
    gdpCsv: String,
    schoolExpenseCsv: String,
    minWageCsv: String)

object StateEconomics {

  /** Run the full build; returns the 11 tables keyed by their reference
    * names (dag1.py:229-241), each computed once, pinned and PK-gated:
    * consumers (sinks, profiles) read the gated rows and never re-read the
    * inputs, so a file that changes after the build cannot ship rows the
    * gate did not see. The pins are local checkpoints in executor storage;
    * Spark's ContextCleaner releases them once the caller drops the
    * returned frames. A local pin does not survive the loss of an
    * executor, so a refresh that loses one is re-run from the inputs —
    * the trade every local `Residency.pin` in the engine makes. */
  def build(spark: SparkSession, in: EconomicsInputs): Map[String, DataFrame] = {
    // ---- the four sources, prepared concurrently: the xlsx chain's jobs
    // and the three CSVs' header and schema-inference jobs are
    // independent driver-serial work
    val Seq(unempSheet, rawGdp, school, mw) = Parallel.all(spark)(
      () => unemploymentSheet(spark, in.unemploymentXlsx),
      () => Ops.normalizeColumns(Sources.csv(spark, in.gdpCsv)),
      () => Ops.normalizeColumns(Sources.csv(spark, in.schoolExpenseCsv)),
      // windows-1252 (dag1.py:54-59)
      () => Ops.normalizeColumns(
          Sources.csv(spark, in.minWageCsv, encoding = Sources.detectCharset(in.minWageCsv)))
        .withColumn("Year", col("Year").try_cast(IntegerType)))

    // ---- source 1: unemployment xlsx (dag1.py:24-42) -------------------
    val yearCols = unempSheet.columns.filter(_.matches("\\d{4}"))
    val unemployment1 = Ops.melt(
        unempSheet.select((Seq("GeoFIPS", "Name") ++ yearCols).map(col): _*),
        ids = Seq("GeoFIPS", "Name"), varName = "Year", valueName = "Unemployment_Rate")
      .withColumn("Unemployment_Rate", Exprs.tryDouble(col("Unemployment_Rate")))
      .filter(col("Unemployment_Rate").isNotNull)
      .select("GeoFIPS", "Year", "Unemployment_Rate")
    val unemployment = Ops.dedupKeys(unemployment1, Seq("GeoFIPS", "Year"),
      Seq(col("Unemployment_Rate")))

    val income = Ops.dedupKeys(
      unempSheet
        .select(col("GeoFIPS"),
          Exprs.moneyToDouble(col("Median_Household_Income_(2021)"))
            .as("Median_Household_Income_2021"))
        .filter(col("Median_Household_Income_2021").isNotNull),
      Seq("GeoFIPS"), Seq(col("Median_Household_Income_2021")))

    // ---- source 2: GDP csv (dag1.py:45-47, 94-123) ---------------------
    // footer lines have no LineCode → semantic drop (dag1.py:46 drops tail 4)
    val gdpBase = rawGdp
      .withColumn("GeoFIPS",
        Exprs.tryLong(trim(Exprs.stripQuotes(col("GeoFIPS")))).cast(IntegerType))
      .withColumn("Industry_Code", Exprs.tryLong(col("LineCode")).cast(IntegerType))
      .filter(col("GeoFIPS").isNotNull && col("Industry_Code").isNotNull)
      .withColumn("GeoName", Exprs.cleanName(col("GeoName")))
      .withColumn("Region", Exprs.tryDouble(col("Region")))
      .withColumn("Description", trim(col("Description")))

    val gdpYearCols = gdpBase.columns.filter(_.matches("\\d{4}"))
    val gdp = Ops.dedupKeys(
      Ops.melt(
          gdpBase.select((Seq("GeoFIPS", "Industry_Code") ++ gdpYearCols).map(col): _*),
          ids = Seq("GeoFIPS", "Industry_Code"), varName = "Year", valueName = "GDP_In_Millions")
        .withColumn("GDP", Exprs.tryDouble(col("GDP_In_Millions")) * lit(1e6))
        .filter(col("GDP").isNotNull)
        .select("GeoFIPS", "Year", "Industry_Code", "GDP"),
      Seq("GeoFIPS", "Year", "Industry_Code"), Seq(col("GDP")))

    val industry = Ops.dedupKeys(
      gdpBase.select(col("Industry_Code"), col("Description")),
      Seq("Industry_Code"), Seq(col("Description")))

    // ---- location dim: GDP geos ⟗ unemployment geos (dag1.py:108-118) --
    val gdpGeo = Ops.dedupKeys(
      gdpBase.select(col("GeoFIPS"), col("GeoName"), col("Region")),
      Seq("GeoFIPS"), Seq(col("GeoName"), col("Region")))
    val unempGeo = Ops.dedupKeys(
      unempSheet.select(col("GeoFIPS"), trim(col("Name")).as("Name")),
      Seq("GeoFIPS"), Seq(col("Name")))
    val locationPlan = gdpGeo.join(unempGeo, Seq("GeoFIPS"), "full_outer")
      .select(col("GeoFIPS"),
        coalesce(col("GeoName"), col("Name")).as("GeoName"),   // F10 backfill
        col("Region"))

    // ---- source 3: school expenses (dag1.py:50-51, 131-149) ------------
    val expenseTypePlan = Ops.surrogateKey(
        school, Seq("Type", "Length", "Expense"), "School_Expense_Type_Id")
      .select(col("School_Expense_Type_Id"), col("Type").as("School_Type"),
        col("Length"), col("Expense").as("Expense_Type"))

    // Two tables join to these two dimensions: pinned first, each is
    // computed once, not again inside its dependents' plans.
    val Seq(location, expenseType) = Parallel.all(spark)(
      () => Residency.pin(locationPlan), () => Residency.pin(expenseTypePlan))

    // a pin keeps its source's column ids (expense types share Length
    // with `school`), so the join names its sides
    val schoolExpenses = school.as("s")
      .join(broadcast(expenseType.as("t")),
        col("s.Type") === col("t.School_Type") &&
        col("s.Length") === col("t.Length") &&
        col("s.Expense") === col("t.Expense_Type"))
      .join(broadcast(location.select(col("GeoFIPS"), col("GeoName"))),
        col("s.State") === col("GeoName"))  // inner: drops non-location rows
      // try_cast, not cast: ANSI mode (Spark 4 default) makes a hard cast
      // THROW on junk cells like '(NA)' — lenient parse-to-null is this
      // pipeline's documented contract (same as every Exprs.try* site)
      .select(col("Year").try_cast(IntegerType).as("Year"), col("GeoFIPS"),
        col("School_Expense_Type_Id"),
        col("Value").try_cast(IntegerType).as("Expense_Amount"))
    val schoolExpensesDeduped = Ops.dedupKeys(schoolExpenses,
      Seq("Year", "GeoFIPS", "School_Expense_Type_Id"), Seq(col("Expense_Amount")))

    // ---- source 4: minimum wage csv (dag1.py:151-180) ------------------
    val stateMinWage = mw
      .join(broadcast(location.select(col("GeoFIPS"), col("GeoName"))),
        mw("State") === col("GeoName"))      // inner: drops territories (J4)
      .select(col("Year"), col("GeoFIPS"),
        Exprs.tryDouble(col("State_Minimum_Wage")).as("State_Min_Wage"),
        Exprs.tryDouble(col("Department_Of_Labor_Cleaned_Low_Value"))
          .as("Small_Business_Min_Wage"),
        Exprs.tryDouble(col("Department_Of_Labor_Cleaned_High_Value"))
          .as("Large_Business_Min_Wage"))
    val stateMinWageDeduped = Ops.dedupKeys(stateMinWage, Seq("Year", "GeoFIPS"),
      Seq(col("State_Min_Wage"), col("Small_Business_Min_Wage"),
        col("Large_Business_Min_Wage")))

    // inflation multiplier = 2020$ wage / nominal wage; 0/0 → NaN → null so
    // the Year-mean matches pandas (dag1.py:153,164 + SURVEY §7.4)
    val inflation = mw
      .withColumn("mult", Exprs.ratioNanNull(
        col("State_Minimum_Wage_2020_Dollars"), col("State_Minimum_Wage")))
      .groupBy(col("Year"))
      .agg(avg(col("mult")).as("Inflation_Multiplier_2020"))
      .filter(col("Inflation_Multiplier_2020").isNotNull)

    val cpi = Ops.dedupKeys(
      mw.select(col("Year"), Exprs.tryDouble(col("CPI_Average")).as("CPI_Average")),
      Seq("Year"), Seq(col("CPI_Average")))
    val fedMinWage = Ops.dedupKeys(
      mw.select(col("Year"),
        Exprs.tryDouble(col("Federal_Minimum_Wage")).as("Fed_Min_Wage")),
      Seq("Year"), Seq(col("Fed_Min_Wage")))

    // ---- PK gates — the reference's 11 checks (dag1.py:71-79 + call sites)
    val defined = Seq(
      ("table_location", location, Seq("GeoFIPS")),
      ("table_Unemployment", unemployment, Seq("GeoFIPS", "Year")),
      ("table_HouseholdIncome2021", income, Seq("GeoFIPS")),
      ("table_gdp", gdp, Seq("GeoFIPS", "Year", "Industry_Code")),
      ("table_industry", industry, Seq("Industry_Code")),
      ("table_school_expense_type", expenseType, Seq("School_Expense_Type_Id")),
      ("table_school_expenses", schoolExpensesDeduped, Seq("Year", "GeoFIPS", "School_Expense_Type_Id")),
      ("table_state_min_wage", stateMinWageDeduped, Seq("Year", "GeoFIPS")),
      ("table_inflation", inflation, Seq("Year")),
      ("table_CPI", cpi, Seq("Year")),
      ("table_fed_min_wage", fedMinWage, Seq("Year")))
    // The other nine are pinned concurrently; the gate and every consumer
    // read the pinned rows.
    val tables = Parallel.all(spark)(defined.map { case (name, df, keys) =>
      () => (name, if ((df eq location) || (df eq expenseType)) df else Residency.pin(df), keys)
    }: _*)
    // One job gates all 11 pins. The row-level expectations beyond the
    // reference's PK-only checks — domain gates a production load would
    // refuse to ship without — are counted in the same job and judged
    // after the PK gates, so reference-parity violations surface first.
    Quality.checkPrimaryKeys(tables, expectations = Seq(
      "table_fed_min_wage" -> Seq(
        "year_in_range" -> col("Year").between(1900, 2100),
        "wage_non_negative" -> (col("Fed_Min_Wage") >= 0)),
      "table_location" -> Seq(
        "geofips_non_negative" -> (col("GeoFIPS") >= 0))))
    tables.map { case (name, df, _) => name -> df }.toMap
  }

  /** The unemployment sheet (dag1.py:24-42): sheet grid → drop 2 junk
    * leading rows, promote header, drop junk first column, drop the
    * footer rows. */
  private def unemploymentSheet(spark: SparkSession, path: String): DataFrame = {
    val rawUnemp = Xlsx.read(spark, path)
    val noJunk = Ops.dropLeading(rawUnemp, 2, Seq(col("__idx")))
    val promoted = Ops.promoteHeader(noJunk.drop("_c0"), "__idx").drop("__idx")
    // semantic footer filter: footer rows carry no FIPS (SURVEY §2.3 R2)
    Ops.normalizeColumns(promoted)
      .withColumn("GeoFIPS", Exprs.tryLong(trim(col("FIPS"))).cast(IntegerType))
      .filter(col("GeoFIPS").isNotNull)
      .drop("FIPS")
  }

  /** SURVEY §1.5 incremental variant: table_fed_min_wage derived from a
    * FILE STREAM of min-wage CSV drops. With `Trigger.AvailableNow` this is
    * catch-up-then-stop batch semantics over whatever files have landed —
    * the monthly-full-refresh cadence of the reference, made incremental.
    *
    * Same transforms as [[build]]; the keyed dedup is expressed as a
    * streaming `groupBy(Year).min` — equivalent to `Ops.dedupKeys(_,
    * Seq("Year"), Seq(col("Fed_Min_Wage")))` here because the tie-break IS
    * the single value column (windows don't exist in streaming plans).
    * `schema` comes from the batch reader / catalog: file streams cannot
    * infer. Run with `.outputMode("complete")` (the aggregate re-emits the
    * whole small dimension each trigger). */
  def fedMinWageStream(spark: SparkSession, path: String, schema: StructType,
                       encoding: String = "UTF-8"): DataFrame = {
    // the batch csv() path stream-transcodes UTF-16/32 to a temp file; a
    // file STREAM watches a directory and cannot, so fail fast instead of
    // letting Hadoop's 0x0A splitter shred those encodings silently
    require(!Sources.needsTranscode(encoding),
      s"fedMinWageStream cannot read $encoding (file streams can't " +
        "transcode); convert the feed to UTF-8 first")
    Sources.ensureCharsetReadable(spark, encoding)
    val raw = spark.readStream.schema(schema)
      .option("header", true).option("encoding", encoding)
      .csv(path)
    val v = Exprs.tryDouble(col("Federal_Minimum_Wage"))
    Ops.normalizeColumns(raw)
      .withColumn("Year", col("Year").try_cast(IntegerType))
      .groupBy(col("Year"))
      // dedupKeys orders ascending NULLS FIRST, so a group containing any
      // null value resolves to null — count(*)>count(v) reproduces that
      // here; a bare min() would silently skip nulls and diverge from the
      // batch table on dirty data.
      .agg(when(count(lit(1)) > count(v), lit(null).cast(DoubleType))
        .otherwise(min(v)).as("Fed_Min_Wage"))
  }
}
