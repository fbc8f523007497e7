package graft.profile

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Residency

/** Dataset profiling (SURVEY.md §2.13 PR1–PR6) — the engine-side analog of
  * the reference's per-table ydata-profiling reports
  * (finalprojectpandasprofiling.py:50-54).
  *
  * Design for scale: ALL per-column statistics are computed in a single
  * aggregation pass (one job, one scan; partial aggregation map-side), never
  * a per-column loop of actions — over the table unpivoted into fixed-schema
  * cells, so every table shares its compiled code. Distinct counts use HLL++
  * (`approx_count_distinct`) by default, with an exact variant for small
  * dims / oracle checks. Quantiles use `percentile_approx` (GK sketch) by
  * default with an exact variant. Correlations are a second single pass over
  * the numeric columns.
  */
final case class ColumnProfile(
    name: String,
    dataType: String,
    count: Long,
    missing: Long,
    distinct: Long,
    mean: Option[Double],
    stddev: Option[Double],
    min: Option[Double],
    max: Option[Double],
    p25: Option[Double],
    p50: Option[Double],
    p75: Option[Double],
    skewness: Option[Double] = None,
    kurtosis: Option[Double] = None,
    histogram: Seq[Long] = Seq.empty,
    frequent: Seq[(String, Long)] = Seq.empty)

final case class TableProfile(
    table: String,
    rows: Long,
    columns: Int,
    duplicateRows: Long,
    profiles: Seq[ColumnProfile],
    correlations: Map[(String, String), Double],
    spearman: Map[(String, String), Double] = Map.empty,
    cramersV: Map[(String, String), Double] = Map.empty,
    sampleColumns: Seq[String] = Seq.empty,
    sample: Seq[Seq[String]] = Seq.empty,
    duplicates: Seq[(Seq[String], Long)] = Seq.empty,
    phik: Map[(String, String), Double] = Map.empty,
    nullity: Map[(String, String), Double] = Map.empty,
    interactions: Map[(String, String), Seq[(Int, Int, Long)]] = Map.empty)

object Profile {

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  private def isFloating(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case _                      => false
  }

  // Backtick-quoted column reference: a plain col(name) parses dots as
  // nested-field access, so a header like "U.S._Rate" (promoted verbatim
  // from a spreadsheet) would crash every aggregation pass. Embedded
  // backticks are doubled per Spark's quoting rule.
  private def q(c: String): Column = col("`" + c.replace("`", "``") + "`")

  // ANSI `corr` against a pair whose co-non-null subset is constant
  // throws DIVIDE_BY_ZERO. In local mode that surfaces as a bare
  // java.lang.ArithmeticException; on a real cluster the DAGScheduler
  // wraps the executor task failure in (possibly nested) SparkException
  // layers — so the fallback match must walk the CAUSE CHAIN, or it
  // would never fire on exactly the deployments it exists for.
  private def hasArithmeticCause(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 16) {
      if (cur.isInstanceOf[java.lang.ArithmeticException]) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** The table unpivoted into fixed-schema cells: one row per (row, column
    * of `cols`) with the column index `ci` and one field per slot. Only this
    * projection depends on the table: the code generated for the operators
    * above it is compiled once and reused by every table. */
  private def cells(df: DataFrame, cols: Seq[StructField])
                   (slots: (String, StructField => Column)*): DataFrame =
    df.select(inline(array(cols.zipWithIndex.map { case (f, i) =>
      struct(lit(i).as("ci") +: slots.map { case (n, slot) => slot(f).as(n) }: _*)
    }: _*)))

  // The value as rendered in the frequent-value tables.
  private def strSlot(f: StructField): Column = q(f.name).cast(StringType)

  // A numeric column's value as a double (null for other types).
  private def numSlot(f: StructField): Column =
    if (isNumeric(f.dataType)) q(f.name).cast(DoubleType) else lit(null).cast(DoubleType)

  // The distinct-count key: one slot per primitive type, the value in its
  // type's slot. A struct hashes as the fold of its fields and a null field
  // leaves the hash as is, so HLL sees the bare column's hash (widening an
  // int to long would change the estimates). Floats and the types without a
  // slot (keyed by their rendering) keep exact counts; HLL may differ.
  private def keySlot(f: StructField): Column = {
    val c = q(f.name)
    val (slot, v) = f.dataType match {
      case ByteType | ShortType | IntegerType => "i" -> c.cast(IntegerType)
      case DateType                           => "i" -> unix_date(c)
      case LongType                           => "l" -> c
      case TimestampType                      => "l" -> unix_micros(c)
      case FloatType | DoubleType             => "d" -> c.cast(DoubleType)
      case _                                  => "s" -> c.cast(StringType)
    }
    when(c.isNotNull, struct(Seq("i" -> IntegerType, "l" -> LongType, "d" -> DoubleType,
      "s" -> StringType).map { case (n, t) => (if (n == slot) v else lit(null).cast(t)).as(n) }: _*))
  }

  /** Per-column top-N frequent values (the ydata-profiling "Most frequent
    * values" block, finalprojectpandasprofiling.py:50) as a DISTRIBUTED
    * frame: (col_name, value, cnt, rank), rank 1 = most frequent, ties
    * broken by value ascending (binary string order — replayable in SQL).
    * Values are stringified; nulls are excluded (missing is its own
    * statistic in [[profile]]).
    *
    * Scale shape: the [[profile]] unpivot turns the table into (ci, value)
    * cells, ONE exact groupBy count over (ci, value) — map-side
    * partials, the same shuffle a single-column value_counts would pay,
    * amortized over every column at once — then the bounded-heap
    * `topk_desc_str` aggregate reduces each column to N rows with map-side
    * partial heaps: the second shuffle carries ≤ N rows per column per
    * partition, never the distinct-value set of a high-cardinality column. */
  def frequentValues(df: DataFrame, topN: Int = 5): DataFrame = {
    require(topN > 0, s"topN must be > 0, got $topN")
    val fields = df.schema.fields.toSeq
    require(fields.nonEmpty, "frequentValues needs at least one column")
    rankedValues(valuePass(cells(df, fields)("v" -> strSlot)
      .filter(col("v").isNotNull), "topk_desc_str", topN), fields, "id")
  }

  private val HistBins = 10

  /** The value pass over (ci, v) cells: ONE exact (ci, v) count, then per
    * column the bounded top-N heap `heap` (`tk`) and the counts per bucket
    * 1..[[HistBins]] (`h`) of `bucket`, a function of `v` (pruned if unused). */
  private def valuePass(vcells: DataFrame, heap: String, topN: Int,
                        bucket: Column = lit(null).cast(LongType)): DataFrame =
    vcells
      .groupBy(col("ci"), col("v"))
      .agg(count(lit(1)).as("cnt"), max(bucket).as("b"))
      .groupBy(col("ci"))
      .agg(call_function(heap, col("cnt").cast(DoubleType), col("v"), lit(topN)).as("tk"),
        array((1 to HistBins).map(b =>
          sum(when(col("b") === b, col("cnt")).otherwise(0L))): _*).as("h"))

  // (col_name, value, cnt, rank) rows of a value pass's heaps
  private def rankedValues(pass: DataFrame, fields: Seq[StructField],
                           valueField: String): DataFrame = {
    val nameMap = map(fields.zipWithIndex.flatMap { case (f, i) =>
      Seq(lit(i), lit(f.name)) }: _*)
    pass.select(col("ci"), posexplode(col("tk")).as(Seq("__pos", "__e")))
      .select(element_at(nameMap, col("ci")).as("col_name"),
        col(s"__e.$valueField").as("value"),
        col("__e.score").cast(LongType).as("cnt"),
        (col("__pos") + 1).cast(IntegerType).as("rank"))
  }

  /** [[frequentValues]] for NUMERIC columns with a NUMERIC tie-break:
    * (col_name, value double, cnt, rank), rank 1 = most frequent, ties
    * broken by value ascending in NUMERIC order — the string form breaks
    * ties in binary render order ("10" < "2"), which misorders a numeric
    * report. Same scale shape (the unpivot's cells, one exact
    * (ci, value) count, then the bounded-heap `topk_desc_num`
    * aggregate — map-side partial heaps, ≤ N rows per column per
    * partition on the second shuffle). Nulls and NaNs are excluded
    * (missing is its own statistic in [[profile]]; a NaN frequent-value
    * row is meaningless). Non-numeric columns are ignored; requires at
    * least one numeric column. */
  def frequentValuesNumeric(df: DataFrame, topN: Int = 5): DataFrame = {
    require(topN > 0, s"topN must be > 0, got $topN")
    val fields = df.schema.fields.toSeq.filter(f => isNumeric(f.dataType))
    require(fields.nonEmpty, "frequentValuesNumeric needs a numeric column")
    rankedValues(valuePass(cells(df, fields)("v" -> numSlot)
      .filter(col("v").isNotNull && !isnan(col("v"))), "topk_desc_num", topN), fields, "value")
  }

  /** The ydata report's "Duplicates" section — the top-N
    * MOST-DUPLICATED rows THEMSELVES (PR5 only counts them,
    * finalprojectpandasprofiling.py:50): group by every column, keep
    * count > 1, order by count descending with every orderable column
    * ascending as the tie-break (a deterministic SET even at the top-N
    * boundary), limit N. Returns the row's columns plus `n_dup`.
    *
    * Scale shape: ONE exact all-columns groupBy — the same shuffle the
    * exact PR5 duplicate COUNT already pays — then a bounded
    * TakeOrderedAndProject (count > 1 rows only); no global sort, no
    * second scan. The determinism claim above holds for ALL-ORDERABLE
    * schemas (every column then participates in the tie-break); a
    * non-orderable (map-typed) column cannot be grouped OR ordered by,
    * so such frames are rejected up front — encode maps (to_json) or
    * drop them before listing duplicates. */
  def duplicateRowValues(df: DataFrame, topN: Int = 10): DataFrame = {
    require(topN > 0, s"topN must be > 0, got $topN")
    val fields = df.schema.fields
    require(fields.nonEmpty, "duplicateRowValues needs at least one column")
    require(!fields.exists(_.name == "n_dup"),
      "duplicateRowValues appends an n_dup count column; the input " +
        "already has a column named n_dup — rename it first")
    // a map-typed column can neither be grouped by (Spark rejects
    // non-orderable grouping keys) nor tie-break the top-N boundary —
    // fail fast with the remedy instead of letting the groupBy throw
    val nonOrderable = fields.filterNot(f => org.apache.spark.sql.catalyst
      .expressions.RowOrdering.isOrderable(f.dataType))
    require(nonOrderable.isEmpty,
      s"duplicateRowValues needs orderable columns; " +
        s"${nonOrderable.map(_.name).mkString(", ")} are not (map types " +
        "cannot be grouped or ordered) — encode them (to_json) or drop " +
        "them first")
    val tieBreak = fields.map(f => q(f.name).asc_nulls_first).toSeq
    df.groupBy(fields.map(f => q(f.name)).toSeq: _*)
      .agg(count(lit(1)).as("n_dup"))
      .filter(col("n_dup") > 1)
      .orderBy(col("n_dup").desc +: tieBreak: _*)
      .limit(topN)
  }

  /** PR1–PR5 (counts, missing, distinct, moments incl. skewness/kurtosis,
    * quartiles, duplicates) in one aggregation pass, histograms and
    * frequent values in a second ([[valuePass]]; bucket bounds need pass-1
    * min/max), PR6 correlations in a third. The first two group [[cells]]
    * by column index; only the row and distinct-row counts are a per-table
    * aggregate, collected with pass 1.
    * `exact` switches the distinct/quantile sketches to exact computation
    * (use for tests / oracle parity; default approximate for 100 TB runs).
    *
    * `associations = true` adds the ydata report's OTHER correlation
    * tabs on top of PR6's one-pass Pearson: Spearman over numeric pairs
    * (≤ `maxAssocCols` numeric columns — each pair is its own
    * rank-and-aggregate job, so the pair count is bounded rather than
    * quadratic in a wide table) and Cramér's V over low-cardinality
    * string pairs (distinct ≤ 25 per the main pass's counts).
    * `sampleN > 0` adds the report's first-N row preview, ordered by
    * every column ascending so the preview is deterministic under
    * re-partitioning.
    *
    * `phikTab` defaults ON for ydata v4 report parity (a plain
    * `ProfileReport(df)` renders the φk matrix by default). The tab
    * carries [[phik]]'s two DOCUMENTED determinism deviations from the
    * phik library (ascending-label bin order, no pedestal noise
    * correction) and a numerically-inverted value that no SQL engine
    * replays — set `phikTab = false` in hash-strict replay contexts
    * where Cramér's V / Spearman must remain the only association
    * surface. `interactionBins > 0` (default 6) adds the report's
    * Interactions section ([[interactions]] 2-D histograms);
    * [[nullityPairs]] adds the nullity-correlation section over the
    * partially-missing columns pass 1 measured. */
  def profile(df: DataFrame, table: String = "df", exact: Boolean = false,
              topFrequent: Int = 5, associations: Boolean = true,
              maxAssocCols: Int = 8, sampleN: Int = 10,
              duplicatesN: Int = 10, phikTab: Boolean = true,
              interactionBins: Int = 6): TableProfile = {
    val fields  = df.schema.fields.toSeq
    val numeric = fields.filter(f => isNumeric(f.dataType)).map(_.name)

    // Pass 1 over the long form: per-column counts, distinct and moments,
    // grouped by column index. NaN poisons mean/stddev/max (Spark sorts NaN
    // greatest) where ydata-profiling skips it, so the numeric value goes
    // through nanToNull; `count` and `distinct` still see NaN as a value.
    // Non-numeric columns have no `x`, so their numeric statistics are null.
    // The three quartiles are one sketch (equal aggregates are computed once).
    val x = graft.expr.Exprs.nanToNull(col("x"))
    val quartiles = array(lit(0.25), lit(0.5), lit(0.75))
    val qs = if (exact) call_function("percentile", x, quartiles)
             else percentile_approx(x, quartiles, lit(10000))
    val cellStats = cells(df, fields)("k" -> keySlot, "x" -> numSlot)
      .groupBy(col("ci"))
      .agg(count(col("k")).as("count"),
        (count(lit(1)) - count(col("k"))).as("missing"),
        (if (exact) count_distinct(col("k")) else approx_count_distinct(col("k"))).as("distinct"),
        avg(x).as("mean"), stddev(x).as("std"), min(x).as("min"), max(x).as("max"),
        qs(0).as("p25"), qs(1).as("p50"), qs(2).as("p75"),
        skewness(x).as("skew"), kurtosis(x).as("kurt"))
    // the table's row count and distinct rows, as row ci = -1 of the same
    // collect; the full-row distinct honors `exact` too: exact, it is the
    // pass's most expensive aggregate — what approximate mode avoids
    val all = struct(fields.map(f => q(f.name)): _*)
    val rowStats = df.agg(count(lit(1)).as("count"),
        (if (exact) count_distinct(all) else approx_count_distinct(all)).as("distinct"))
      .select(lit(-1).as("ci"), col("count"), col("distinct"))
    val stats = (if (fields.isEmpty) rowStats
                 else cellStats.unionByName(rowStats, allowMissingColumns = true))
      .collect().map(r => r.getInt(0) -> r).toMap
    def getL(ci: Int, n: String): Long =
      stats.get(ci).map(r => r.getAs[Long](n)).getOrElse(0L)
    def getD(ci: Int, n: String): Option[Double] =
      stats.get(ci).flatMap(r => Option(r.getAs[java.lang.Double](n))).map(_.doubleValue)
    val rows = getL(-1, "count")

    // Frequent values and histograms: ONE value pass (grouping by value
    // needs a shuffle no agg() can absorb), after pass 1 because bucket
    // bounds need its min/max. The bounds travel as array literals indexed
    // by column, so the code is the same for every table; one row per column
    // comes back. `topFrequent <= 0` leaves the frequent values out.
    val histCols = fields.indices.filter(i =>
      getD(i, "max").exists(hi => getD(i, "min").exists(_ < hi)))
    val values: Map[Int, Row] =
      if (fields.isEmpty || (topFrequent <= 0 && histCols.isEmpty)) Map.empty
      else {
        def bound(n: String) = element_at(
          typedlit(fields.indices.map(i => if (histCols.contains(i)) getD(i, n) else None)),
          col("ci") + 1)
        // width_bucket sends x == hi to the overflow bucket bins+1; it
        // folds into the last in-range bucket (NaN cells are null here)
        val raw = width_bucket(x, bound("min"), bound("max"), lit(HistBins))
        valuePass(cells(df, fields)("v" -> strSlot, "x" -> numSlot)
            .filter(col("v").isNotNull),
          "topk_desc_str", topFrequent.max(1),
          when(raw > HistBins, lit(HistBins.toLong)).otherwise(raw))
          .collect().map(r => r.getInt(0) -> r).toMap
      }
    def frequent(i: Int): Seq[(String, Long)] =
      if (topFrequent <= 0) Seq.empty
      else values.get(i).toSeq.flatMap(_.getSeq[Row](1))
        .map(e => (e.getAs[String]("id"), e.getAs[Double]("score").toLong))
    def histogram(i: Int): Seq[Long] =
      values.get(i).filter(_ => histCols.contains(i)).fold(Seq.empty[Long])(_.getSeq[Long](2).toSeq)

    val profiles = fields.zipWithIndex.map { case (f, i) =>
      def d(n: String) = getD(i, n)
      ColumnProfile(f.name, f.dataType.simpleString,
        getL(i, "count"), getL(i, "missing"), getL(i, "distinct"),
        d("mean"), d("std"), d("min"), d("max"), d("p25"), d("p50"), d("p75"),
        d("skew"), d("kurt"), histogram(i), frequent(i))
    }
    val byName = profiles.map(p => p.name -> p).toMap

    // PR6 — pairwise correlations over numeric columns, one pass.
    // Zero-variance columns are EXCLUDED up front (pass 1 already
    // measured stddev): their ρ is undefined, and under ANSI mode
    // (the Spark 4 default) `corr` against a constant column throws
    // DIVIDE_BY_ZERO instead of returning null. That gate covers only
    // GLOBALLY constant columns — a pair whose pairwise-complete
    // (co-non-null) subset happens to be constant still throws inside
    // the shared one-pass agg, so the rare failure falls back to
    // per-pair corr with the offending pairs dropped (the pandas
    // NaN-drop convention), instead of crashing the whole profile.
    val corrCols = numeric.filter(c => byName(c).stddev.exists(_ > 0))
    val corrs: Map[(String, String), Double] =
      if (corrCols.length < 2) Map.empty
      else {
        val pairs = for {
          i <- corrCols.indices; j <- (i + 1) until corrCols.length
        } yield (corrCols(i), corrCols(j))
        def onePass(): Map[(String, String), Double] = {
          val corrAggs = pairs.map { case (a, b) =>
            corr(q(a), q(b)).as(s"$a::$b") }
          val crow = df.agg(corrAggs.head, corrAggs.tail: _*).head()
          pairs.zipWithIndex.collect {
            case ((a, b), i) if !crow.isNullAt(i) => (a, b) -> crow.getDouble(i)
          }.toMap
        }
        try onePass()
        catch {
          case e: Exception if hasArithmeticCause(e) =>
            pairs.flatMap { case (a, b) =>
              try {
                val r = df.agg(corr(q(a), q(b))).head()
                if (r.isNullAt(0)) None else Some((a, b) -> r.getDouble(0))
              } catch {
                case e2: Exception if hasArithmeticCause(e2) => None
              }
            }.toMap
        }
      }

    // the extra ydata correlation tabs: Spearman per numeric pair,
    // Cramér's V per low-cardinality string pair — per-pair jobs, so
    // the column count is bounded by maxAssocCols
    def pairStats(cols: Seq[String],
                  stat: (String, String) => Option[Double])
        : Map[(String, String), Double] =
      (for {
        i <- cols.indices; j <- (i + 1) until cols.length
        v <- stat(cols(i), cols(j))
      } yield (cols(i), cols(j)) -> v).toMap
    val spearmans =
      if (!associations || numeric.length < 2 ||
          numeric.length > maxAssocCols) Map.empty[(String, String), Double]
      else {
        // O(columns) rank builds, not O(pairs): null-free columns (pass
        // 1 already measured `missing`, so the routing is free) share
        // per-column rank maps through ONE joined scan
        // ([[spearmanSharedRanks]]); a pair touching a null-bearing
        // column keeps the per-pair pairwise-complete form, whose ranks
        // genuinely depend on the partner column's nulls.
        val nullFree = numeric.filter(c => byName(c).missing == 0L)
        val shared =
          if (nullFree.length >= 2) spearmanSharedRanks(df, nullFree)
          else Map.empty[(String, String), Double]
        val fallbackPairs = for {
          i <- numeric.indices; j <- (i + 1) until numeric.length
          if !(nullFree.contains(numeric(i)) && nullFree.contains(numeric(j)))
        } yield (numeric(i), numeric(j))
        val fallback = fallbackPairs.flatMap { case (a, b) =>
          // spearman returns a PERSISTED one-row frame (its caller-
          // unpersist contract) — release it or every fallback pair
          // leaks a cache entry for the session's lifetime
          val r = Residency.scoped(_.adopt(spearman(df, a, b)).head())
          if (r.isNullAt(1)) None else Some((a, b) -> r.getDouble(1))
        }.toMap
        shared ++ fallback
      }
    val lowCardString = fields.filter(f => f.dataType == StringType)
      .map(_.name).filter(c => byName(c).distinct <= 25)
    val cramers =
      if (!associations || lowCardString.length < 2 ||
          lowCardString.length > maxAssocCols)
        Map.empty[(String, String), Double]
      else pairStats(lowCardString.toSeq, (a, b) => {
        // cramersV returns a PERSISTED one-row frame — release it
        val r = Residency.scoped(_.adopt(cramersV(df, a, b)).head())
        val i = r.fieldIndex("cramers_v")
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      })
    // φk — ydata v4's DEFAULT association matrix, rendered BY DEFAULT
    // here too (report parity; phikTab = false opts out for
    // hash-strict replay contexts — each pair pays a contingency pass
    // + a driver-side numerical inversion that no SQL engine replays).
    // Categorical pairs go through [[phik]]; numeric pairs through the
    // paper's binned interval form ([[phikBinned]]) — the two key sets
    // are disjoint, so one map carries both tabs.
    val phikCat =
      if (!phikTab || !associations || lowCardString.length < 2 ||
          lowCardString.length > maxAssocCols)
        Map.empty[(String, String), Double]
      else pairStats(lowCardString.toSeq, (a, b) => {
        val r = phik(df, a, b).head()
        val i = r.fieldIndex("phik")
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      })
    // Numeric pairs bin through SHARED per-column cutpoints — ONE
    // exact-percentile aggregate for ALL columns + one persisted binned
    // projection, each pair then paying only a label-pair contingency.
    // (A per-pair phikBinned loop would recompute both columns' exact
    // cutpoints for every pair: O(pairs) full-value gathers — the
    // spearmanSharedRanks lesson.) Binning each column ONCE on its own
    // marginal is also the phik library's own convention; the
    // standalone [[phikBinned]] keeps the pairwise-complete form the
    // pr19/pr20 faces certify (the two agree exactly on null/NaN-free
    // columns).
    val phikNum =
      if (!phikTab || !associations || numeric.length < 2 ||
          numeric.length > maxAssocCols)
        Map.empty[(String, String), Double]
      else {
        Residency.scoped { s =>
          val binned = quantileBinnedColumns(s, df, numeric.toSeq, 10)
          val idx = numeric.zipWithIndex.toMap
          pairStats(numeric.toSeq, (a, b) => {
            val r = phik(binned.select(
              col(s"__b${idx(a)}").as("__a"),
              col(s"__b${idx(b)}").as("__b")), "__a", "__b").head()
            val i = r.fieldIndex("phik")
            if (r.isNullAt(i)) None else Some(r.getDouble(i))
          })
        }
      }
    val phiks = phikCat ++ phikNum
    // nullity correlation — pairwise missingness association over the
    // columns pass 1 already measured as PARTIALLY missing (no extra
    // counting scan; the pass-2 indicator aggregate is the only job)
    val nullityM: Map[(String, String), Double] =
      if (!associations) Map.empty
      else {
        val cands = fields.map(_.name)
          .filter(c => byName(c).missing > 0 && byName(c).missing < rows)
          .toSeq
        if (cands.length < 2 || cands.length > maxAssocCols) Map.empty
        else nullityPairs(df, cands).collect().toSeq
          .filter(!_.isNullAt(3))
          .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
          .toMap
      }
    // interactions — 2-D histograms over the numeric columns WITH
    // spread (histCols measured them in pass 1); collected result
    // bounded by pairs × bins² cells
    val interactionsM: Map[(String, String), Seq[(Int, Int, Long)]] =
      if (!associations || interactionBins <= 0) Map.empty
      else {
        val cands = histCols.map(fields(_).name)
        if (cands.length < 2 || cands.length > maxAssocCols) Map.empty
        else interactions(df, cands, interactionBins).collect().toSeq
          .groupBy(r => (r.getString(0), r.getString(1)))
          .map { case (k, rs) =>
            k -> rs.sortBy(r => (r.getInt(2), r.getInt(3)))
              .map(r => (r.getInt(2), r.getInt(3), r.getLong(4)))
          }
      }
    // first-N row preview, deterministically ordered by every ORDERABLE
    // column — a map-typed column has no ordering and would fail the
    // analysis; such columns still render, they just don't participate
    // in the sort (an all-non-orderable frame degrades to an arbitrary
    // but valid first-N)
    val sampled =
      if (sampleN <= 0) Seq.empty[Seq[String]]
      else {
        val orderable = fields.filter(f => org.apache.spark.sql.catalyst
          .expressions.RowOrdering.isOrderable(f.dataType))
        val ordered =
          if (orderable.isEmpty) df
          else df.orderBy(
            orderable.map(f => q(f.name).asc_nulls_first).toSeq: _*)
        ordered
          .limit(sampleN)
          .select(fields.map(f => q(f.name).cast(StringType)).toSeq: _*)
          .collect().toSeq
          .map(r => fields.indices.map(i =>
            if (r.isNullAt(i)) "null" else r.getString(i)))
      }
    // "Duplicates" listing — EXACT MODE ONLY, gated on pass 1's
    // duplicate count so the all-columns groupBy only runs when
    // duplicates actually exist. In approximate mode the gate's count
    // is HLL noise (a duplicate-free billion-row table reads as
    // millions of "duplicates" at ~2% sketch error), and paying the
    // exact all-columns shuffle to render an empty section is
    // precisely what approximate mode exists to avoid — approximate
    // profiles report the estimated count, no listing.
    val dupList: Seq[(Seq[String], Long)] =
      if (duplicatesN <= 0 || !exact ||
          rows - getL(-1, "distinct") <= 0) Seq.empty
      else duplicateRowValues(df, duplicatesN)
        .select(fields.map(f => q(f.name).cast(StringType)).toSeq
          :+ col("n_dup"): _*)
        .collect().toSeq
        .map(r => (fields.indices.map(i =>
          if (r.isNullAt(i)) "null" else r.getString(i)),
          r.getLong(fields.length)))
    TableProfile(table, rows, fields.length, rows - getL(-1, "distinct"),
      profiles, corrs, spearmans, cramers,
      if (sampleN <= 0) Seq.empty else fields.map(_.name).toSeq, sampled,
      dupList, phiks, nullityM, interactionsM)
  }

  /** SPEARMAN rank correlation for one column pair — the second
    * correlation tab of the reference's ydata reports
    * (finalprojectpandasprofiling.py:50: ProfileReport renders Pearson,
    * Spearman and categorical-association matrices; [[profile]]'s PR6
    * pass covers only Pearson). Rows where either side is null are
    * excluded (pairwise-complete, the pandas `.corr` convention); ties
    * take AVERAGE ranks (the standard correction), carried as DOUBLED
    * ranks so they stay integers: for a value with `cnt` occurrences
    * after `below` smaller rows, `2·avg_rank = 2·(below + cnt) − cnt + 1`.
    * ρ then comes from the five integer sufficient sums (n, Σrₐ, Σr_b,
    * Σrₐ², Σr_b², Σrₐr_b in DECIMAL(38,0)) through a handful of IEEE
    * double ops + ROUND 6 — deterministic and engine-replayable, where
    * `corr()` over rank doubles would drift with partition order (the
    * pr3_moments discipline). Returns ONE row (n, rho); rho is null
    * when either margin is constant (undefined, like pandas' NaN).
    *
    * Scale shape: ranks come from per-column value histograms + the
    * distributed prefix scan ([[graft.ops.Scan.prefixSums]] —
    * range-partitioned, never a global single-partition window); rows
    * join their two ≤-distinct-sized rank maps (AQE broadcasts the
    * small ones); ONE aggregation computes the sums. Exact while
    * 4n⁴ < 10³⁸ — n ≲ 2·10⁹ pair rows; past that, profile a sample or
    * accept the corr-on-ranks engine analytic. */
  def spearman(df: DataFrame, aCol: String,
               bCol: String): DataFrame = Residency.eager { s =>
    val base = df.select(q(aCol).as("__x"), q(bCol).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    // rank map = (value, doubled average rank): value histogram + the
    // distributed prefix scan. The scan's output is already persisted
    // (prefixSums contract) — the projection stays LAZY on top of it and
    // the scope releases the scan after the final aggregate materializes
    // (an extra persist+count per map measured ~2× the operator's cost).
    def rank2(c: String): DataFrame = {
      val cnt = base.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__cnt"))
      s.adopt(graft.ops.Scan.prefixSums(cnt, Seq(col("__v").asc), Seq("__cnt")))
        .select(col("__v"),
          (lit(2L) * col("__cnt_cum") - col("__cnt") + 1L).as("__r2"))
    }
    // The two rank builds are independent eager pipelines (prefixSums
    // persists + materializes internally) — overlap them (guide §2.6,
    // graft.util.Parallel); each build's result is deterministic per
    // column, only wall-clock overlaps. Each build registers its scan
    // with the scope, so a completed sibling's scan is released when the
    // other build fails.
    val Seq(ra, rb) = graft.util.Parallel.all(df.sparkSession)(
      () => rank2("__x"), () => rank2("__y"))
    val d19 = DecimalType(19, 0)
    val d38 = DecimalType(38, 0)
    val joined = base
      .join(ra.select(col("__v").as("__x"), col("__r2").as("__ra")),
        Seq("__x"))
      .join(rb.select(col("__v").as("__y"), col("__r2").as("__rb")),
        Seq("__y"))
    val sums = joined.agg(
      count(lit(1)).as("__n"),
      sum(col("__ra").cast(d19)).as("__sx"),
      sum(col("__rb").cast(d19)).as("__sy"),
      sum(col("__ra").cast(d19) * col("__ra").cast(d19)).as("__sxx"),
      sum(col("__rb").cast(d19) * col("__rb").cast(d19)).as("__syy"),
      sum(col("__ra").cast(d19) * col("__rb").cast(d19)).as("__sxy"))
    val varx =
      (col("__n").cast(d38) * col("__sxx") - col("__sx") * col("__sx"))
        .cast(DoubleType)
    val vary =
      (col("__n").cast(d38) * col("__syy") - col("__sy") * col("__sy"))
        .cast(DoubleType)
    val cov =
      (col("__n").cast(d38) * col("__sxy") - col("__sx") * col("__sy"))
        .cast(DoubleType)
    sums.select(
      coalesce(col("__n"), lit(0L)).as("n"),
      when(varx > 0 && vary > 0,
        round(cov / sqrt(varx * vary), 6))
        .otherwise(lit(null).cast(DoubleType)).as("rho"))
  }

  /** SHARED-RANK Spearman over every pair of `cols` — the O(columns)
    * form [[profile]]'s association tab runs: each column's doubled-rank
    * map ([[spearman]]'s histogram + distributed prefix scan) is built
    * ONCE, all maps join onto one shared row stream, and a SINGLE
    * aggregation computes every pair's sufficient sums together (per
    * pair only Σrᵢrⱼ is pair-specific; n, Σrᵢ, Σrᵢ² amortize across
    * pairs). For `maxAssocCols = 8` that is 8 rank builds + 1 joined
    * scan where the per-pair loop paid up to 56 rank builds + 28 scans
    * — measured on sf0.1 lineitem's 8 numeric columns (28 pairs):
    * 21.9 s shared vs 81.7 s per-pair, all 28 ρ values identical.
    * ρ per pair is evaluated from the sums row by the LITERAL SAME
    * Catalyst expressions as [[spearman]] — equivalence is expression
    * identity, not reimplementation (ProfileSpec pins it).
    *
    * CONTRACT: every column in `cols` must be NULL-FREE — shared ranks
    * are global ranks, and [[spearman]]'s pairwise-complete semantics
    * re-rank within each pair's co-non-null subset, so the two agree
    * exactly iff no rows drop per pair. [[profile]] routes only
    * missing = 0 columns here (it has the counts from pass 1) and falls
    * back to per-pair [[spearman]] otherwise; direct callers own the
    * same check. (NaN is fine: both paths rank it as a greatest value —
    * Spark normalizes NaN in group and join keys.) Returns the defined
    * ρ entries keyed (colᵢ, colⱼ), i < j in `cols` order. */
  def spearmanSharedRanks(df: DataFrame, cols: Seq[String])
      : Map[(String, String), Double] = {
    val row = Residency.scoped(_.adopt(spearmanSharedRanksFrame(df, cols)).head())
    (for {
      i <- cols.indices; j <- (i + 1) until cols.length
      idx = row.fieldIndex(s"rho_${cols(i)}__${cols(j)}")
      if !row.isNullAt(idx)
    } yield (cols(i), cols(j)) -> row.getDouble(idx)).toMap
  }

  /** The distributed ONE-ROW form of [[spearmanSharedRanks]] — the
    * whole shared-rank matrix as a frame (n, rho_<a>__<b> per pair,
    * i < j in `cols` order; undefined ρ = NULL), entirely in-plan so
    * the registry can hash-certify the shared path itself
    * (`pr18_spearman_matrix`). Same contract (null-free columns) and
    * same plan (O(columns) rank builds + ONE joined scan). The
    * returned frame is persisted (the [[spearman]] caller-unpersist
    * contract). */
  def spearmanSharedRanksFrame(df: DataFrame, cols: Seq[String])
      : DataFrame = Residency.eager { s =>
    require(cols.length >= 2,
      s"spearmanSharedRanks needs >= 2 columns, got ${cols.length}")
    require(cols.distinct.length == cols.length,
      s"spearmanSharedRanks got duplicate columns: $cols")
    val base = df.select(cols.zipWithIndex.map { case (c, i) =>
      q(c).as(s"__c$i") }: _*)
    // One independent eager rank build per column — run them
    // concurrently (the [[spearman]] §2.6 overlap; results per column
    // are deterministic, only wall-clock overlaps). Each build registers
    // its scan with the scope, released on success or a build failure.
    val maps = graft.util.Parallel.all(df.sparkSession)(
      cols.indices.map { i => () => {
        val cnt = base.groupBy(col(s"__c$i").as("__v"))
          .agg(count(lit(1)).as("__cnt"))
        s.adopt(graft.ops.Scan.prefixSums(cnt, Seq(col("__v").asc), Seq("__cnt")))
          .select(col("__v").as(s"__c$i"),
            (lit(2L) * col("__cnt_cum") - col("__cnt") + 1L).as(s"__r$i"))
      }}: _*)
    val d19 = DecimalType(19, 0)
    val d38 = DecimalType(38, 0)
    val joined = maps.zipWithIndex.foldLeft(base) {
      case (acc, (m, i)) => acc.join(m, Seq(s"__c$i"))
    }
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.length
    } yield (i, j)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("__n")) ++
      cols.indices.flatMap { i => Seq(
        sum(col(s"__r$i").cast(d19)).as(s"__s$i"),
        sum(col(s"__r$i").cast(d19) * col(s"__r$i").cast(d19))
          .as(s"__ss$i")) } ++
      pairs.map { case (i, j) =>
        sum(col(s"__r$i").cast(d19) * col(s"__r$j").cast(d19))
          .as(s"__sp${i}_$j") }
    val sums = joined.agg(aggs.head, aggs.tail: _*)
    def vari(i: Int): Column =
      (col("__n").cast(d38) * col(s"__ss$i") -
        col(s"__s$i") * col(s"__s$i")).cast(DoubleType)
    val rhoCols = pairs.map { case (i, j) =>
      val cov = (col("__n").cast(d38) * col(s"__sp${i}_$j") -
        col(s"__s$i") * col(s"__s$j")).cast(DoubleType)
      when(vari(i) > 0 && vari(j) > 0,
        round(cov / sqrt(vari(i) * vari(j)), 6))
        .otherwise(lit(null).cast(DoubleType))
        .as(s"rho_${cols(i)}__${cols(j)}")
    }
    sums.select(coalesce(col("__n"), lit(0L)).as("n") +: rhoCols: _*)
  }

  /** CRAMÉR'S V categorical association for one column pair — the
    * classical, fully deterministic categorical tab. NOTE: ydata v4's
    * DEFAULT association matrix is phi-k, not Cramér's V —
    * [[phik]] implements it (rows-only by its numerical-inversion
    * nature); this statistic stays the hash-green tab, and the two
    * share the identical contingency/χ² arithmetic. Computed over the
    * χ² of the full
    * contingency grid (zero-observed cells included: expected counts
    * come from the margins, which are ≥ 1 wherever a level exists, so
    * no division by zero). Per-cell χ² terms are exact-integer
    * numerators/denominators pushed through IEEE double division and
    * ROUND 6, then summed as DECIMAL — associative, partition-order
    * independent, engine-replayable (the a24_benford discipline; a raw
    * double sum would drift). V = √(χ²/(n·(min(r,c)−1))), ROUND 6, null
    * for a 1-level margin (undefined). Returns ONE row
    * (n, r_levels, c_levels, chi2, cramers_v).
    *
    * Scale shape: one (a, b) count with map-side partials is the only
    * table-sized shuffle; margins reduce from the observed cells; the
    * r×c grid is categorical-sized (levels, not rows) and the one-row
    * total broadcasts. Exact while n⁴ < 10³⁸ (n ≲ 5·10⁹ rows).
    *
    * CATEGORICAL CONTRACT: the full r×c grid is materialized (zero
    * cells included — the χ² definition needs them), so the statistic
    * is only meaningful — and only affordable — over CATEGORICAL
    * columns. [[profile]] enforces that by selecting distinct ≤ 25
    * string pairs; a direct call guards itself: the level counts are
    * measured FIRST (they reduce from the observed cells — two tiny
    * aggregates over an already-persisted frame) and the call fails
    * fast when r·c exceeds `maxGridCells`, instead of silently
    * building a 10¹²-row grid from two near-key columns. */
  def cramersV(df: DataFrame, aCol: String, bCol: String,
               maxGridCells: Long = 4000000L): DataFrame = Residency.eager { s =>
    require(maxGridCells >= 1, s"maxGridCells must be >= 1, got $maxGridCells")
    val base = df.select(q(aCol).cast(StringType).as("__a"),
        q(bCol).cast(StringType).as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val obs = s.persist(base.groupBy("__a", "__b").agg(count(lit(1)).as("__o")))
    val ra = obs.groupBy("__a").agg(sum(col("__o")).as("__rt"))
    val cb = obs.groupBy("__b").agg(sum(col("__o")).as("__ct"))
    // fail-fast guard: ONE combined level-count action over the
    // persisted cells (this is also the job that materializes obs,
    // so the main pass below is pure cache reads — the guard's
    // marginal cost is one tiny aggregate, measured ~+0.4 s on a
    // sub-second face at sf0.1)
    val lv = obs.agg(count_distinct(col("__a")).as("r"),
      count_distinct(col("__b")).as("c")).head()
    val rLevels = lv.getLong(0)
    val cLevels = lv.getLong(1)
    require(rLevels * cLevels <= maxGridCells,
      s"cramersV('$aCol', '$bCol') would build a $rLevels × $cLevels " +
        s"contingency grid (${rLevels * cLevels} cells > $maxGridCells) " +
        "— Cramér's V is a CATEGORICAL association; bucket or recode " +
        "high-cardinality columns first, or raise maxGridCells " +
        "deliberately")
    val tot = obs.agg(sum(col("__o")).as("__n"))
    val d19 = DecimalType(19, 0)
    val grid = ra.crossJoin(cb).crossJoin(broadcast(tot))
      .join(obs, Seq("__a", "__b"), "left")
      .select(col("__a"), col("__b"), col("__rt"), col("__ct"),
        col("__n"), coalesce(col("__o"), lit(0L)).as("__o0"))
    val num = col("__o0").cast(d19) * col("__n").cast(d19) -
      col("__rt").cast(d19) * col("__ct").cast(d19)
    val term = round((num * num).cast(DoubleType) /
        (col("__rt").cast(d19) * col("__ct").cast(d19) *
          col("__n").cast(d19)).cast(DoubleType), 6)
      .cast(DecimalType(28, 6))
    val agg = grid.select(term.as("__term"), col("__a"), col("__b"),
        col("__n"))
      .agg(sum(col("__term")).as("__chi2"),
        count_distinct(col("__a")).as("__r"),
        count_distinct(col("__b")).as("__c"),
        max(col("__n")).as("__nn"))
    val minDim = least(col("__r"), col("__c"))
    agg.select(
      coalesce(col("__nn"), lit(0L)).as("n"),
      col("__r").cast(IntegerType).as("r_levels"),
      col("__c").cast(IntegerType).as("c_levels"),
      coalesce(col("__chi2").cast(DoubleType), lit(0.0)).as("chi2"),
      when(minDim > 1 && col("__nn") > 0,
        round(sqrt(col("__chi2").cast(DoubleType) /
          (col("__nn") * (minDim - 1)).cast(DoubleType)), 6))
        .otherwise(lit(null).cast(DoubleType)).as("cramers_v"))
  }

  /** COHEN'S KAPPA inter-rater agreement (Cohen 1960, "A coefficient of
    * agreement for nominal scales", Educ. Psychol. Meas. 20(1); weighted
    * form Cohen 1968 — both public) — chance-corrected agreement between
    * two label columns. The labeled-data curation statistic: how far two
    * quality gates / classifiers / annotators agree beyond what their
    * marginal label rates would produce by chance (raw percent agreement
    * rewards degenerate always-majority raters; κ does not). The
    * reference has no labeled-data ops — this extends the profiling
    * family the same way PR14/PR15 did (nothing in the reference's
    * `dag1.py` compares two categorical verdicts).
    *
    * Unified weighted form: κ_w = 1 − (n · Σ_ij w_ij·n_ij) /
    * (Σ_ij w_ij·r_i·c_j) with w from the label ORDER (ascending-label
    * convention, the [[phik]] discipline): `"none"` → w_ij = 1_{i≠j}
    * (identical to the classical unweighted κ by the p_o/p_e identity),
    * `"linear"` → |i−j|, `"quadratic"` → (i−j)² (ordinal labels: near
    * misses punished less; on 2 levels all three coincide — spec-pinned).
    * Every sum is over exact integers (weights, cell counts, margins) in
    * DECIMAL, pushed through ONE IEEE division + subtraction at ROUND 6 ⇒
    * fully hash-replayable (no per-cell rounding needed, tighter than
    * [[cramersV]]). Margins live on the UNION of both columns' labels, so
    * a label one rater never emits carries a zero margin instead of
    * silently shrinking the chance model. κ is null when the chance
    * denominator is 0 (both raters constant on one shared label).
    * Returns ONE row (n, levels, agree, kappa); `agree` = Σ n_ii and
    * `levels` = union label count ride along for report rendering.
    *
    * Scale shape: the one (a, b) cell count with map-side partials is the
    * only table-sized shuffle (the [[cramersV]] reduction); labels,
    * ranks, margins and both weighted sums are LEVEL-sized. The
    * ascending-label ordinal is a level-sized inequality join
    * (#{m ≤ l}), NOT a global window — nothing unpartitioned touches any
    * row-scaled frame. Guarded by `maxLevels` with the level count
    * measured first from the persisted cells (the fail-fast-before-work
    * discipline; the count is also the job that materializes the cache). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String,
                 weighting: String = "none",
                 maxLevels: Int = 1000): DataFrame = Residency.eager { s =>
    require(Seq("none", "linear", "quadratic").contains(weighting),
      s"weighting must be one of none|linear|quadratic, got '$weighting'")
    require(maxLevels >= 1, s"maxLevels must be >= 1, got $maxLevels")
    val base = df.select(q(aCol).cast(StringType).as("__a"),
        q(bCol).cast(StringType).as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val obs = s.persist(base.groupBy("__a", "__b").agg(count(lit(1)).as("__o")))
    val labels = s.persist(obs.select(col("__a").as("__lab"))
      .union(obs.select(col("__b").as("__lab"))).distinct())
    // fail-fast guard action — also materializes obs + labels, so
    // everything below is pure cache reads (the cramersV pattern)
    val nLabels = labels.count()
    require(nLabels <= maxLevels,
      s"cohenKappa('$aCol', '$bCol') sees $nLabels distinct labels " +
        s"(> $maxLevels) — κ is a CATEGORICAL agreement statistic; " +
        "recode high-cardinality verdicts first, or raise maxLevels " +
        "deliberately")
    val d19 = DecimalType(19, 0)
    val d38 = DecimalType(38, 0)
    // ascending-label ordinal without a global window: rank(l) =
    // #{m ≤ l} over the level-sized label set (bounded by the guard)
    val ranked = labels.select(col("__lab").as("__xl"))
      .join(labels.select(col("__lab").as("__yl")),
        col("__yl") <= col("__xl"))
      .groupBy(col("__xl")).agg(count(lit(1)).as("__idx"))
    def w(i: Column, j: Column): Column = weighting match {
      case "none"      => when(i === j, lit(0L)).otherwise(lit(1L))
      case "linear"    => abs(i - j).cast(LongType)
      case "quadratic" => ((i - j) * (i - j)).cast(LongType)
    }
    val ra = obs.groupBy("__a").agg(sum(col("__o")).as("__rt"))
    val cb = obs.groupBy("__b").agg(sum(col("__o")).as("__ct"))
    // margins on the union label set: absent labels carry 0
    val rm = ranked.join(ra, col("__xl") === col("__a"), "left")
      .select(col("__idx").as("__ia"),
        coalesce(col("__rt"), lit(0L)).as("__r"))
    val cm = ranked.join(cb, col("__xl") === col("__b"), "left")
      .select(col("__idx").as("__ib"),
        coalesce(col("__ct"), lit(0L)).as("__c"))
    // chance mass Σ w·r·c over the level² grid (level-sized cross)
    val wexp = rm.crossJoin(cm)
      .select((w(col("__ia"), col("__ib")).cast(d19) *
        col("__r").cast(d19) * col("__c").cast(d19)).cast(d38)
        .as("__t"))
      .agg(sum(col("__t")).as("__wexp"))
    val obsIdx = obs
      .join(ranked.select(col("__xl").as("__a"),
        col("__idx").as("__ia")), Seq("__a"))
      .join(ranked.select(col("__xl").as("__b"),
        col("__idx").as("__ib")), Seq("__b"))
    val sums = obsIdx.agg(
      sum(col("__o")).as("__n"),
      sum(when(col("__a") === col("__b"), col("__o"))
        .otherwise(lit(0L))).as("__agree"),
      sum((w(col("__ia"), col("__ib")).cast(d19) *
        col("__o").cast(d19)).cast(d38)).as("__wobs"))
    sums.crossJoin(broadcast(wexp)).select(
      coalesce(col("__n"), lit(0L)).cast(LongType).as("n"),
      lit(nLabels).cast(IntegerType).as("levels"),
      coalesce(col("__agree"), lit(0L)).cast(LongType).as("agree"),
      when(col("__wexp").isNotNull && col("__wexp") > 0,
        round(lit(1.0) -
          (col("__n").cast(d38) * col("__wobs")).cast(DoubleType) /
            col("__wexp").cast(DoubleType), 6))
        .otherwise(lit(null).cast(DoubleType)).as("kappa"))
  }

  /** PHI-K categorical/interval association (Baak, Koopman, Snoek &
    * Klous 2019, "A new correlation coefficient between categorical,
    * ordinal and interval variables with Pearson characteristics",
    * Computational Statistics & Data Analysis, arXiv:1811.11440 —
    * public) — ydata-profiling v4's DEFAULT association matrix
    * (finalprojectpandasprofiling.py:50 renders a "Phik (φk)" tab;
    * [[cramersV]] is the classical deterministic stand-in this engine
    * also ships). φk is defined by inversion: bin a standard bivariate
    * normal so its marginals match the OBSERVED marginal frequencies
    * (bin edges at Φ⁻¹ of the cumulative fractions), and solve for the
    * ρ whose binned-normal χ² equals the observed contingency χ² —
    * the association value is then interpretable on the Pearson-ρ
    * scale regardless of level counts. Returns ONE row
    * (n, r_levels, c_levels, chi2, phik): n/levels/chi2 are the exact
    * same values [[cramersV]] emits (identical per-cell round-6 +
    * decimal-sum arithmetic), so the hash-green pr15 face certifies
    * everything up to the inversion; φk itself needs numerical
    * bivariate-normal integration, so its face is rows-only with the
    * inversion spec-pinned in ProfileSpec against the CLOSED-FORM 2×2
    * equal-margin case (orthant probability: P(X<0, Y<0) =
    * 1/4 + asin ρ / 2π — Sheppard 1899), independence → 0, perfect
    * association → 1, and argument symmetry.
    *
    * Deliberate deviations from the phik LIBRARY defaults, for
    * determinism (documented per the certification discipline):
    * levels map to bins in ASCENDING LABEL order (a fixed convention —
    * the reference scale depends on bin arrangement, so any replay
    * needs one pinned order), and NO sample-size "pedestal" noise
    * correction is applied (the library's statistical-significance
    * refinement; raw φk is the paper's core definition).
    *
    * Scale shape: the contingency reduction is the [[cramersV]]
    * distributed pass (one table-sized shuffle); the collected grid and
    * the χ²(ρ) bisection are CATEGORICAL-sized (levels × levels,
    * guarded by `maxGridCells` — fail-fast like [[cramersV]], default
    * tighter because the DRIVER iterates the grid ~60× during
    * inversion: 64-node Gauss–Legendre × 4 composite panels per
    * row-interval per y-edge — [[PhikMath]]'s constants).
    * Model-artifact-sized driver work, never row-scaled. */
  def phik(df: DataFrame, aCol: String, bCol: String,
           maxGridCells: Long = 10000L): DataFrame = {
    require(maxGridCells >= 1, s"maxGridCells must be >= 1, got $maxGridCells")
    val spark = df.sparkSession
    val base = df.select(q(aCol).cast(StringType).as("__a"),
        q(bCol).cast(StringType).as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val cells = Residency.scoped { s =>
      val obs = s.persist(base.groupBy("__a", "__b").agg(count(lit(1)).as("__o")))
      // the level guard fires BEFORE the driver collect — on a
      // high-cardinality pair the cell set itself is the thing that
      // must never reach the driver (one combined distinct-count
      // action over the persisted cells, which also materializes them
      // for the collect on the success path)
      val lv = obs.agg(count_distinct(col("__a")).as("r"),
        count_distinct(col("__b")).as("c")).head()
      val (rl, cl) = (lv.getLong(0), lv.getLong(1))
      require(rl * cl <= maxGridCells,
        s"phik('$aCol', '$bCol') would invert over a $rl × $cl grid " +
          s"($rl × $cl cells > $maxGridCells) — φk is a CATEGORICAL " +
          "association; bucket or recode high-cardinality columns " +
          "first, or raise maxGridCells deliberately")
      obs.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    }
    val aLevels = cells.map(_._1).distinct.sorted
    val bLevels = cells.map(_._2).distinct.sorted
    val r = aLevels.length
    val c = bLevels.length
    val n = cells.map(_._3).sum
    val out: Row =
      if (n == 0L || r == 0 || c == 0)
        Row(0L, r, c, 0.0, null)
      else {
        val ai = aLevels.zipWithIndex.toMap
        val bi = bLevels.zipWithIndex.toMap
        val o = Array.ofDim[Long](r, c)
        cells.foreach { case (a, b, cnt) => o(ai(a))(bi(b)) = cnt }
        val rowTot = o.map(_.sum)
        val colTot = (0 until c).map(j => (0 until r).map(o(_)(j)).sum).toArray
        // χ²_obs — the EXACT SAME arithmetic as [[cramersV]]: integer
        // numerators, IEEE division, ROUND 6 per cell, decimal sum
        var chi2Dec = BigDecimal(0)
        for (i <- 0 until r; j <- 0 until c) {
          val num = BigInt(o(i)(j)) * n - BigInt(rowTot(i)) * colTot(j)
          val term = (num * num).toDouble /
            (BigInt(rowTot(i)) * colTot(j) * n).toDouble
          chi2Dec += BigDecimal(term)
            .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        }
        val chi2 = chi2Dec.toDouble
        val phikVal: Any =
          if (r < 2 || c < 2) null
          else {
            val v = PhikMath.invert(chi2, n,
              rowTot.map(_.toDouble / n), colTot.map(_.toDouble / n))
            BigDecimal(v).setScale(6,
              scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
          }
        Row(n, r, c, chi2, phikVal)
      }
    val schema = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("r_levels", IntegerType, nullable = false),
      StructField("c_levels", IntegerType, nullable = false),
      StructField("chi2", DoubleType, nullable = false),
      StructField("phik", DoubleType, nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(out), schema)
  }

  /** PHI-K between INTERVAL (numeric) columns — the paper's binned
    * form (Baak et al. 2019 §2: interval variables are discretized,
    * then the categorical machinery applies; ydata's default matrix
    * does exactly this for numeric pairs). Each column buckets into
    * `bins` quantile bins by exact interpolated cutpoints, bin labels
    * are ZERO-PADDED indices so [[phik]]'s ascending-label convention
    * preserves the NUMERIC bin order — required for interval columns,
    * where the bivariate-normal reference scale genuinely uses the
    * ordering (a nominal shuffle of interval bins would understate the
    * association). Rows where either side is null (or NaN) drop, like
    * the pairwise-complete convention. Returns [[phik]]'s one-row
    * frame.
    *
    * Scale shape: ONE cutpoint aggregate per call (both columns
    * together) broadcast back, map-side bucketing — the
    * activitySegments discipline: never an ntile global window — then
    * the [[phik]] contingency pass. Ties at a cutpoint land in the
    * lower bin deterministically (strict-greater bucketing).
    * `exactCuts = true` (default) uses the exact interpolated
    * percentile — deterministic, but it gathers every value into one
    * aggregation buffer, the right trade only at report scale;
    * `exactCuts = false` is the 100 TB path (GK `percentile_approx`,
    * the [[graft.quality.Quality.percentileGate]] contract — cutpoint
    * placement shifts within sketch error, which perturbs bin
    * populations but not the statistic's meaning).
    *
    * NOTE the guard here is A-PRIORI (bins², before any work) while
    * [[phik]]'s is observed-levels: low-cardinality data collapses tied
    * cutpoints well below bins² actual levels, so an over-specified
    * `bins` on 5-distinct data is rejected even though the observed
    * grid would have been tiny — size `bins` to the data (≤ its
    * cardinality) or raise `maxGridCells` deliberately. */
  def phikBinned(df: DataFrame, aCol: String, bCol: String,
                 bins: Int = 10,
                 maxGridCells: Long = 10000L,
                 exactCuts: Boolean = true): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2, 1000], got $bins")
    // the grid size is bins² BY CONSTRUCTION — reject a doomed call at
    // require-time instead of paying the full bucketing + contingency
    // shuffle just to throw in phik's level guard afterwards
    require(bins.toLong * bins <= maxGridCells,
      s"phikBinned with bins = $bins builds a $bins × $bins grid " +
        s"(${bins.toLong * bins} cells > maxGridCells = $maxGridCells) — " +
        "lower bins or raise maxGridCells deliberately")
    phik(quantileBinnedPair(df, aCol, bCol, bins, exactCuts),
      "__a", "__b", maxGridCells)
  }

  /** The quantile-binned (__a, __b) label frame that [[phikBinned]] and
    * [[phikBinnedContingency]] SHARE — one implementation, so the
    * rows-only interval-φk face and its hash-green contingency
    * certificate can never bin differently: exact (or GK-approximate)
    * cutpoints from ONE aggregate broadcast back, strict-greater
    * bucketing (cutpoint ties land in the lower bin), zero-padded
    * ascending labels, pairwise-complete null/NaN drop. */
  private def quantileBinnedPair(df: DataFrame, aCol: String, bCol: String,
                                 bins: Int, exactCuts: Boolean): DataFrame = {
    // Spread before the cutpoint aggregates: a single-row-group scan
    // fed the percentile partials from 3 tasks (r20 stage profile), and
    // the whole pair pipeline above it is map-heavy.
    val base = graft.util.Spread.forMapWork(df.select(
        graft.expr.Exprs.nanToNull(q(aCol).cast(DoubleType)).as("__x"),
        graft.expr.Exprs.nanToNull(q(bCol).cast(DoubleType)).as("__y")))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val ps = (1 until bins).map(i => s"${i.toDouble / bins}D")
      .mkString(", ")
    val pctFn = if (exactCuts) "percentile" else "percentile_approx"
    val acc = if (exactCuts) "" else ", 10000"
    // TWO one-row aggregates cross-joined, not one two-column aggregate:
    // an exact percentile's final merge is a SINGLE task (one-row
    // aggregate), and with both columns in one Aggregate that serial
    // task paid both columns' value-sort back to back (1.3-1.6 s at
    // sf0.1). As independent subtrees of the same lazy plan the two
    // merges are independent stages and run CONCURRENTLY (guide §2.6).
    // Cutpoint values are identical — same percentile call per column.
    val cuts = base.agg(expr(s"$pctFn(__x, array($ps)$acc)").as("__cx"))
      .crossJoin(base.agg(expr(s"$pctFn(__y, array($ps)$acc)").as("__cy")))
    def bucket(c: Column, cutsCol: Column): Column = {
      // bin index = number of cutpoints strictly below the value —
      // aggregate() over the broadcast cutpoint array, codegen-free but
      // cutpoint-array-sized (≤ 999 elements), map-side
      val idx = (1 until bins).map(i =>
        when(c > element_at(cutsCol, i), 1).otherwise(0))
        .reduce(_ + _)
      format_string(s"b%0${math.max(3, bins.toString.length)}d", idx)
    }
    base.crossJoin(broadcast(cuts))
      .select(bucket(col("__x"), col("__cx")).as("__a"),
        bucket(col("__y"), col("__cy")).as("__b"))
  }

  /** SHARED-CUTPOINT binned labels over a set of numeric columns — the
    * O(columns) form [[profile]]'s default φk tab uses: every column's
    * exact interpolated cutpoints come from ONE aggregate (a per-pair
    * [[phikBinned]] loop gathers both columns' full value sets for
    * EVERY pair — O(pairs) percentile jobs), broadcast back once, and
    * every column binned in one projection. Null/NaN values keep a
    * NULL label so each pair's [[phik]] contingency drops them
    * pairwise-complete, like the per-pair form; the cutpoints
    * themselves are per-column marginals (the phik library's own
    * binning convention — identical to the pairwise-complete form
    * whenever the columns are null/NaN-free). Labels are the identical
    * zero-padded ascending format. Returns the binned frame
    * (__b0 … __bN in `cols` order), persisted in the caller's scope. */
  private[profile] def quantileBinnedColumns(s: Residency.Scope, df: DataFrame,
      cols: Seq[String], bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2, 1000], got $bins")
    require(cols.nonEmpty, "quantileBinnedColumns needs columns")
    val base = df.select(cols.zipWithIndex.map { case (c, i) =>
      graft.expr.Exprs.nanToNull(q(c).cast(DoubleType)).as(s"__x$i") }: _*)
    val ps = (1 until bins).map(i => s"${i.toDouble / bins}D")
      .mkString(", ")
    val cutAggs = cols.indices.map(i =>
      expr(s"percentile(__x$i, array($ps))").as(s"__c$i"))
    def bucket(i: Int): Column = {
      val idx = (1 until bins).map(j =>
        when(col(s"__x$i") > element_at(col(s"__c$i"), j), 1).otherwise(0))
        .reduce(_ + _)
      when(col(s"__x$i").isNotNull,
        format_string(s"b%0${math.max(3, bins.toString.length)}d", idx))
    }
    s.persist(base
      .crossJoin(broadcast(base.agg(cutAggs.head, cutAggs.tail: _*)))
      .select(cols.indices.map(i => bucket(i).as(s"__b$i")): _*))
  }

  /** The HASH-CERTIFIABLE layer of [[phikBinned]]: the SAME quantile
    * binning ([[quantileBinnedPair]] — shared code, not a re-derivation)
    * pushed through [[cramersV]]'s deterministic contingency machinery —
    * ONE row (n, r_levels, c_levels, chi2, cramers_v). Everything the
    * interval-φk face does up to [[PhikMath.invert]] — cutpoint
    * placement, strict-greater bucketing, zero-padded label order, the
    * r×c grid, the per-cell round-6 χ² DECIMAL sum — is exact and
    * ANSI-SQL-replayable here, so the rows-only surface of
    * `pr19_phik_interval` shrinks to the bivariate-normal inversion
    * alone (`pr20_binned_chi2` hash-certifies this layer). Returns
    * [[cramersV]]'s PERSISTED one-row frame (caller-unpersist
    * contract). */
  def phikBinnedContingency(df: DataFrame, aCol: String, bCol: String,
                            bins: Int = 10, maxGridCells: Long = 10000L,
                            exactCuts: Boolean = true): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2, 1000], got $bins")
    require(bins.toLong * bins <= maxGridCells,
      s"phikBinnedContingency with bins = $bins builds a $bins × $bins " +
        s"grid (${bins.toLong * bins} cells > maxGridCells = " +
        s"$maxGridCells) — lower bins or raise maxGridCells deliberately")
    cramersV(quantileBinnedPair(df, aCol, bCol, bins, exactCuts),
      "__a", "__b", maxGridCells)
  }

  /** Pairwise MISSINGNESS association — ydata-profiling's nullity
    * correlation matrix (the default report's "Missing values" section,
    * finalprojectpandasprofiling.py:50): Pearson φ over the per-column
    * isNull indicators, one row per (col_a, col_b) pair (input order,
    * a before b) where BOTH columns are PARTIALLY missing — an all-null
    * or null-free column has a zero-variance indicator, so its pairs
    * are undefined and excluded (the ydata convention). Returns
    * (col_a, col_b, n, nullity_corr): φ from the exact integer
    * sufficient sums (n, Σa, Σb, Σab; for 0/1 indicators Σa² = Σa)
    * pushed through a handful of IEEE double ops at ROUND 6 —
    * deterministic and engine-replayable (the pr3_moments discipline).
    *
    * Scale shape: pass 1 is one per-column null-count aggregate (one
    * scan); pass 2 computes EVERY kept pair's co-null count in ONE
    * aggregate over the indicator projection (map-side partials, pair
    * count column-bounded); the φ derivation runs in-plan over the one
    * sums row through DECIMAL(19,0) products (exact while n² < 10³⁸,
    * the [[spearman]] envelope). `maxCols` bounds the quadratic pair
    * fan-out like [[profile]]'s maxAssocCols. */
  def nullityCorrelation(df: DataFrame, maxCols: Int = 16): DataFrame = {
    val fields = df.schema.fields
    require(fields.nonEmpty, "nullityCorrelation needs at least one column")
    val cntAggs: Seq[Column] = count(lit(1)).as("__n") +:
      fields.toSeq.map(f => sum(when(q(f.name).isNull, 1L).otherwise(0L))
        .as(s"__m_${f.name}"))
    val crow = df.agg(cntAggs.head, cntAggs.tail: _*).head()
    val n = crow.getLong(0)
    val cands = fields.map(_.name).filter { c =>
      val m = crow.getLong(crow.fieldIndex(s"__m_$c")); m > 0 && m < n
    }.toSeq
    require(cands.length <= maxCols,
      s"nullityCorrelation over ${cands.length} partially-missing " +
        s"columns exceeds maxCols = $maxCols (quadratic pair fan-out) — " +
        "pass a column subset or raise maxCols deliberately")
    nullityPairs(df, cands)
  }

  /** The pass-2 pair aggregation of [[nullityCorrelation]] over a KNOWN
    * candidate set — [[profile]] calls this directly with the
    * partially-missing columns its pass 1 already measured, skipping
    * the counting scan. Fewer than two candidates yields the empty
    * frame (no pairs to associate). */
  private[profile] def nullityPairs(df: DataFrame, cols: Seq[String])
      : DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("col_a", StringType, nullable = false),
      StructField("col_b", StringType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("nullity_corr", DoubleType, nullable = true)))
    if (cols.length < 2)
      return spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema)
    val ind = df.select(cols.zipWithIndex.map { case (c, i) =>
      when(q(c).isNull, 1L).otherwise(0L).as(s"__i$i") }: _*)
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.length }
      yield (i, j)
    val aggs: Seq[Column] = Seq(count(lit(1)).as("__n")) ++
      cols.indices.map(i => sum(col(s"__i$i")).as(s"__s$i")) ++
      pairs.map { case (i, j) =>
        sum(col(s"__i$i") * col(s"__i$j")).as(s"__p${i}_$j") }
    val sums = ind.agg(aggs.head, aggs.tail: _*)
    val d19 = DecimalType(19, 0)
    // var(indicator i) · n² = n·Σa − Σa² = n·Σa − Σa·Σa (Σa² = Σa for
    // 0/1 values is NOT used — the generic form keeps the expression
    // identical to the SQL replay)
    def vari(i: Int): Column =
      (col("__n").cast(d19) * col(s"__s$i").cast(d19) -
        col(s"__s$i").cast(d19) * col(s"__s$i").cast(d19)).cast(DoubleType)
    val entries = pairs.map { case (i, j) =>
      val cov = (col("__n").cast(d19) * col(s"__p${i}_$j").cast(d19) -
        col(s"__s$i").cast(d19) * col(s"__s$j").cast(d19)).cast(DoubleType)
      struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        col("__n").as("n"),
        when(vari(i) > 0 && vari(j) > 0,
          round(cov / sqrt(vari(i) * vari(j)), 6))
          .otherwise(lit(null).cast(DoubleType)).as("nullity_corr"))
    }
    sums.select(explode(array(entries: _*)).as("__e")).select("__e.*")
  }

  /** ydata-profiling's "Interactions" section as data — the 2-D
    * histogram per numeric column pair that the default report renders
    * as scatter/hexbin grids (finalprojectpandasprofiling.py:50): a
    * bins × bins equal-width grid between each column's [min, max],
    * OCCUPIED cells only: (col_a, col_b, bx, by, cnt) with bx/by ∈
    * [0, bins−1] (the max value folds into the top bin), pairs in
    * `cols` order. Rows where either side is null/NaN drop
    * (pairwise-complete). Bucketing is plain IEEE arithmetic —
    * floor((x − lo)/(hi − lo)·bins) capped at bins−1 — so the integer
    * counts replay exactly in ANSI SQL (width_bucket is not a portable
    * primitive). A zero-spread column (min == max) has no 2-D extent:
    * its pairs are excluded, like PR6's zero-variance exclusions.
    *
    * Scale shape: ONE min/max aggregate over all columns broadcast back
    * as a one-row frame (no driver collect), then ONE exploded cell
    * projection + groupBy count with map-side partials — the output is
    * bounded by pairs · bins², never row-scaled. */
  def interactions(df: DataFrame, cols: Seq[String], bins: Int = 10)
      : DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2, 1000], got $bins")
    require(cols.length >= 2,
      s"interactions needs >= 2 columns, got ${cols.length}")
    require(cols.distinct.length == cols.length,
      s"interactions got duplicate columns: $cols")
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    cols.foreach { c =>
      require(byName.contains(c), s"no such column: $c")
      require(isNumeric(byName(c).dataType),
        s"interactions needs numeric columns; $c is " +
          byName(c).dataType.simpleString)
    }
    val base = df.select(cols.zipWithIndex.map { case (c, i) =>
      graft.expr.Exprs.nanToNull(q(c).cast(DoubleType)).as(s"__x$i") }: _*)
    val mmAggs = cols.indices.flatMap(i => Seq(
      min(col(s"__x$i")).as(s"__lo$i"), max(col(s"__x$i")).as(s"__hi$i")))
    val mm = base.agg(mmAggs.head, mmAggs.tail: _*)
    def bucket(i: Int): Column =
      least(floor((col(s"__x$i") - col(s"__lo$i"))
          / (col(s"__hi$i") - col(s"__lo$i")) * lit(bins.toDouble)),
        lit((bins - 1).toLong)).cast(IntegerType)
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.length }
      yield (i, j)
    val cells = pairs.map { case (i, j) =>
      // a pair cell exists only when both sides are present and both
      // columns have spread — the `when` guard also keeps the bucket
      // division from ever evaluating 0/0 (NaN would crash the ANSI
      // floor-to-long cast)
      when(col(s"__x$i").isNotNull && col(s"__x$j").isNotNull &&
          col(s"__hi$i") > col(s"__lo$i") && col(s"__hi$j") > col(s"__lo$j"),
        struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
          bucket(i).as("bx"), bucket(j).as("by")))
    }
    base.crossJoin(broadcast(mm))
      .select(explode(array(cells: _*)).as("__c"))
      .filter(col("__c").isNotNull)
      .select("__c.*")
      .groupBy("col_a", "col_b", "bx", "by")
      .agg(count(lit(1)).as("cnt"))
  }

  /** ydata-profiling ALERTS synthesis — the "warnings" block a reader of
    * the reference's `<table>_report.html` sees first
    * (finalprojectpandasprofiling.py:50: ProfileReport derives per-column
    * alert verdicts from the same statistics PR1–PR8 compute). One row per
    * FIRED alert: (col_name, alert, value), where `value` is the metric
    * that fired it (rounded 6 — IEEE-portable):
    *
    *   - `constant`         exactly one distinct non-null value (value =
    *                        distinct count, i.e. 1)
    *   - `unique`           every non-null value distinct (value =
    *                        distinct count)
    *   - `high_cardinality` distinct count > `cardinalityThreshold`
    *                        (ydata's default 50; value = distinct count)
    *   - `missing`          null fraction > `missingThreshold` (NaN counts
    *                        as missing for floating columns, the
    *                        [[profile]] convention; value = null fraction)
    *   - `skewed`           |skewness| > `skewThreshold` (ydata's default
    *                        20; numeric columns only; value = skewness,
    *                        the population m3/m2^1.5 form — computed
    *                        two-pass from explicit central moments, the
    *                        hash-portable pr3_moments shape, NOT Spark's
    *                        `skewness` whose one-pass update order is not
    *                        replayable)
    *
    * Scale shape: one tiny means row (numeric columns) broadcast back,
    * then ONE aggregation pass over the table computing every column's
    * count/distinct/moments together (map-side partials), then the alert
    * derivation over the single stats row — threshold arithmetic, no
    * further scan. `exact = false` (the 100 TB default) switches distinct
    * counts to HLL++, making `constant`/`unique`/`high_cardinality`
    * verdicts estimates (HLL error ≈ 2% — fine for 50-vs-5M cardinality
    * calls, wrong tool for exact uniqueness gates: use
    * [[graft.quality.Quality.checkPrimaryKey]] for enforcement). */
  def alerts(df: DataFrame, cardinalityThreshold: Long = 50,
             missingThreshold: Double = 0.0, skewThreshold: Double = 20.0,
             exact: Boolean = false): DataFrame = {
    val fields = df.schema.fields
    require(fields.nonEmpty, "alerts needs at least one column")
    val numeric = fields.zipWithIndex.filter { case (f, _) => isNumeric(f.dataType) }
    def nc(f: StructField): Column =
      if (isFloating(f.dataType)) graft.expr.Exprs.nanToNull(q(f.name)) else q(f.name)

    // pass 0: one means row for the numeric columns — skewness needs
    // central moments, and the two-pass (mean first) form is the
    // hash-portable one (pr3_moments precedent)
    val withMu =
      if (numeric.isEmpty) df
      else df.crossJoin(broadcast(df.agg(
        avg(nc(numeric.head._1)).as("__mu_" + numeric.head._2),
        numeric.tail.map { case (f, i) => avg(nc(f)).as(s"__mu_$i") }: _*)))

    val skewIdx = numeric.map { case (f, i) => f.name -> i }.toMap
    val aggs: Seq[Column] =
      Seq(count(lit(1)).cast(DoubleType).as("__n")) ++
      fields.zipWithIndex.flatMap { case (f, i) =>
        Seq(count(nc(f)).cast(DoubleType).as(s"__nn_$i"),
          (if (exact) count_distinct(nc(f))
           else approx_count_distinct(nc(f))).cast(DoubleType).as(s"__nd_$i"))
      } ++
      numeric.flatMap { case (f, i) =>
        Seq(avg(pow(nc(f) - col(s"__mu_$i"), 2)).as(s"__m2_$i"),
            avg(pow(nc(f) - col(s"__mu_$i"), 3)).as(s"__m3_$i"))
      }
    val stats = withMu.agg(aggs.head, aggs.tail: _*)

    // alert derivation over the one stats row: each (column, alert)
    // candidate is a nullable struct; explode keeps the fired ones
    val candidates: Seq[Column] = fields.zipWithIndex.flatMap { case (f, i) =>
      val n  = col("__n")
      val nn = col(s"__nn_$i")
      val nd = col(s"__nd_$i")
      def fired(name: String, cond: Column, value: Column): Column =
        when(cond, struct(lit(f.name).as("col_name"), lit(name).as("alert"),
          value.as("value")))
      // try_divide: ANSI mode throws on /0 — an EMPTY profiled frame
      // (n = 0) or a constant numeric column (m2 = 0) must yield "no
      // alert", not a crash; null propagates to a false `when`
      val missingFrac = round(try_divide(n - nn, n), 6)
      val base = Seq(
        fired("constant", nn > 0 && nd === 1, round(nd, 6)),
        fired("unique", nn > 0 && nd === nn, round(nd, 6)),
        fired("high_cardinality", nd > lit(cardinalityThreshold.toDouble),
          round(nd, 6)),
        fired("missing", missingFrac > missingThreshold, missingFrac))
      val skew = skewIdx.get(f.name).map { j =>
        val sk = round(try_divide(col(s"__m3_$j"), pow(col(s"__m2_$j"), 1.5)), 6)
        fired("skewed", col(s"__m2_$j") > 0 && abs(sk) > skewThreshold, sk)
      }
      base ++ skew.toSeq
    }
    stats.select(explode(array(candidates: _*)).as("__a"))
      .filter(col("__a").isNotNull)
      .select(col("__a.col_name"), col("__a.alert"), col("__a.value"))
  }

  /** The ANSI-SQL replay of [[alerts]] (exact mode) — the oracle text
    * generator, kept NEXT TO the engine code so the two formulations
    * cannot drift. `srcSql` must yield the profiled frame; `cols` lists
    * its columns as (name, isNumeric) in any order. */
  def alertsSql(srcSql: String, cols: Seq[(String, Boolean)],
                cardinalityThreshold: Long = 50,
                missingThreshold: Double = 0.0,
                skewThreshold: Double = 20.0): String = {
    val numeric = cols.filter(_._2).map(_._1)
    val muSelect =
      if (numeric.isEmpty) "SELECT 1 AS __one"
      else "SELECT " + numeric.map(c => s"avg($c) AS mu_$c").mkString(", ")
    val statAggs =
      Seq("CAST(count(*) AS DOUBLE) AS n") ++
      cols.map { case (c, _) =>
        s"CAST(count($c) AS DOUBLE) AS nn_$c, " +
          s"CAST(count(DISTINCT $c) AS DOUBLE) AS nd_$c" } ++
      numeric.map(c => s"avg(pow($c - mu_$c, 2)) AS m2_$c, " +
        s"avg(pow($c - mu_$c, 3)) AS m3_$c")
    val arms = cols.flatMap { case (c, isNum) =>
      val base = Seq(
        s"""SELECT '$c' AS col_name, 'constant' AS alert,
           | ROUND(nd_$c, 6) AS value FROM st
           | WHERE nn_$c > 0 AND nd_$c = 1""".stripMargin,
        s"""SELECT '$c', 'unique', ROUND(nd_$c, 6) FROM st
           | WHERE nn_$c > 0 AND nd_$c = nn_$c""".stripMargin,
        s"""SELECT '$c', 'high_cardinality', ROUND(nd_$c, 6) FROM st
           | WHERE nd_$c > $cardinalityThreshold""".stripMargin,
        s"""SELECT '$c', 'missing', ROUND((n - nn_$c) / n, 6) FROM st
           | WHERE n > 0 AND ROUND((n - nn_$c) / n, 6) > $missingThreshold"""
          .stripMargin)
      val skew =
        if (!isNum) Nil
        else Seq(
          s"""SELECT '$c', 'skewed', ROUND(m3_$c / pow(m2_$c, 1.5), 6) FROM st
             | WHERE m2_$c > 0
             | AND abs(ROUND(m3_$c / pow(m2_$c, 1.5), 6)) > $skewThreshold"""
            .stripMargin)
      base ++ skew
    }
    s"""WITH src AS ($srcSql),
       |mu AS ($muSelect FROM src),
       |st AS (SELECT ${statAggs.mkString(",\n  ")} FROM src, mu)
       |${arms.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** K4 — render a profile as a standalone HTML report (the reference's
    * `<table>_report.html`, finalprojectpandasprofiling.py:52-54). */
  def toHtml(p: TableProfile): String = {
    // Locale.ROOT: the f-interpolator formats through the JVM default
    // locale, turning 15.0 into "15,0000" on FR/DE machines; report
    // output must not depend on where it renders. Names/types are
    // escaped — headers arrive verbatim from spreadsheet cells.
    def fmt(o: Option[Double]): String =
      o.map(d => String.format(java.util.Locale.ROOT, "%.4f",
        Double.box(d))).getOrElse("—")
    def esc(s: String): String = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    // frequent values render truncated — a "frequent" TEXT column could
    // otherwise paste whole documents into the report
    def freqCell(c: ColumnProfile): String =
      c.frequent.map { case (v, n) =>
        val shown = if (v.length > 40) v.take(40) + "…" else v
        s"${esc(shown)} (${n})"
      }.mkString(", ")
    val colRows = p.profiles.map { c =>
      s"<tr><td>${esc(c.name)}</td><td>${esc(c.dataType)}</td><td>${c.count}</td>" +
        s"<td>${c.missing}</td><td>${c.distinct}</td><td>${fmt(c.mean)}</td>" +
        s"<td>${fmt(c.stddev)}</td><td>${fmt(c.min)}</td><td>${fmt(c.p50)}</td>" +
        s"<td>${fmt(c.max)}</td><td>${fmt(c.skewness)}</td>" +
        s"<td>${fmt(c.kurtosis)}</td><td>${c.histogram.mkString(" ")}</td>" +
        s"<td>${freqCell(c)}</td></tr>"
    }.mkString("\n")
    def assocRows(m: Map[(String, String), Double]): String =
      m.toSeq.sortBy(_._1).map { case ((a, b), v) =>
        s"<tr><td>${esc(a)}</td><td>${esc(b)}</td><td>${fmt(Some(v))}</td></tr>"
      }.mkString("\n")
    val corrRows = assocRows(p.correlations)
    // the ydata report's extra correlation tabs render only when
    // computed — an associations = false profile keeps its report lean
    val spearmanBlock =
      if (p.spearman.isEmpty) ""
      else s"""<h2>Correlations (Spearman)</h2>
              |<table><tr><th>a</th><th>b</th><th>rho</th></tr>
              |${assocRows(p.spearman)}</table>""".stripMargin
    val cramersBlock =
      if (p.cramersV.isEmpty) ""
      else s"""<h2>Associations (Cramér's V)</h2>
              |<table><tr><th>a</th><th>b</th><th>V</th></tr>
              |${assocRows(p.cramersV)}</table>""".stripMargin
    val phikBlock =
      if (p.phik.isEmpty) ""
      else s"""<h2>Associations (Phik φk)</h2>
              |<table><tr><th>a</th><th>b</th><th>φk</th></tr>
              |${assocRows(p.phik)}</table>""".stripMargin
    // nullity correlation — the ydata "Missing values" association grid
    val nullityBlock =
      if (p.nullity.isEmpty) ""
      else s"""<h2>Nullity correlation</h2>
              |<table><tr><th>a</th><th>b</th><th>φ</th></tr>
              |${assocRows(p.nullity)}</table>""".stripMargin
    // interactions — one row per pair, its occupied (bx,by):cnt cells
    // inline (the report stays a dependency-free single file; a reader
    // gets the joint-distribution shape without a plotting library)
    val interactionsBlock =
      if (p.interactions.isEmpty) ""
      else {
        val body = p.interactions.toSeq.sortBy(_._1).map { case ((a, b), cells) =>
          val grid = cells.map { case (x, y, n) => s"($x,$y):$n" }.mkString(" ")
          s"<tr><td>${esc(a)}</td><td>${esc(b)}</td><td>$grid</td></tr>"
        }.mkString("\n")
        s"""<h2>Interactions (2-D histograms)</h2>
           |<table><tr><th>a</th><th>b</th><th>occupied cells (bx,by):count</th></tr>
           |$body</table>""".stripMargin
      }
    // first-N sample — cells truncate like frequent values (a TEXT cell
    // must not paste a whole document into the report)
    val sampleBlock =
      if (p.sample.isEmpty) ""
      else {
        val head = p.sampleColumns.map(c => s"<th>${esc(c)}</th>")
          .mkString
        val body = p.sample.map { r =>
          r.map { v =>
            val shown = if (v.length > 40) v.take(40) + "…" else v
            s"<td>${esc(shown)}</td>"
          }.mkString("<tr>", "", "</tr>")
        }.mkString("\n")
        s"""<h2>Sample (first ${p.sample.length} rows)</h2>
           |<table><tr>$head</tr>
           |$body</table>""".stripMargin
      }
    // the ydata "Duplicates" section: the most-duplicated rows
    // themselves, cells truncated like the sample
    val dupBlock =
      if (p.duplicates.isEmpty) ""
      else {
        val head = (p.profiles.map(c => s"<th>${esc(c.name)}</th>") :+
          "<th>n_dup</th>").mkString
        val body = p.duplicates.map { case (vals, n) =>
          (vals.map { v =>
            val shown = if (v.length > 40) v.take(40) + "…" else v
            s"<td>${esc(shown)}</td>"
          } :+ s"<td>$n</td>").mkString("<tr>", "", "</tr>")
        }.mkString("\n")
        s"""<h2>Duplicates (top ${p.duplicates.length} most duplicated rows)</h2>
           |<table><tr>$head</tr>
           |$body</table>""".stripMargin
      }
    s"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>${esc(p.table)} profile</title>
       |<style>body{font-family:sans-serif}table{border-collapse:collapse}
       |td,th{border:1px solid #999;padding:4px 8px}</style></head><body>
       |<h1>Profile: ${esc(p.table)}</h1>
       |<p>${p.rows} rows × ${p.columns} columns; ${p.duplicateRows} duplicate rows</p>
       |$sampleBlock
       |$dupBlock
       |<h2>Columns</h2>
       |<table><tr><th>column</th><th>type</th><th>count</th><th>missing</th>
       |<th>distinct</th><th>mean</th><th>std</th><th>min</th><th>median</th><th>max</th>
       |<th>skew</th><th>kurtosis</th><th>histogram</th><th>frequent</th></tr>
       |$colRows</table>
       |<h2>Correlations (Pearson)</h2>
       |<table><tr><th>a</th><th>b</th><th>corr</th></tr>
       |$corrRows</table>
       |$spearmanBlock
       |$cramersBlock
       |$phikBlock
       |$nullityBlock
       |$interactionsBlock
       |</body></html>""".stripMargin
  }

  /** Write the HTML report (K4 sink). */
  def writeHtml(p: TableProfile, path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, toHtml(p))
  }
}
