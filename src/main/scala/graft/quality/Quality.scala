package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Residency

/** Data-quality gates (SURVEY.md §2.8 A3–A5).
  *
  * Mirror of the reference's only automated correctness mechanism:
  * `check_primary_key` (dag1.py:71-79), invoked on all 11 output tables
  * (dag1.py:91-92,121-123,145-146,172-175) and raising on violation.
  *
  * Scale note: null-count and dup-count are computed in a SINGLE pass per
  * table (`groupBy(keys)` with a pre-aggregated null flag), so a gate costs
  * one shuffle on the key columns, partial-agg'd map-side. A batch of
  * tables ([[Quality.checkPrimaryKeys]]) is gated by ONE job: the tables'
  * key groups are unioned and reduced by one aggregation. No collect of
  * data rows; only scalar counters come back.
  */
final case class PrimaryKeyViolation(table: String, nullKeyRows: Long, duplicateRows: Long)
  extends RuntimeException(
    s"Primary-key violation on '$table': $nullKeyRows rows with null key(s), " +
      s"$duplicateRows excess duplicate-key rows")

object Quality {

  /** A4 — number of rows where any key column is null. */
  def nullKeyCount(df: DataFrame, keys: Seq[String]): Long =
    df.filter(keys.map(col(_).isNull).reduce(_ || _)).count()

  /** A3 — number of excess rows sharing a key (sum over groups of count-1). */
  def duplicateKeyCount(df: DataFrame, keys: Seq[String]): Long = {
    val grouped = df.groupBy(keys.map(col): _*).count()
    val row = grouped
      .agg(coalesce(sum(when(col("count") > 1, col("count") - 1)), lit(0L)).as("dups"))
      .head()
    row.getLong(0)
  }

  /** A3+A4 in one pass: returns (nullKeyRows, duplicateRows). */
  def keyStats(df: DataFrame, keys: Seq[String]): (Long, Long) = {
    val (nulls, dups, _) = keyStatsWithRows(df, keys)
    (nulls, dups)
  }

  /** A3+A4+total row count in ONE aggregation job — the shape a gate-then-
    * report pipeline (a5) needs, so it never scans the table twice. */
  def keyStatsWithRows(df: DataFrame, keys: Seq[String]): (Long, Long, Long) = {
    val stats = keyGroups(df, keys).agg(keyStatAggs.head, keyStatAggs.tail: _*).head()
    (stats.getLong(0), stats.getLong(1), stats.getLong(2))
  }

  // One row per distinct key of `df`: the any-key-null flag and the key's
  // row count (the one shuffle on the key columns every gate pays), plus
  // `extra` aggregates over the key's rows.
  private def keyGroups(df: DataFrame, keys: Seq[String], extra: Column*): DataFrame =
    df.groupBy(keys.map(col(_).isNull).reduce(_ || _).as("__nullkey") +: keys.map(col): _*)
      .agg(count(lit(1)).as("count"), extra: _*)

  // (nulls, dups, rows) over key groups. Nulls are counted separately and
  // excluded from the dup count, so a null key is reported once, not as
  // both null and duplicate.
  private val keyStatAggs = Seq(
    coalesce(sum(when(col("__nullkey"), col("count"))), lit(0L)).as("nulls"),
    coalesce(sum(when(!col("__nullkey") && col("count") > 1, col("count") - 1)), lit(0L))
      .as("dups"),
    coalesce(sum(col("count")), lit(0L)).as("rows"))

  /** The gate predicate on precomputed stats — the ONE place the violation
    * semantics live, shared by [[checkPrimaryKeys]] and callers that already
    * hold a [[keyStatsWithRows]] result (so gating costs no extra scan). */
  def gate(table: String, nulls: Long, dups: Long): Unit =
    if (nulls > 0 || dups > 0) throw PrimaryKeyViolation(table, nulls, dups)

  /** A5 — the gate: throws [[PrimaryKeyViolation]] if `keys` is not a valid
    * primary key of `df` (any null, or any duplicate). Returns `df` so it
    * chains inside a pipeline. The one-table call of [[checkPrimaryKeys]]. */
  def checkPrimaryKey(df: DataFrame, keys: Seq[String], table: String = "df"): DataFrame = {
    checkPrimaryKeys(Seq((table, df, keys)))
    df
  }

  /** A5 over a batch of `(table, df, keys)` in ONE job: each table's key
    * groups are unioned and reduced by one aggregation, so the tables'
    * lineages are planned, scheduled and run together (exchanges and
    * broadcasts they share are reused) instead of one gate after another.
    * Violations are raised in declaration order: the first violating table
    * throws, as a sequence of [[checkPrimaryKey]] calls would.
    *
    * `expectations` — `(table, named predicates)`, judged as [[expectAll]]
    * judges them with nothing tolerated — are counted in the same key
    * groups of the named (gated) table, and raised in their declaration
    * order only after every key passed, so key violations surface first. */
  def checkPrimaryKeys(tables: Seq[(String, DataFrame, Seq[String])],
                       expectations: Seq[(String, Seq[(String, Column)])] = Seq.empty)
      : Unit = {
    require(tables.nonEmpty, "checkPrimaryKeys needs at least one table")
    val names = tables.map(_._1)
    require(expectations.map(_._1).distinct.size == expectations.size,
      "one expectation set per table")
    require(expectations.forall(e => names.contains(e._1)),
      s"expectations must name gated tables: ${expectations.map(_._1).diff(names).mkString(", ")}")
    // expectation j of a table is column e<j> of its key groups (0 when the
    // table has fewer), so every table's groups share one schema
    val width = expectations.map(_._2.size).maxOption.getOrElse(0)
    val es = (0 until width).map(j => s"e$j")
    val groups = tables.zipWithIndex.map { case ((name, df, keys), i) =>
      val preds = expectations.find(_._1 == name).toSeq.flatMap(_._2).map(_._2)
      keyGroups(df, keys, es.indices.map(j =>
          preds.lift(j).fold(lit(0L))(violations).as(es(j))): _*)
        .select(lit(i).as("i") +: (Seq("__nullkey", "count") ++ es).map(col): _*)
    }
    val stats = groups.reduce(_.unionAll(_))
      .groupBy(col("i"))
      .agg(keyStatAggs.head, keyStatAggs.tail ++ es.map(e => sum(col(e)).as(e)): _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    // a table with no rows has no key groups: every count is 0
    def stat(i: Int, n: String): Long = stats.get(i).fold(0L)(_.getAs[Long](n))
    names.indices.foreach(i => gate(names(i), stat(i, "nulls"), stat(i, "dups")))
    expectations.foreach { case (t, checks) =>
      raiseFailed(checks.zip(es).map { case ((name, _), e) => name -> stat(names.indexOf(t), e) }, 0L)
    }
  }

  /** Schema assertion: exact column-name/type match (order-insensitive). */
  def assertSchema(df: DataFrame, expected: Map[String, String]): DataFrame = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    require(actual == expected,
      s"Schema mismatch: expected $expected, got $actual")
    df
  }

  /** Row-level expectations (the dbt-test / expectations-suite shape the
    * reference lacks): every named predicate is counted in ONE aggregation
    * pass — a row violates when the predicate is false OR null (SQL
    * three-valued logic must not let unknowns pass a gate). Returns one
    * (expectation, n_violations) row per check, in declaration order. */
  def expectationReport(df: DataFrame,
                        checks: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(checks.nonEmpty, "expectationReport needs at least one check")
    require(checks.map(_._1).distinct.size == checks.size,
      s"duplicate expectation names: ${checks.map(_._1).diff(checks.map(_._1).distinct).mkString(",")}")
    val aggs = checks.map { case (name, pred) => violations(pred).as(name) }
    val row = df.agg(aggs.head, aggs.tail: _*).head() // one scalar row back
    val spark = df.sparkSession
    import spark.implicits._
    checks.map { case (name, _) => (name, row.getAs[Long](name)) }
      .toDF("expectation", "n_violations")
  }

  /** The gating form: throws listing every failed expectation (violations
    * above `tolerated`); returns `df` so it chains like checkPrimaryKey. */
  def expectAll(df: DataFrame, checks: Seq[(String, org.apache.spark.sql.Column)],
                tolerated: Long = 0L): DataFrame = {
    val report = expectationReport(df, checks).collect()
    raiseFailed(report.map(r => (r.getString(0), r.getLong(1))).toSeq, tolerated)
    df
  }

  // rows where the predicate is false OR null
  private def violations(pred: Column): Column =
    coalesce(sum(when(pred.isNull || !pred, 1L).otherwise(0L)), lit(0L))

  // throws listing every expectation whose violations exceed `tolerated`
  private def raiseFailed(counts: Seq[(String, Long)], tolerated: Long): Unit = {
    val failed = counts.collect { case (name, n) if n > tolerated => s"$name=$n" }
    if (failed.nonEmpty)
      throw new IllegalStateException(
        s"expectations failed (violations > $tolerated): ${failed.mkString(", ")}")
  }

  /** Percentile gate: keep rows whose `scoreCol` is at or above the
    * dataset's `p`-quantile — the relative form of quality filtering
    * ("keep the best 25%") that survives score-distribution drift where a
    * fixed threshold silently starts keeping everything or nothing.
    *
    * The threshold rides back onto the rows as a broadcast one-row
    * aggregate (no driver collect; one lazy plan). `exact = false`
    * (default) computes it with `percentile_approx` (Greenwald-Khanna
    * sketch — bounded memory, mergeable, the only sane choice at 100 TB);
    * `exact = true` uses the exact interpolated percentile (buffers the
    * column per partition — fine up to ~10⁸ rows, and the mode an
    * external SQL oracle can reproduce bit-for-bit). */
  def percentileGate(df: DataFrame, scoreCol: String, p: Double,
                     exact: Boolean = false): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0, 1), got $p")
    val thrAgg =
      if (exact) expr(s"percentile(`$scoreCol`, $p)")
      else percentile_approx(col(scoreCol), lit(p), lit(10000))
        .cast(org.apache.spark.sql.types.DoubleType)
    val thr = df.agg(thrAgg.as("__thr"))
    df.crossJoin(broadcast(thr))
      .filter(col(scoreCol) >= col("__thr"))
      .drop("__thr")
  }

  /** Mergeable distinct-count sketches (Apache DataSketches HLL — Spark 4
    * native `hll_sketch_agg`): one binary sketch per group, storable as a
    * column and UNION-MERGED later by [[mergeDistinctSketches]].
    *
    * This is THE 100 TB pattern for distinct-count rollups: sketch each
    * day/partition once at ingest (one pass, fixed ~2^lgK bytes per
    * group), then answer "distinct users this month/quarter/anywhere" by
    * merging sketches — never by re-scanning raw data. An exact
    * count_distinct re-shuffles the raw key universe per question asked;
    * sketches make every later rollup O(groups).
    *
    * `lgConfigK = 12` → ~1.6% standard error, 4 KB per sketch. */
  def distinctSketches(df: DataFrame, keyCol: String, groupCols: Seq[String],
                       lgConfigK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(keyCol), lit(lgConfigK)).as("key_sketch"),
        count(lit(1)).as("n_rows"))

  /** Roll sketches up to a coarser grouping: union-merge per group, then
    * estimate. The input is already one row per fine-grained group, so
    * this aggregates sketch-count rows, not raw data. */
  def mergeDistinctSketches(sketches: DataFrame,
                            groupCols: Seq[String]): DataFrame =
    sketches.groupBy(groupCols.map(col): _*)
      // second arg = allowDifferentLgConfigK (the union downgrades to the
      // smaller K when mixed) — our sketches share one K, so strict false
      .agg(hll_sketch_estimate(
          hll_union_agg(col("key_sketch"), lit(false))).as("distinct_est"),
        sum(col("n_rows")).as("n_rows"))

  /** Mergeable QUANTILE sketches (DataSketches KLL via the native
    * [[graft.functions.KllSketchAgg]] aggregate) — the FIFTH sketch
    * family member (HLL distinct / Bloom membership / CMS frequency /
    * Theta set-ops / KLL quantiles): one serialized sketch per group,
    * one pass, map-side partials; later percentile questions (per group
    * or rolled up via [[mergeQuantileSketches]]) never re-read raw data.
    * `k = 200` → ~1.65% two-sided normalized rank error at 99%
    * confidence, independent of stream length. NULL values skipped. */
  def quantileSketches(df: DataFrame, valueCol: String,
                       groupCols: Seq[String], k: Int = 200): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(call_function("kll_sketch_agg", col(valueCol), lit(k))
          .as("value_kll"),
        count(col(valueCol)).as("n_values"))

  /** Roll KLL sketches up to a coarser grouping and read quantile
    * estimates at the given normalized `ranks` — columns `q_<permille>`
    * (e.g. rank 0.5 → `q_500`), NULL for empty merged sketches. The
    * input is sketch rows from [[quantileSketches]], not raw data. */
  def mergeQuantileSketches(sketches: DataFrame, groupCols: Seq[String],
                            ranks: Seq[Double] = Seq(0.5, 0.95),
                            k: Int = 200): DataFrame = {
    require(ranks.nonEmpty && ranks.forall(r => r >= 0.0 && r <= 1.0),
      s"ranks must be within [0, 1], got ${ranks.mkString(", ")}")
    val merged = sketches.groupBy(groupCols.map(col): _*)
      .agg(call_function("kll_merge_agg", col("value_kll"), lit(k))
          .as("__kll"),
        sum(col("n_values")).as("n_values"))
    val qCols = ranks.map(r =>
      call_function("kll_quantile", col("__kll"), lit(r))
        .as(s"q_${math.round(r * 1000)}"))
    merged.select(groupCols.map(col) ++ qCols :+ col("n_values"): _*)
  }

  /** REFERENTIAL-INTEGRITY audit: one summary row counting child rows
    * whose foreign key has no match in the parent — the orphan check a
    * warehouse load gate runs after every fact append. Returns
    * (n_child_rows, n_null_keys, n_orphan_rows, n_orphan_keys). NULL
    * foreign keys follow SQL FK semantics: they are NOT orphans (a null
    * FK asserts no reference) and are tallied separately so the gate
    * can police them under its own policy.
    *
    * One left join of the child's key column against the parent's
    * DISTINCT keys (thin on both sides — the parent side deduplicates
    * before the join and broadcasts when small; at fact-vs-dimension
    * scale that is a map-side probe over the child), then a single
    * aggregate with map-side partials. No row ever leaves the executor
    * tier. */
  def referentialOrphans(child: DataFrame, childKey: String,
                         parent: DataFrame, parentKey: String): DataFrame = {
    val ck = child.select(col(childKey).as("__k"))
    val pk = parent.select(col(parentKey).as("__k"))
      .filter(col("__k").isNotNull).distinct()
      .withColumn("__p", lit(1))
    ck.join(pk, Seq("__k"), "left")
      .agg(
        count(lit(1)).as("n_child_rows"),
        sum(when(col("__k").isNull, 1L).otherwise(0L)).as("n_null_keys"),
        sum(when(col("__k").isNotNull && col("__p").isNull, 1L)
          .otherwise(0L)).as("n_orphan_rows"),
        countDistinct(when(col("__k").isNotNull && col("__p").isNull,
          col("__k"))).as("n_orphan_keys"))
  }

  /** BENFORD first-digit audit (Benford 1938; Nigrini's fraud-audit
    * staple — public): the distribution of FIRST significant digits of
    * a positive currency column vs the Benford expectation
    * P(d) = log10(1 + 1/d). Naturally-occurring multiplicative data
    * follows it; fabricated or truncated feeds don't — the classic
    * data-forensics screen for an ingest pipeline.
    *
    * Exactness discipline: values quantize to integer CENTS
    * (round(x·100) as BIGINT — non-positive and NULL rows are excluded,
    * they have no first digit), the first digit is the first character
    * of the BIGINT's decimal rendering (engine-consistent — no float
    * log10, whose edge behavior at exact powers of ten differs across
    * engines), and
    * the nine Benford probabilities are EXACT DOUBLE LITERALS both
    * engines parse identically, so expected counts and chi-square terms
    * hash-match at ROUND 6 (the pr3_moments discipline). One count
    * aggregate with map-side partials; the 9-row result joins the
    * total by a broadcast one-row frame. Returns
    * (digit, n, expected, chi_term) for digits 1–9 (n = 0 rows
    * included — an absent digit is the loudest finding). */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // log10(1 + 1/d), d = 1..9, as literal text (not computed at
    // runtime): both engines parse these to identical doubles
    val benford = Seq(
      1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829993, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514)
    val digits = benford.toDF("digit", "p")
    val cents = df.select(
        expr(s"CAST(round(`$valueCol` * 100, 0) AS BIGINT)").as("__c"))
      .filter(col("__c").isNotNull && col("__c") > 0L)
      .select(expr("CAST(substr(CAST(__c AS STRING), 1, 1) AS INT)")
        .as("digit"))
    val counts = cents.groupBy("digit").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    digits.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"), col("p"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(col("p") * col("__total"), 6).as("expected"),
        round(
          (col("n") - col("p") * col("__total")) *
            (col("n") - col("p") * col("__total")) /
            (col("p") * col("__total")), 6).as("chi_term"))
  }

  /** GROUP-scoped low-outlier flags on a bounded-precision score — the
    * topic-aware quality floor: a global gate misjudges heterogeneous
    * corpora (code clusters score "low quality" on prose signals;
    * boilerplate clusters score high), so flag each row against ITS
    * GROUP's mean − nSigma·σ instead. Rows in groups too small for a
    * stable σ (`n < minGroup`) are never flagged.
    *
    * Exactness: the score is integer-scaled (`round(value·scale)` as
    * LONG), so the per-group power sums are EXACT — no double-sum
    * reduction-order drift — and mean/σ derive with a fixed operation
    * order (variance clamped at 0 against cancellation), making the
    * flags hash-checkable cross-engine. ANSI overflow throws (the
    * fail-fast bound: |value·scale|² · groupSize within Long range).
    *
    * Scale shape: one thin (group, scaled) aggregate with map-side
    * partials; the per-group stats frame (|groups| rows) BROADCASTS
    * back; flagging is map-only. ROW-PRESERVING: null-group and
    * null-value rows come back flagged 0 (never dropped, never a null
    * flag). Returns the input columns plus `is_low_outlier` (0/1). */
  def groupZOutliers(df: DataFrame, valueCol: String, groupCol: String,
                     scale: Long = 1000000L, nSigma: Double = 2.0,
                     minGroup: Long = 3L): DataFrame = {
    require(scale > 0, s"scale must be > 0, got $scale")
    require(nSigma > 0, s"nSigma must be > 0, got $nSigma")
    val d = org.apache.spark.sql.types.DoubleType
    val scaled = df.withColumn("__q",
      round(col(valueCol) * scale, 0).cast(org.apache.spark.sql.types.LongType))
    val stats = scaled.groupBy(col(groupCol).as("__g")).agg(
        count(lit(1)).as("__n"), sum(col("__q")).as("__s1"),
        sum(col("__q") * col("__q")).as("__s2"))
      .withColumn("__mean", col("__s1").cast(d) / col("__n"))
      .withColumn("__var", greatest(
        col("__s2").cast(d) / col("__n") - col("__mean") * col("__mean"),
        lit(0.0)))
      .select(col("__g"), col("__n"), col("__mean"), col("__var"))
    // NULL-SAFE join + coalesced flag: the op is row-preserving — a
    // null-group row must come back (flagged 0, its "group" has no
    // meaningful σ) rather than vanish through null-unsafe equality,
    // and a null VALUE must flag 0, not null (the oracle's ELSE 0)
    scaled.join(broadcast(stats), col(groupCol) <=> col("__g"), "left")
      .withColumn("is_low_outlier", coalesce(
        (col("__n") >= minGroup && col(groupCol).isNotNull &&
          col("__q").cast(d) < col("__mean") - lit(nSigma) * sqrt(col("__var")))
          .cast(org.apache.spark.sql.types.IntegerType),
        lit(0)))
      .drop("__q", "__g", "__n", "__mean", "__var")
  }

  /** Mergeable MOMENT sketches over an integer-valued column: per-shard
    * raw power sums (n, Σx, Σx², Σx³, Σx⁴) as exact BIGINTs — the
    * third member of the mergeable-profile family ([[distinctSketches]]
    * HLL, [[freqSketches]] CMS) and the one that needs NO sketch
    * library: power sums add, so a 100 TB profile computes per-shard
    * rows on ingest (map-side partials, one thin aggregate) and any
    * later rollup — per day, per source, global — is a sum of
    * constant-width rows instead of a corpus re-scan.
    *
    * Exactness contract: the column is cast to LONG and powered as
    * LONG, so every sketch value is exact (no floating-point drift to
    * merge order). ANSI overflow throws — the fail-fast bound is
    * |x|⁴ ≤ Long.Max per row (|x| < 55,108) and the Σ bounds per
    * shard; profile wider-valued columns pre-scaled or bucketed. */
  def momentSketches(df: DataFrame, valueCol: String,
                     shardCol: String): DataFrame = {
    val x = col(valueCol).cast(org.apache.spark.sql.types.LongType)
    df.groupBy(col(shardCol).as("shard")).agg(
      count(x).as("n"),
      sum(x).as("s1"),
      sum(x * x).as("s2"),
      sum(x * x * x).as("s3"),
      sum(x * x * x * x).as("s4"))
  }

  /** Fold moment sketches to ONE global row and derive the population
    * moments: (n_shards, n, mean, m2, skew, kurt — population
    * definitions, matching Spark's `skewness`/`kurtosis`). The central
    * moments come from the raw power sums with a FIXED operation order
    * (each step its own projection), so the derived doubles are
    * bit-reproducible across engines from the exact integer sums —
    * merged ≡ computed-globally is hash-checkable. A constant column
    * (m2 = 0) yields NaN skew/kurt, as the direct forms do. */
  def mergeMomentSketches(sketches: DataFrame): DataFrame = {
    val d = org.apache.spark.sql.types.DoubleType
    sketches
      .agg(count(lit(1)).as("n_shards"), sum(col("n")).as("n"),
        sum(col("s1")).as("s1"), sum(col("s2")).as("s2"),
        sum(col("s3")).as("s3"), sum(col("s4")).as("s4"))
      .withColumn("meanx", col("s1").cast(d) / col("n"))
      .withColumn("m2x",
        col("s2").cast(d) / col("n") - col("meanx") * col("meanx"))
      .withColumn("m3x",
        col("s3").cast(d) / col("n")
          - lit(3.0) * col("meanx") * (col("s2").cast(d) / col("n"))
          + lit(2.0) * col("meanx") * col("meanx") * col("meanx"))
      .withColumn("m4x",
        col("s4").cast(d) / col("n")
          - lit(4.0) * col("meanx") * (col("s3").cast(d) / col("n"))
          + lit(6.0) * col("meanx") * col("meanx") * (col("s2").cast(d) / col("n"))
          - lit(3.0) * col("meanx") * col("meanx") * col("meanx") * col("meanx"))
      .select(col("n_shards"), col("n"),
        round(col("meanx"), 6).as("mean"),
        round(col("m2x"), 6).as("m2"),
        round(col("m3x") / (sqrt(col("m2x")) * col("m2x")), 6).as("skew"),
        round(col("m4x") / (col("m2x") * col("m2x")) - lit(3.0), 6).as("kurt"))
  }

  /** Mergeable FREQUENCY sketches (Spark's native `count_min_sketch`
    * aggregate): one serialized CMS per group, storable as a binary
    * column — the frequency counterpart of [[distinctSketches]] and the
    * third member of the mergeable-sketch triad (HLL distinct, Bloom
    * membership, CMS frequency). Point-lookup guarantees:
    * estimate ≥ true count, and ≤ true + eps·N with probability ≥
    * `confidence`. At 100 TB: sketch per ingest partition once, answer
    * "how often did key k appear in any time range" by merging the
    * covered sketches — never by re-scanning raw rows. */
  def freqSketches(df: DataFrame, keyCol: String, groupCols: Seq[String],
                   eps: Double = 0.001, confidence: Double = 0.99,
                   seed: Int = 42): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"count_min_sketch(`$keyCol`, ${eps}d, ${confidence}d, $seed)")
        .as("key_cms"),
        count(lit(1)).as("n_rows"))

  /** Merge serialized CMS rows (same eps/confidence/seed family) into one
    * queryable sketch. The inputs are |groups| small binaries — a
    * driver-side fold is the right tool; probing is
    * `merged.estimateCount(key)`. */
  def mergeFreqSketches(sketches: Seq[Array[Byte]])
      : org.apache.spark.util.sketch.CountMinSketch = {
    require(sketches.nonEmpty, "mergeFreqSketches needs at least one sketch")
    sketches.map(b => org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(b)))
      .reduce { (a, b) => a.mergeInPlace(b); a }
  }

  /** Key-skew diagnostic — the measurement that decides saltedJoin /
    * AQE-skew settings BEFORE a join melts one reducer: per-key counts
    * (one partial-agg'd shuffle) → top-N heaviest keys with their share
    * of all rows. Top-N is a global TakeOrdered over the already-reduced
    * per-key counts, never the raw rows; ties break on the rendered key
    * for cross-engine determinism. */
  def keySkewProfile(df: DataFrame, keys: Seq[String], topN: Int = 10): DataFrame = {
    // total via one count job (a scalar), not a second aggregation branch
    // over the counts lineage — exchange reuse across branches is not
    // dependable. Null key parts render explicitly: concat_ws silently
    // DROPS nulls, which would collide distinct dirty keys in the report.
    val total = df.count()
    val rendered = concat_ws("|",
      keys.map(c => coalesce(col(c).cast("string"), lit("NULL"))): _*)
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
      .select(rendered.as("key"), col("cnt"),
        round(col("cnt") / lit(total.toDouble), 6).as("share"))
      .orderBy(col("cnt").desc, col("key"))
      .limit(topN)
  }

  /** Exact two-sample Kolmogorov–Smirnov distance — the standard drift
    * gate between two slices of one numeric column (yesterday's corpus
    * vs today's, train vs serve): `ks = max_x |F_a(x) − F_b(x)|` over
    * the EMPIRICAL cdfs, evaluated exactly at every distinct value.
    * Returns one row `(n_a, n_b, ks)`; NULL values are ignored on both
    * sides (no ordering evidence). An empty SIDE yields its count as 0
    * and a NULL ks rather than a throw — report, let the caller gate,
    * the [[expectationReport]] convention; two empty sides yield no
    * row.
    *
    * Scale shape: both sides reduce to per-DISTINCT-VALUE counts first
    * (one partial-agg'd shuffle over the union — the only corpus-sized
    * movement); the empirical cdfs then come from a DISTRIBUTED prefix
    * scan ([[graft.ops.Scan.prefixSums]]: range-partitioned local running
    * sums + a numPartitions-row offset frame) — there is NO
    * single-partition global window, so a genuinely continuous column
    * with ~row-count distinct values still spreads across the cluster.
    * All arithmetic is integer counts + one correctly-rounded double
    * division, so the statistic replays bit-identically in SQL. */
  def ksDrift(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val u = a.select(col(valueCol).as("v"), lit(1L).as("ga"), lit(0L).as("gb"))
      .unionAll(b.select(col(valueCol).as("v"), lit(0L).as("ga"), lit(1L).as("gb")))
      .filter(col("v").isNotNull)
    val counts = u.groupBy("v").agg(sum("ga").as("ca"), sum("gb").as("cb"))
    val tot = counts.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    Residency.eager { s =>
      s.adopt(graft.ops.Scan.prefixSums(counts, Seq(col("v").asc), Seq("ca", "cb")))
        .crossJoin(broadcast(tot))
        .groupBy("n_a", "n_b")
        // try_divide: a 0-total side divides by zero under ANSI otherwise
        .agg(max(abs(try_divide(col("ca_cum").cast("double"), col("n_a")) -
          try_divide(col("cb_cum").cast("double"), col("n_b")))).as("ks"))
        .select(col("n_a"), col("n_b"), col("ks"))
    }
  }

  /** Exact chi-square contingency drift between two slices of one
    * CATEGORICAL column — the discrete counterpart of [[ksDrift]] (KS is
    * meaningless on unordered categories). Returns one row per category:
    * its count on each side plus the INTEGER cross-term
    * `d = ca·n_b − cb·n_a` (zero exactly when the category's share is
    * identical on both sides; sign = direction of the shift). The
    * chi-square statistic itself is `Σ d²/(n_a·n_b·(ca+cb)) · N` — a sum
    * of per-category double divisions whose accumulation ORDER differs
    * between engines, so per the repo's cross-engine-hash rule
    * (txt_dsir_weight post-mortem) the statistic lives in
    * [[chiSquareStat]] (spec-replayed in-JVM), while the hashed contract
    * is this all-integer frame.
    *
    * Scale shape: one partial-agg'd shuffle over the (category,flag)
    * union — identical to ksDrift's first pass; the marginals frame is
    * one row, broadcast back. Cardinality of the result = number of
    * categories (small by definition of "categorical"); the cross-term
    * stays in BIGINT for any slice up to ~3×10⁹ rows per side (d ≤
    * n_a·n_b). NULL categories are kept as their own level — a drift in
    * missingness is drift. */
  def chiSquareDrift(a: DataFrame, b: DataFrame, catCol: String): DataFrame = {
    val u = a.select(col(catCol).cast("string").as("category"),
        lit(1L).as("ga"), lit(0L).as("gb"))
      .unionAll(b.select(col(catCol).cast("string").as("category"),
        lit(0L).as("ga"), lit(1L).as("gb")))
    val counts = u.groupBy("category").agg(sum("ga").as("ca"), sum("gb").as("cb"))
    val tot = counts.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    counts.crossJoin(broadcast(tot))
      .select(col("category"), col("ca"), col("cb"),
        (col("ca") * col("n_b") - col("cb") * col("n_a")).as("d"))
  }

  /** Reduce a [[chiSquareDrift]] contingency frame to the scalar test
    * statistic: one row `(n_a, n_b, dof, chi2)` with
    * `chi2 = Σ_c d_c²/(ca_c+cb_c) / (n_a·n_b)` — the 2×C contingency
    * chi-square in cross-term form (substituting `o − e = ±d/N` into
    * `Σ (o−e)²/e` collapses to exactly this; no approximation) — and
    * `dof = C − 1`. Double-sum accumulation order makes this engine-local
    * (spec-checked, not oracle-hashed — see [[chiSquareDrift]]). An empty
    * side yields NULL chi2 (no evidence) rather than a throw, the
    * [[expectationReport]] convention. */
  def chiSquareStat(contingency: DataFrame): DataFrame =
    contingency
      .select(col("ca"), col("cb"),
        // d²/(ca+cb) as double; d can reach n_a·n_b ≈ 10¹¹ at bench
        // scales, so square AFTER the cast to avoid BIGINT overflow
        (col("d").cast("double") * col("d").cast("double") /
          (col("ca") + col("cb")).cast("double")).as("term"))
      .agg(sum("ca").as("n_a"), sum("cb").as("n_b"),
        (count(lit(1)) - 1).cast("long").as("dof"),
        sum("term").as("sum_term"))
      .select(col("n_a"), col("n_b"), col("dof"),
        try_divide(col("sum_term"),
          col("n_a").cast("double") * col("n_b").cast("double")).as("chi2"))

  /** Numeric drift through DATA-DERIVED quantile buckets: side A's
    * empirical quantiles at `i/nBuckets` become the bin edges, both sides
    * are bucketized against them, and the result is a [[chiSquareDrift]]
    * contingency frame — feed it to [[chiSquareStat]] or
    * [[populationStabilityIndex]] for the scalar gate. This is the
    * standard "numeric PSI" construction: equal-mass-on-baseline bins,
    * so drift shows up as mass leaving its decile, robust to scale and
    * outliers where equal-WIDTH histograms are not.
    *
    * Boundaries are INTEGER-RANK quantiles (boundary_i = the smallest
    * value whose cumulative count reaches ⌈i·N/nBuckets⌉), not
    * interpolated ones: membership tests are then raw-value comparisons
    * with no derived arithmetic, which is what lets the whole query
    * hash-check cross-engine (an interpolated edge is a double whose
    * last-ulp rounding the engines can disagree on — a flipped boundary
    * membership is exactly the txt_dsir_weight failure class).
    *
    * Scale shape: boundary derivation rides the [[ksDrift]] machinery —
    * per-distinct-value counts (one partial-agg'd shuffle) + the
    * distributed prefix scan; the (nBuckets−1)-row boundary frame then
    * pivots to ONE wide row broadcast to both sides, so bucketization is
    * a map-only chain of nBuckets−1 codegen'd comparisons per row (no
    * interpreted HOF, no per-row join). Heavy ties are fine: a value
    * spanning multiple rank thresholds collapses those buckets to empty
    * (their mass sits in the bucket below), and a constant column lands
    * everything in bucket 0. NULLs carry no ordering evidence and are
    * dropped on both sides — mirror of the oracle's IS NOT NULL. */
  def quantileBucketDrift(a: DataFrame, b: DataFrame, valueCol: String,
                          nBuckets: Int = 10): DataFrame = Residency.eager { s =>
    require(nBuckets >= 2, s"need nBuckets >= 2, got $nBuckets")
    val av = a.select(col(valueCol).as("v")).filter(col("v").isNotNull)
    val counts = av.groupBy("v").agg(count(lit(1)).as("c"))
    val cum = s.adopt(graft.ops.Scan.prefixSums(counts, Seq(col("v").asc), Seq("c")))
    val tot = cum.agg(max("c_cum").as("n"))
    val ids = a.sparkSession.range(1, nBuckets).toDF("i")
    // c_cum ≥ ⌈i·n/nB⌉  ⟺  c_cum·nB ≥ i·n (integers) — no division
    val boundRows = cum.crossJoin(broadcast(tot)).crossJoin(broadcast(ids))
      .filter(col("c_cum") * nBuckets >= col("i") * col("n"))
      .groupBy("i").agg(min("v").as("bv"))
    val wideAggs = (1 until nBuckets).map(i =>
      max(when(col("i") === i, col("bv"))).as(s"__b$i"))
    val wide = boundRows.agg(wideAggs.head, wideAggs.tail: _*)
    val bucket = (1 until nBuckets).map(i =>
        when(col("v") > col(s"__b$i"), 1L).otherwise(0L))
      .reduce(_ + _).as("bucket")
    def bucketize(side: DataFrame): DataFrame =
      side.select(col(valueCol).as("v")).filter(col("v").isNotNull)
        .crossJoin(broadcast(wide))
        .select(bucket)
    chiSquareDrift(bucketize(a), bucketize(b), "bucket")
  }

  /** Population Stability Index over a [[chiSquareDrift]] contingency
    * frame — the drift score model-monitoring practice actually
    * thresholds (PSI < 0.1 stable / 0.1–0.25 moderate / > 0.25 major):
    * `psi = Σ_c (p_ac − p_bc) · ln(p_ac/p_bc)` with additive `epsilon`
    * smoothing so a category present on only one side contributes a
    * finite term instead of ±∞. Always ≥ 0 (each term is (x−y)·ln(x/y)
    * with x,y > 0), 0 exactly when the smoothed shares are identical.
    *
    * Engine-local by the same rule as [[chiSquareStat]] — `ln` is not
    * correctly-rounded-guaranteed cross-engine and the category sum is
    * order-dependent — so PSI is spec-pinned, while the oracle-hashed
    * face of the family stays the integer contingency. One more pass over
    * the (already tiny) contingency frame; nothing corpus-sized moves. */
  def populationStabilityIndex(contingency: DataFrame,
                               epsilon: Double = 0.5): DataFrame = {
    require(epsilon > 0, s"epsilon must be > 0, got $epsilon")
    val tot = contingency.agg(sum("ca").as("n_a"), sum("cb").as("n_b"),
      count(lit(1)).as("n_cat"))
    contingency.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        ((col("ca") + epsilon) /
          (col("n_a") + lit(epsilon) * col("n_cat"))).as("pa"),
        ((col("cb") + epsilon) /
          (col("n_b") + lit(epsilon) * col("n_cat"))).as("pb"))
      .groupBy("n_a", "n_b")
      .agg(sum((col("pa") - col("pb")) * log(col("pa") / col("pb"))).as("psi"))
      .select(col("n_a"), col("n_b"), col("psi"))
  }

  /** Mergeable SET-OPERATION sketches (Apache DataSketches Theta — Spark 4
    * native `theta_sketch_agg`): the fourth member of the sketch family
    * (HLL distinct / Bloom membership / CMS frequency / Theta set-ops)
    * and the one HLL cannot substitute — Theta sketches answer
    * INTERSECTION and DIFFERENCE cardinalities, not just union. One
    * binary sketch per group, storable as a column, union-merged later by
    * `theta_union_agg` and combined across corpora by
    * [[snapshotOverlapSketch]]'s scalar set ops.
    *
    * The 100 TB pattern: sketch each snapshot/day/source once at ingest
    * (one pass, ≤ 2^lgNomEntries retained hashes per group), then answer
    * "how many distinct keys did snapshots A and B share / gain / lose"
    * by combining sketches — never by joining raw key universes. */
  def setSketches(df: DataFrame, keyCol: String, groupCols: Seq[String],
                  lgNomEntries: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(theta_sketch_agg(col(keyCol), lit(lgNomEntries)).as("key_theta"),
        count(lit(1)).as("n_rows"))

  /** Snapshot set-operation report from Theta sketches: one row with the
    * estimated distinct-key cardinalities of A, B, A∪B, A∩B, A∖B, B∖A.
    * Each side is sketched in ONE aggregation pass (partial-agg'd
    * map-side, ≤ 2^lgNomEntries hashes cross the wire per partition);
    * the set algebra then runs on two sketch blobs in a 1×1 cross join —
    * no key-universe join ever happens, which is the entire point at
    * 100 TB: a raw-key overlap join shuffles both corpora, this shuffles
    * ~32 KB.
    *
    * Below 2^lgNomEntries distinct keys per side the sketches are in
    * exact mode (every hash retained, theta = 1) and all six numbers are
    * EXACT — pinned against [[snapshotOverlapExact]] in the spec. Above
    * it, relative standard error ≈ 1/√(2^lgNomEntries). Estimates are
    * engine-local (DataSketches internals are not SQL-replayable), so the
    * registry pairs this with the hash-green exact twin. */
  def snapshotOverlapSketch(a: DataFrame, b: DataFrame, keyCol: String,
                            lgNomEntries: Int = 12): DataFrame = {
    val ska = a.agg(theta_sketch_agg(col(keyCol), lit(lgNomEntries)).as("ska"))
    val skb = b.agg(theta_sketch_agg(col(keyCol), lit(lgNomEntries)).as("skb"))
    ska.crossJoin(skb).select(
      theta_sketch_estimate(col("ska")).as("est_a"),
      theta_sketch_estimate(col("skb")).as("est_b"),
      theta_sketch_estimate(theta_union(col("ska"), col("skb"))).as("est_union"),
      theta_sketch_estimate(theta_intersection(col("ska"), col("skb")))
        .as("est_intersect"),
      theta_sketch_estimate(theta_difference(col("ska"), col("skb")))
        .as("est_only_a"),
      theta_sketch_estimate(theta_difference(col("skb"), col("ska")))
        .as("est_only_b"))
  }

  /** Exact twin of [[snapshotOverlapSketch]] — the same six cardinalities
    * computed exactly: distinct keys with per-side presence flags (one
    * partial-agg'd shuffle on the key), then one scalar reduce. This IS
    * the raw-key join the sketch exists to avoid — linear in the distinct
    * key universe, fine at validation scale, the thing you stop running
    * at 100 TB. NULL keys carry no identity and are excluded on both
    * sides (DataSketches ignores null updates, so the twin matches). */
  def snapshotOverlapExact(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    val u = a.select(col(keyCol).as("k"), lit(1L).as("fa"), lit(0L).as("fb"))
      .unionAll(b.select(col(keyCol).as("k"), lit(0L).as("fa"), lit(1L).as("fb")))
      .filter(col("k").isNotNull)
    u.groupBy("k").agg(max("fa").as("ia"), max("fb").as("ib"))
      .agg(
        sum("ia").as("est_a"),
        sum("ib").as("est_b"),
        count(lit(1)).as("est_union"),
        sum(col("ia") * col("ib")).as("est_intersect"),
        sum(col("ia") * (lit(1L) - col("ib"))).as("est_only_a"),
        sum((lit(1L) - col("ia")) * col("ib")).as("est_only_b"))
  }

  /** Poisson-bootstrap confidence interval for the mean of a currency
    * column (Chamandy et al. 2012, "Estimating Uncertainty for Massive
    * Data Streams", public — the bootstrap that scales): instead of
    * resampling n rows with replacement per replica (which needs global
    * coordination), every row independently contributes
    * w ~ Poisson(1) copies to each of `replicas` replicas — ONE pass,
    * map-side, embarrassingly parallel, the standard approximation for
    * large n. Returns one row (b, p05, p50, p95): the replica count and
    * the 5/50/95 percentile ORDER STATISTICS of the replica means (exact
    * k-th elements, no interpolation).
    *
    * Replayability discipline: the Poisson draw inverts a 16-bit
    * md5-uniform through a fixed CDF ladder of exact double literals
    * (constants, not computed — both engines parse identical text to
    * identical doubles); values are quantized to exact integer cents
    * (round(x·100) — integer regardless of input, so the weighted sums
    * are exact longs, order-independent under partial aggregation);
    * each replica mean is one long-over-long IEEE division; and the
    * percentiles come from a bounded `sort_array(collect_list)` of the
    * `replicas` means — no unpartitioned window, no collect. */
  def bootstrapMeanCI(df: DataFrame, keyCol: String, valueCol: String,
                      replicas: Int = 50, seed: Int = 42): DataFrame = {
    require(replicas > 1 && replicas <= 1000,
      s"replicas must be in [2, 1000], got $replicas")
    val cents = expr(s"CAST(round(`$valueCol` * 100, 0) AS BIGINT)")
    val u = expr(
      s"conv(substring(md5(concat(CAST(`$keyCol` AS STRING), '_', r, '_', " +
        s"$seed)), 1, 4), 16, 10)").cast(org.apache.spark.sql.types.LongType)
      .cast(org.apache.spark.sql.types.DoubleType) / lit(65536.0)
    // u is materialized in its OWN projection before the CDF ladder: a
    // CaseWhen's predicates evaluate sequentially, so an inlined u would
    // recompute the md5 chain once per threshold (6× the hash cost,
    // measured on the hot path)
    val w = PoissonCdf.zipWithIndex.foldRight(lit(PoissonCdf.length): Column) {
      case ((c, i), alt) => when(col("u") < lit(c), lit(i)).otherwise(alt)
    }
    // spread BEFORE the `replicas`× fan-out with an EXPLICIT partition
    // count: a small input is one scan partition, and a bare
    // repartition(col) lets AQE coalesce the 2 MB pre-explosion shuffle
    // back to one task — which then single-threads the 50× explosion and
    // every md5 above it (measured 11.5 s → ~2 s at sf0.1)
    val rep = df
      .select(col(keyCol), cents.as("cents"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(keyCol))
      .select(col(keyCol), col("cents"),
        explode(sequence(lit(0), lit(replicas - 1))).as("r"))
      .select(col("r"), col("cents"), u.as("u"))
      .select(col("r"), w.as("w"), col("cents"))
      .groupBy("r")
      .agg(sum(col("w")).as("nw"), sum(col("w") * col("cents")).as("sw"))
      .filter(col("nw") > 0)
      .select(col("r"),
        (col("sw").cast(org.apache.spark.sql.types.DoubleType) /
          (col("nw") * 100).cast(org.apache.spark.sql.types.DoubleType))
          .as("mean_r"))
    def kth(ms: Column, b: Column, q: Double) =
      element_at(ms, greatest(lit(1L), ceil(b * lit(q)))
        .cast(org.apache.spark.sql.types.IntegerType)).getField("mean_r")
    rep
      .agg(sort_array(collect_list(struct(col("mean_r"), col("r")))).as("ms"),
        count(lit(1)).as("b"))
      // empty input → zero surviving replicas: emit NO rows (matching
      // the oracle's GROUP BY), not a (b=0, null, null, null) row
      .filter(col("b") > 0)
      .select(col("b"), kth(col("ms"), col("b"), 0.05).as("p05"),
        kth(col("ms"), col("b"), 0.5).as("p50"),
        kth(col("ms"), col("b"), 0.95).as("p95"))
  }

  /** Poisson(1) inverse-CDF ladder thresholds (cumulative e^-1/k! sums)
    * as EXACT literals shared by the engine and the generated oracle —
    * computing them cross-engine would reintroduce the transcendental
    * hazard the dsir post-mortem banned. u ≥ the last threshold → 6. */
  private[graft] val PoissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.999405815182418)

  /** Per-group percent rank of `valueCol` — SQL `percent_rank()` ≡
    * (rank − 1)/(n − 1) with ties sharing the min rank — computed the
    * SCALE-SAFE way: the corpus never enters a per-group window. One
    * groupBy collapses rows to DISTINCT (group, value) counts; the
    * running-total window runs over THAT frame (bounded by value
    * cardinality — e.g. a round-6 score in [0, 1] has ≤ 10^6 + 1 distinct
    * values per group, a constant independent of corpus size, where
    * `Window.partitionBy(group)` over raw rows pins each group's full
    * row set to one task); the rank table then broadcasts back onto the
    * corpus. Appends `pctile` (round 6; single-row groups get 0, the SQL
    * percent_rank convention). Null values are excluded from ranking
    * (SQL semantics differ cross-engine on null ordering) and come back
    * with a null pctile. */
  def groupPercentRank(df: DataFrame, groupCol: String,
                       valueCol: String): DataFrame =
    df.join(broadcast(percentRankTable(df, groupCol, valueCol)),
      Seq(groupCol, valueCol), "left")

  /** The (group, value, pctile) lookup behind [[groupPercentRank]],
    * exposed separately so a MULTI-signal consumer (e.g. the rank-fusion
    * ensemble) can derive several rank tables from ONE shared input frame
    * and join them in a single pass — nesting groupPercentRank calls
    * re-evaluates the input's expression pipeline once per internal
    * branch, which compounds exponentially per nesting level (measured
    * 13.7 s → 2 s on the two-signal ensemble at sf0.1). */
  def percentRankTable(df: DataFrame, groupCol: String,
                       valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(valueCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val grp = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol)).agg(count(lit(1)).as("__c"))
      .withColumn("__lt", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(grp))
      .select(col(groupCol), col(valueCol),
        round(when(col("__n") > 1, col("__lt")
            .cast(org.apache.spark.sql.types.DoubleType) / (col("__n") - 1))
          .otherwise(lit(0.0)), 6).as("pctile"))
  }

  /** Exact NEAREST-RANK percentiles per group — for each requested p the
    * smallest value whose within-group cumulative count `cc` satisfies
    * `100·cc ≥ p·n` (pure integer arithmetic; every emitted percentile
    * is an ACTUAL data value, which is what makes the whole report
    * bit-portable — interpolating quantile estimators emit derived
    * doubles two engines can disagree about). ALL percentiles come out
    * of ONE range-partitioned distributed prefix scan over the
    * (group, value) counts ([[graft.ops.Scan.prefixSums]] — no
    * per-group single-task window), with group offsets derived from the
    * persisted prefix frame (constant-size running sum over |groups|
    * rows). Returns (group, n, p<p1>, p<p2>, ...), persisted
    * group-sized under the eager family's caller-unpersist contract. */
  def exactPercentiles(df: DataFrame, g: String, v: String,
                       percentiles: Seq[Int]): DataFrame = {
    require(percentiles.nonEmpty, "exactPercentiles needs at least one p")
    require(percentiles.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in [1, 100], got $percentiles")
    require(percentiles.distinct.size == percentiles.size,
      s"percentiles must be distinct, got $percentiles")
    val counts = df.filter(col(v).isNotNull)
      .groupBy(col(g), col(v)).agg(count(lit(1)).as("__c"))
    Residency.eager { s =>
      percentileReport(s.adopt(graft.ops.Scan.prefixSums(counts,
        Seq(col(g).asc, col(v).asc), Seq("__c"))), g, v, percentiles)
    }
  }

  /** The (group, n, p<p>...) report over an ALREADY-BUILT prefix frame
    * (`c` = prefixSums output over (g, v, __c) counts) — the body of
    * [[exactPercentiles]], shared with [[lowerMedianPair]] so the fused
    * median→MAD operators can run it twice without re-scanning the
    * corpus. Group totals/offsets derive from the persisted prefix frame
    * (re-aggregating the raw counts would recompute the corpus groupBy a
    * second time per pass); the group-offset window runs over |groups|
    * rows — a documented group-sized contract, not a corpus sort. */
  private def percentileReport(c: DataFrame, g: String, v: String,
                               percentiles: Seq[Int]): DataFrame = {
    val wg = org.apache.spark.sql.expressions.Window.orderBy(col(g))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offs = c.groupBy(col(g)).agg(sum(col("__c")).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wg), lit(0L)))
    val joined = c.join(broadcast(offs), g)
      .withColumn("__gc", col("__c_cum") - col("__off"))
    val aggs = count(lit(1)).as("__nvals") +:
      percentiles.map(p => min(when(col("__gc") * 100 >= col("__n") * p,
        col(v))).as(s"p$p"))
    joined.groupBy(col(g), col("__n").as("n"))
      .agg(aggs.head, aggs.tail: _*)
      .drop("__nvals")
  }

  /** Fused exact lower median + MAD per group — ONE corpus pass where
    * [[madOutliers]]/[[robustStats]] previously paid three: the
    * (group, value) counts aggregate is the only corpus-sized scan; the
    * MAD pass's deviation multiset {(g, |v − med|) weighted by count} is
    * derived from the FIRST pass's persisted prefix frame
    * (value-cardinality rows, never the corpus — the multiset of
    * deviations is unchanged by pre-aggregation, and `dev` is the same
    * single IEEE subtract/abs, so both statistics are bit-identical to
    * the unfused form; QualitySpec pins it). The pass-2 input reads the
    * pass-1 cache through a lineage cut ([[graft.util.Residency.Scope
    * .truncate]]): each eager sub-operation otherwise re-analyzes the
    * whole accumulated tree, and the measured a19/a20 warm cost was ~half
    * Catalyst planning of 40k-line nested plans. Returns (meds(g, med,
    * n), mads(g, mad)) — cuts over group-sized frames persisted in `s`,
    * so they are resident until the caller's scope materializes its
    * result and exits. */
  private def lowerMedianPair(s: Residency.Scope, df: DataFrame, g: String,
                              v: String): (DataFrame, DataFrame) = {
    val counts = df.filter(col(v).isNotNull)
      .groupBy(col(g), col(v)).agg(count(lit(1)).as("__c"))
    val cum = s.adopt(graft.ops.Scan.prefixSums(counts,
      Seq(col(g).asc, col(v).asc), Seq("__c")))
    val meds = s.persist(percentileReport(cum, g, v, Seq(50))
      .select(col(g), col("p50").as("med"), col("n")))
    meds.count()
    // weighted deviation counts from the PERSISTED prefix frame —
    // value-cardinality-sized; the corpus is never re-scanned
    val devCounts = s.truncate(cum).select(col(g), col(v), col("__c"))
      .join(broadcast(s.truncate(meds).select(col(g), col("med"))), g)
      .select(col(g), abs(col(v) - col("med")).as("__dev"), col("__c"))
      .groupBy(col(g), col("__dev")).agg(sum(col("__c")).as("__c"))
    val cum2 = s.adopt(graft.ops.Scan.prefixSums(devCounts,
      Seq(col(g).asc, col("__dev").asc), Seq("__c")))
    s.release(cum) // cum2 is materialized; pass 1 done
    val mads = s.persist(percentileReport(cum2, g, "__dev", Seq(50))
      .select(col(g), col("p50").as("mad")))
    mads.count()
    s.release(cum2)
    // hand back lineage cuts reading the two persisted frames: the
    // consumers' final plans then analyze two RDD leaves instead of the
    // full nested eager-pipeline trees
    (s.truncate(meds), s.truncate(mads))
  }

  /** Robust outlier gate on the median/MAD scale (Hampel's rule, public
    * standard): a row is an outlier when `|x − median| > k·MAD`, with
    * both statistics the exact LOWER median ([[lowerMedianPair]] — order
    * statistics, so every emitted number is an input value or one IEEE
    * subtraction/multiplication away from one: fully hash-portable,
    * unlike mean/stddev rules a single extreme value corrupts). Returns
    * every input row with (med, dev, mad, outlier 0/1).
    *
    * Scale shape: two prefix-scan median passes over (group, value)
    * AGGREGATES, two broadcast joins of group-sized statistics frames —
    * the corpus itself is never window-sorted or reshuffled. EAGER +
    * caller unpersist: the result is materialized through the two tiny
    * statistics frames, which are released before return. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 2.0): DataFrame = Residency.eager { s =>
    require(k > 0, s"k must be > 0, got $k")
    val (meds, mads) = lowerMedianPair(s, df, groupCol, valueCol)
    df.filter(col(valueCol).isNotNull)
      .join(broadcast(meds.select(col(groupCol), col("med"))), groupCol)
      .withColumn("dev", abs(col(valueCol) - col("med")))
      .join(broadcast(mads), groupCol)
      .withColumn("outlier", (col("dev") > lit(k) * col("mad"))
        .cast(org.apache.spark.sql.types.IntegerType))
  }

  /** Robust per-group location/scale summary: (group, n, med, mad) with
    * both statistics exact lower medians ([[lowerMedianPair]]) — the
    * audit-face companion of [[madOutliers]] (same two prefix-scan
    * passes, no per-row output). Unlike mean/stddev, one corrupted
    * extreme value moves neither number. EAGER + caller unpersist, as
    * [[madOutliers]]. */
  def robustStats(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = Residency.eager { s =>
    val (meds, mads) = lowerMedianPair(s, df, groupCol, valueCol)
    // n comes out of the median pass (sum of the per-value counts — the
    // same non-null row count the previous corpus re-aggregate computed),
    // so this face never scans the corpus a third time
    meds.select(col(groupCol), col("n"), col("med"))
      .join(broadcast(mads), groupCol)
  }

  /** k-anonymity audit (Sweeney 2002, public): group sizes over the
    * quasi-identifier combination, flagging every combination smaller
    * than `k` — the groups whose members a released dataset would
    * re-identify. One hash aggregate on the quasi keys; NULL is a quasi
    * value like any other (a null zip code still identifies its group).
    * Returns (quasi..., n, anonymous 0/1). */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one quasi column")
    require(k > 0, s"k must be > 0, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("anonymous",
        (col("n") >= k).cast(org.apache.spark.sql.types.IntegerType))
  }

  /** Suppression to k-anonymity: drop every row whose quasi-identifier
    * combination has fewer than `k` members — the release-side
    * enforcement of [[kAnonymity]]'s audit. The kept-combination list is
    * aggregate-sized (one row per surviving combination), broadcast into
    * a null-safe semi join, so the corpus streams once and never
    * shuffles. */
  def kAnonymitySuppress(df: DataFrame, quasiCols: Seq[String],
                         k: Long): DataFrame = {
    val keep = broadcast(kAnonymity(df, quasiCols, k)
      .filter(col("anonymous") === 1)
      .select(quasiCols.map(c => col(c).as(s"__k_$c")): _*))
    val cond = quasiCols.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
    df.join(keep, cond, "left_semi")
  }

  /** l-diversity audit (Machanavalli et al. 2007, "l-Diversity: Privacy
    * Beyond k-Anonymity", public): k-anonymity counts group SIZES, but a
    * size-k group whose members all share one sensitive value still
    * discloses that value — homogeneity attack. This flags every
    * quasi-identifier combination with fewer than `l` DISTINCT sensitive
    * values. One hash aggregate (count + count_distinct share the
    * grouping); a NULL sensitive value is excluded from the distinct
    * count (count_distinct semantics — an unknown value discloses
    * nothing, so it cannot help a group reach l). Returns
    * (quasi..., n, n_sensitive, diverse 0/1). */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversity needs at least one quasi column")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi identifier")
    require(l > 0, s"l must be > 0, got $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("diverse",
        (col("n_sensitive") >= l).cast(org.apache.spark.sql.types.IntegerType))
  }

  /** Suppression to l-diversity — [[kAnonymitySuppress]]'s shape over
    * [[lDiversity]]'s audit: only rows whose quasi combination carries
    * ≥ `l` distinct sensitive values survive a release. Broadcast
    * null-safe semi join; the corpus streams once. */
  def lDiversitySuppress(df: DataFrame, quasiCols: Seq[String],
                         sensitiveCol: String, l: Long): DataFrame = {
    val keep = broadcast(lDiversity(df, quasiCols, sensitiveCol, l)
      .filter(col("diverse") === 1)
      .select(quasiCols.map(c => col(c).as(s"__k_$c")): _*))
    val cond = quasiCols.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
    df.join(keep, cond, "left_semi")
  }
}
