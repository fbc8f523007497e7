package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Structural / reshape operators (SURVEY.md §2.3, §2.6, A6).
  *
  * Reference sites: header surgery dag1.py:26-38, melts dag1.py:82,96,
  * dedup dag1.py passim, surrogate key dag1.py:134-135.
  *
  * Scale notes: everything here is a narrow transformation or a standard
  * shuffle Spark already optimizes. The only window functions are over
  * explicit keys (`row_number` for surrogate ids / keyed dedup) — never a
  * global unpartitioned window on the fast path. `dropTrailing` is the one
  * op that needs a global ordering; it is intended for small raw ingest
  * files (its reference use is a 4-line CSV footer), not for fact tables.
  */
object Ops {

  /** P3 — normalize all column names: trim, then literal ' ' and '.' → '_'
    * (dag1.py:83,97,132,152,247-248; literal-dot semantics per SURVEY §7.4:
    * `String.replace`, NOT a regex). */
  def normalizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(c => c.trim.replace(" ", "_").replace(".", "_")): _*)

  /** W3 — keyed deduplication, deterministic: keep the first row per key
    * ordered by `tieBreak` (pandas drop_duplicates keeps first in file
    * order; Spark dropDuplicates picks an arbitrary row, so we make the
    * choice explicit). The window shuffles every row to its key's
    * partition and sorts — fine at dimension scale; fact tables should
    * use [[dedupKeysAgg]], which aggregates instead. */
  def dedupKeys(df: DataFrame, keys: Seq[String], tieBreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tieBreak: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[dedupKeys]] as a true aggregate: `min_by(payload, tieBreak)` per
    * key. Unlike the window form, this gets MAP-SIDE PARTIAL aggregation —
    * the shuffle carries at most one row per key per input partition
    * instead of every duplicate — the shape that survives a 100 TB fact
    * table with heavy duplication. Equivalent to [[dedupKeys]] whenever
    * the tie-break has a unique minimum per key (property-tested); on
    * exact ties the two may keep different rows (the window form breaks
    * ties by sort stability, min_by by encounter order). */
  def dedupKeysAgg(df: DataFrame, keys: Seq[String], tieBreak: Seq[Column]): DataFrame = {
    // ascending-only: a SortOrder (col.desc) can't live inside struct();
    // reject it loudly instead of failing deep in analysis. For descending
    // semantics negate a numeric tie-break or use the window form.
    // (Column.expr is private in Spark 4 — the rendered form is the
    // stable way to spot an ordering spec.)
    require(!tieBreak.exists(_.toString.matches(".*\\b(ASC|DESC) NULLS (FIRST|LAST)\\b.*")),
      "dedupKeysAgg tie-breaks are plain ascending columns; " +
        "use dedupKeys for .desc/.asc orderings")
    val others = df.columns.filterNot(keys.contains)
    val payload = struct(others.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(payload, struct(tieBreak: _*)).as("__row"))
      .select(df.columns.map(c =>
        if (keys.contains(c)) col(c) else col(s"__row.`$c`").as(c)): _*)
  }

  /** A6 — deterministic dense surrogate key for the distinct combinations of
    * `natKey`, ordered by the natural key itself (dag1.py:134-135 uses
    * pandas reset_index = file order; we need stable, rerunnable ids so we
    * order by the natural key — documented divergence, SURVEY §7.4).
    *
    * The distinct set is expected to be dimension-sized (12 rows in the
    * reference); `row_number` over a single global window is fine there.
    * Ids are LongType. */
  def surrogateKey(df: DataFrame, natKey: Seq[String], idCol: String): DataFrame = {
    val w = Window.orderBy(natKey.map(col): _*)
    df.select(natKey.map(col): _*)
      .distinct()
      .withColumn(idCol, (row_number().over(w) - 1).cast(LongType))
  }

  /** R2 — drop the last `n` rows under an explicit ordering (footer rows,
    * dag1.py:38,46). Prefer a semantic footer predicate when one exists
    * (SURVEY §2.3 R2). Scale shape: [[dropRanked]] — no single-partition
    * window. */
  def dropTrailing(df: DataFrame, n: Int, order: Seq[Column]): DataFrame =
    dropRanked(df, n, order.map(_.desc))

  /** R1 — drop the first `n` rows under an explicit ordering (junk leading
    * rows in spreadsheet exports, dag1.py:26). Scale shape: [[dropRanked]]
    * — no single-partition window. */
  def dropLeading(df: DataFrame, n: Int, order: Seq[Column]): DataFrame =
    dropRanked(df, n, order)

  /** Drop the `n` first rows under `order` with NO unpartitioned window
    * (previously a global `row_number` — the `WindowExec: No Partition
    * Defined` single-task funnel if ever applied to a large table; these
    * ops' declared inputs are header/footer-trimmed exports, but the
    * operator should not be the thing that breaks when one arrives
    * corpus-sized). Range-partition + sort on the ordering (partitions
    * are in ascending range order, so partition-then-offset order IS
    * global order), then `zipWithIndex` — one small per-partition count
    * job plus a map-only filter. Same kept set as the window form under
    * the family's total-order caller contract (ties at the boundary were
    * arbitrary in both forms). */
  private def dropRanked(df: DataFrame, n: Int, order: Seq[Column]): DataFrame = {
    require(n >= 0, s"n must be >= 0, got $n")
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
    val rdd = sorted.rdd.zipWithIndex()
      .collect { case (r, i) if i >= n => r }
    spark.createDataFrame(rdd, df.schema)
  }

  /** R4 — promote the first row (ordered by `orderCol`) to be the header
    * (dag1.py:30-32). Driver-side `head()` is the only sanctioned collect
    * here (one row). The ordering column itself is kept un-renamed so
    * downstream positional ops can still use it. */
  def promoteHeader(df: DataFrame, orderCol: String): DataFrame = {
    val w = Window.orderBy(col(orderCol))
    val ranked = df.withColumn("__rn", row_number().over(w))
    val dataCols = df.columns.filterNot(_ == orderCol)
    val headerRow = ranked.filter(col("__rn") === 1)
      .select(dataCols.map(col): _*).head()
    val names = headerRow.toSeq.map(v => if (v == null) "col" else v.toString.trim)
    val rest = ranked.filter(col("__rn") > 1).drop("__rn")
    // one atomic select, not a rename fold: sequential withColumnRenamed
    // corrupts columns when a header VALUE equals another original column
    // name (the intermediate frame briefly holds two columns of that name
    // and the later rename hits both)
    val renames = dataCols.zip(names).toMap
    rest.select(rest.columns.map(c =>
      renames.get(c).map(n => col(c).as(n)).getOrElse(col(c))): _*)
  }

  /** The deterministic bucket in [0, 1000) shared by the split/sample
    * family: multiplicative (Knuth 1973, public) hash reading the
    * product's HIGH bits — a low-bits mod would depend only on key % 1000
    * (2654435761 % 1000 = 761), so keys stepped by 1000 — sequential ids
    * with gaps, second-granularity timestamps — would all land in one
    * bucket. The key is reduced mod 1000003 before the multiply so
    * ANSI-mode Long arithmetic cannot overflow, and dividing by 2^20 is an
    * exact exponent shift in doubles (product < 2^52), so floor() is the
    * true integer quotient and SQL mirrors it bit-for-bit. NULL key →
    * NULL bucket (no deterministic identity).
    *
    * `seed` selects an INDEPENDENT bucket stream (the key is shifted
    * before the multiply, which permutes the residue class and hence the
    * whole bucket assignment): two ops over the same keys with different
    * seeds — e.g. a sample and a split — make uncorrelated decisions.
    * With the SAME seed they correlate completely: a 50%-permille sample
    * keeps exactly the keys a split would label train-side. */
  private def hashBucket1000(key: Column, seed: Long = 0L): Column = {
    // reduce the KEY mod p before adding the (reduced) seed: adding first
    // can overflow ANSI Long arithmetic for keys near Long.MaxValue
    // (xxhash64-derived ids span the full range). Same residue — and so
    // bit-identical buckets/oracles — wherever the old form didn't
    // overflow: ((k mod p) + (s mod p)) mod p = (k + s) mod p.
    val shifted = pmod(pmod(key.cast(LongType), lit(1000003L)) + lit(seed % 1000003L),
      lit(1000003L))
    val product = shifted * lit(2654435761L)
    pmod(floor(product / lit(1048576.0)).cast(LongType), lit(1000L))
  }

  /** Deterministic corpus downsample: keep rows whose hash bucket falls
    * below `permille` — e.g. 250 keeps a reproducible ~25% of rows. The
    * data-mixing primitive for 100 TB curation (down-weighting an
    * over-represented source) done RIGHT for scale: map-only, no shuffle,
    * no RNG state, and the SAME keys survive on every run/cluster/engine
    * that mirrors the arithmetic, so samples are stable across pipeline
    * re-runs and resumable backfills (`df.sample` re-draws per run and
    * per partition layout).
    *
    * The default `seed = 1` deliberately differs from the split family's
    * seed 0: the sample decision is then INDEPENDENT of split labels, so
    * a sampled corpus still splits ~train/val/test at the requested
    * rates. (With seed 0 the two would correlate completely — a ≤80%
    * sample would be all-train; OpsSpec pins the composed behavior.)
    *
    * NULL keys are DROPPED (no deterministic identity — null bucket fails
    * the comparison); gate upstream via `Quality.expectations` if null
    * keys are unexpected. */
  def hashSample(df: DataFrame, keyCol: String, permille: Int,
                 seed: Long = 1L): DataFrame = {
    require(permille >= 0 && permille <= 1000,
      s"permille must be in [0, 1000], got $permille")
    df.filter(hashBucket1000(col(keyCol), seed) < permille)
  }

  /** Per-stratum deterministic sampling rates — the corpus-mixture
    * reweighting primitive (up-weight books, down-weight low-quality web,
    * drop a blocked source outright with rate 0) built on the same
    * multiplicative-hash bucket as [[hashSample]]: map-only, no shuffle,
    * no RNG, and the same keys survive on every run/engine. A stratum
    * absent from `permilleByStratum` (including a NULL stratum) gets
    * `defaultPermille`. With equal seeds, each stratum's survivors are
    * EXACTLY `hashSample(stratum slice, rate)` — mixtures compose with
    * the split/sample family instead of re-rolling it. */
  def weightedSample(df: DataFrame, stratumCol: String, keyCol: String,
                     permilleByStratum: Map[String, Int],
                     defaultPermille: Int, seed: Long = 1L): DataFrame = {
    val all = permilleByStratum.values.toSeq :+ defaultPermille
    require(all.forall(p => p >= 0 && p <= 1000),
      s"permille rates must be in [0, 1000], got ${all.filterNot(p => p >= 0 && p <= 1000)}")
    val rate = permilleByStratum.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPermille)) { case (acc, (s, p)) =>
        when(col(stratumCol) === s, lit(p)).otherwise(acc)
      }
    df.filter(hashBucket1000(col(keyCol), seed) < rate)
  }

  /** Deterministic stratified sample: the `k` rows with the LOWEST
    * (hash bucket, key) per stratum — per-stratum rebalancing (equal-sized
    * source/language mixes) with reproducible membership.
    *
    * Scale shape: a bounded-heap aggregate (`topk_desc`) with map-side
    * partials — each input partition ships at most k rows per stratum to
    * the shuffle, never the corpus (the `row_number` window form shuffles
    * and sorts EVERY row). The tiny keep-list (k × strata) then
    * broadcast-semi-joins back against the corpus, so the corpus itself
    * is never shuffled at all. Ties cannot occur: the heap orders by
    * (bucket, key) and keys are unique per the contract (numeric,
    * non-null, unique); NULL-key rows are dropped as in [[hashSample]].
    * NULL is a valid STRATUM value, handled null-safely. */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
                       k: Int, seed: Long = 1L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val bucket = hashBucket1000(col(keyCol), seed)
    // topk_desc keeps (score DESC, id ASC); score = -(bucket) makes that
    // (bucket ASC, key ASC) — the k lowest buckets, key-tie-broken.
    val keep = df
      .select(col(stratumCol).as("__s"), bucket.as("__b"),
        col(keyCol).cast(LongType).as("__k"))
      .filter(col("__b").isNotNull)
      .groupBy(col("__s"))
      .agg(call_function("topk_desc",
        -col("__b").cast(org.apache.spark.sql.types.DoubleType),
        col("__k"), lit(k)).as("tk"))
      .select(col("__s"), explode(col("tk.id")).as("__k"))
    df.join(broadcast(keep),
      col(stratumCol) <=> col("__s") && col(keyCol).cast(LongType) === col("__k"),
      "left_semi")
  }

  /** Temperature-flattened domain mixing — the pretraining corpus-mixture
    * step that down-samples over-represented strata toward a `c^alpha`
    * share (temperature sampling, public method: Conneau & Lample 2019;
    * Raffel et al. 2020 §3.7 use it for multilingual T5 mixing). Where
    * [[weightedSample]] takes HAND-CHOSEN per-stratum rates, this derives
    * them from the data: keep-rate_s ∝ c_s^(alpha-1), normalized so the
    * smallest stratum keeps everything —
    * `rate_s = floor(1000 * sqrt(c_min / c_s))` at the fixed alpha = 1/2.
    *
    * alpha is FIXED at 1/2 because `x^0.5` is `sqrt`, the one power IEEE 754
    * requires correctly rounded — so the derived rates are bit-identical on
    * every engine that mirrors the arithmetic (a `pow(x, alpha)` form would
    * not be, `pow` carries no rounding guarantee). General alpha belongs in
    * [[weightedSample]] with driver-computed rates.
    *
    * Scale shape: one tiny per-stratum count aggregate (map-side partial),
    * a 1-row global min crossed against it, then the rate table — strata ×
    * 1 rows — broadcast back onto the corpus; the corpus itself is never
    * shuffled and the keep decision is the same map-only deterministic
    * hash bucket as [[hashSample]] (same survivors on every run/engine).
    * NULL strata form their own stratum (null-safe join); NULL keys are
    * dropped as in [[hashSample]]. */
  def temperatureMix(df: DataFrame, stratumCol: String, keyCol: String,
                     seed: Long = 1L): DataFrame = {
    val counts = df.groupBy(col(stratumCol).as("__s")).agg(count(lit(1)).as("__c"))
    val cmin = counts.agg(min(col("__c")).as("__cmin"))
    val rates = counts.crossJoin(broadcast(cmin))
      .select(col("__s"), floor(lit(1000.0) *
        sqrt(col("__cmin").cast(org.apache.spark.sql.types.DoubleType) /
          col("__c"))).as("__rate"))
    df.join(broadcast(rates), col(stratumCol) <=> col("__s"), "inner")
      .filter(hashBucket1000(col(keyCol), seed) < col("__rate"))
      .drop("__s", "__rate")
  }

  /** Deterministic seeded corpus shuffle + shard layout — the
    * data-loader prep step between curation and training: every row gets
    * a `(shard, pos)` address from a seeded md5 stream, so the "random"
    * training order is reproducible across runs and engines, resumable
    * mid-epoch (position IS the checkpoint), and re-seedable per epoch
    * (`seed = "epoch3"` deals a fresh order with zero data movement
    * beyond the re-rank).
    *
    * `shard` = 32-bit md5 prefix mod `numShards` (32 bits, not 16: with a
    * 16-bit prefix any `numShards` that does not divide 65536 has a
    * pigeonhole modulo bias — at numShards = 40000, ~40% of shards would
    * receive twice the rows; with 32 bits the residual bias is ≤
    * numShards/2³² < 0.002%, so shard sizes genuinely concentrate at
    * n/numShards ± O(sqrt)). `pos` = dense 1-based rank within the shard
    * by the full md5 string.
    *
    * OUTPUT CONTRACT: the result is an ADDRESS TABLE — exactly
    * `(keyCol, shard, pos)` — to be joined back to the corpus on the
    * key, NOT the addressed corpus itself. This is deliberate: carrying
    * payload columns through would make the result nondeterministic for
    * duplicate keys (equal keys share one hash; with distinct payloads
    * the `pos` tie-break between them would be partition-order
    * dependent), and would clobber any input column already named
    * `shard`/`pos`. As an address table, equal-key rows collapse to
    * identical output rows and the result set is fully deterministic;
    * NULL keys are dropped as in [[hashSample]].
    *
    * Scale shape: the hash is map-only; the only movement is the
    * rank window keyed BY SHARD — each partition sorts n/numShards rows,
    * nothing global (contrast a global `row_number`, which funnels the
    * corpus through one partition). Choose numShards ≥ cluster
    * parallelism so the sort stays partition-local; the md5 rank string
    * never leaves the exchange (projected away after the window).
    *
    * Contract note: the SHARD id derives from only the first 32 bits
    * (8 hex digits) of the md5 — uniform for any numShards ≤ 65536 (the
    * enforced cap; 2^32 is an exact multiple of every power of two and
    * the modulo bias for other shard counts is ≤ numShards/2^32 — at the
    * cap, < 0.002%). The within-shard ORDER uses the full 128-bit
    * digest, so position ties are impossible for distinct keys. */
  def shuffleShards(df: DataFrame, keyCol: String, numShards: Int,
                    seed: String = "graft"): DataFrame = {
    require(numShards > 0 && numShards <= 65536,
      s"numShards must be in [1, 65536], got $numShards")
    val h = md5(concat_ws(":", lit(seed), col(keyCol).cast(StringType)))
    val byShard = Window.partitionBy("shard").orderBy(col("__h"), col(keyCol))
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol), h.as("__h"))
      .withColumn("shard",
        conv(substring(col("__h"), 1, 8), 16, 10).cast(LongType) % numShards)
      .withColumn("pos", row_number().over(byShard).cast(LongType))
      .drop("__h")
  }

  /** Greedy per-stratum token-budget selection — the curation step that
    * turns "we can afford N tokens of source X" into a concrete keep
    * list: within each stratum, rows are taken best-score-first until
    * the stratum's token budget is exhausted. The budget is
    * data-derived, `floor(budgetFrac × stratum token total)` — a
    * fraction survives corpus growth where an absolute count would not.
    * Emits every input row with `(cum_tokens, kept)` so the caller can
    * audit the cut line as well as filter by `kept`.
    *
    * Greedy-by-score is the standard corpus form of the knapsack here
    * (items ARE divisible in aggregate — dropping the marginal document
    * at the boundary is the intended behavior, not a loss). A row whose
    * own tokens straddle the boundary is dropped, not truncated:
    * `kept = cum_tokens <= budget` with the row's own tokens included.
    * NULL strata form their own group (null-safe join + window), ties
    * break on the unique key.
    *
    * Scale shape: one tiny per-stratum aggregate broadcast back, then a
    * cumulative-sum window PARTITIONED BY STRATUM — sorting is
    * per-stratum, never global; the corpus crosses the wire once for
    * the window exchange. */
  def budgetSelect(df: DataFrame, stratumCol: String, keyCol: String,
                   tokensCol: String, scoreCol: String,
                   budgetFrac: Double = 0.5): DataFrame = {
    require(budgetFrac > 0 && budgetFrac <= 1.0,
      s"budgetFrac must be in (0, 1], got $budgetFrac")
    val budgets = df.groupBy(col(stratumCol).as("__s"))
      .agg(floor(lit(budgetFrac) *
        sum(col(tokensCol)).cast(org.apache.spark.sql.types.DoubleType))
        .cast(LongType).as("__budget"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc, col(keyCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.join(broadcast(budgets), col(stratumCol) <=> col("__s"), "inner")
      .withColumn("cum_tokens", sum(col(tokensCol)).over(w).cast(LongType))
      .withColumn("kept", col("cum_tokens") <= col("__budget"))
      .drop("__s", "__budget")
  }

  /** Deterministic, reproducible train/val/test split for dataset curation:
    * a multiplicative (Knuth 1973, public) hash of the key picks a bucket
    * in [0, 1000) and the requested percentages cut it into labels.
    * Map-only — no shuffle, no stored state, no RNG: the same key lands in
    * the same split on every run, every cluster, every engine that mirrors
    * the arithmetic (the property a 100 TB curation pipeline needs for
    * resumable/incremental splits). The key is reduced mod 1000003 before
    * the multiply so ANSI-mode Long arithmetic cannot overflow.
    *
    * CONTRACT: a NULL key has no deterministic identity, so its split
    * label is NULL — never silently "test" (a null-heavy corpus must not
    * concentrate in one split unnoticed). Filter or fail upstream if null
    * keys are unexpected; `Quality.expectations` can gate on it. */
  def deterministicSplit(df: DataFrame, keyCol: String,
                         trainPct: Int = 80, valPct: Int = 10,
                         splitCol: String = "split"): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val bucket = hashBucket1000(col(keyCol))
    // A null key yields a null bucket: both thresholds evaluate to null and
    // the row would silently take the .otherwise branch — make the null
    // label explicit instead.
    df.withColumn(splitCol,
      when(col(keyCol).isNull, lit(null).cast(org.apache.spark.sql.types.StringType))
        .when(bucket < trainPct * 10, lit("train"))
        .when(bucket < (trainPct + valPct) * 10, lit("val"))
        .otherwise(lit("test")))
  }

  /** AS-OF join — for each left row, attach the values of the most recent
    * right row with `right.time <= left.time` within the same key
    * (inclusive at equal times, like SQL ASOF JOIN); left rows with no
    * prior right row get nulls.
    *
    * Spark has no native ASOF; the standard public composition is used:
    * tag both sides, union, and carry right values forward with
    * `last(_, ignoreNulls) OVER (PARTITION BY key ORDER BY time, tag ROWS
    * UNBOUNDED PRECEDING..CURRENT)` — right rows sort before left rows at
    * equal time, making the match inclusive. ONE shuffle + sort on the
    * key, never a range-join product: cost is |left| + |right| rows
    * through a keyed window, the shape that survives billions of events
    * per key-partition.
    *
    * CONTRACT: `valueCols` exist on `right` and collide with nothing on
    * `left`. Right values are carried as ONE struct, so a null member
    * rides with its own row (no tearing across rows — matches SQL ASOF
    * exactly). Right rows with a null key or null time are dropped (SQL:
    * NULL never matches); right rows should be unique per (key, time) —
    * dedup first (e.g. [[dedupKeysAgg]]) for deterministic output. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               timeCol: String, valueCols: Seq[String]): DataFrame = {
    require(valueCols.intersect(left.columns).isEmpty,
      s"valueCols ${valueCols.intersect(left.columns).mkString(",")} collide with left")
    val valsType = StructType(valueCols.map(c => right.schema(c).copy(name = c)))
    val l = left.withColumn("__tag", lit(1))
      .withColumn("__vals", lit(null).cast(valsType))
    val leftOnly = left.columns.filterNot((keys :+ timeCol).contains)
    val r = leftOnly.foldLeft(
        right
          .filter((keys :+ timeCol).map(col(_).isNotNull).reduce(_ && _))
          .select((keys :+ timeCol).map(col) :+
            struct(valueCols.map(col): _*).as("__vals"): _*)
          .withColumn("__tag", lit(0))) { (d, c) =>
      d.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__vals", last(col("__vals"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(left.columns.map(col) ++
        valueCols.map(c => col(s"__vals.`$c`").as(c)): _*)
  }

  /** RANGE join — pair each left row with every right interval containing
    * its time (`start <= t <= end`) within the same key — WITHOUT a
    * range-product: time is bucketed at `bucketMicros`, right intervals
    * explode to one row per covered bucket, candidates come from a plain
    * equi-join on (key, bucket), and the exact containment filter runs on
    * candidates only. Cost scales with interval-length/bucket ratio (pick
    * bucketMicros ≈ the typical interval length, giving ≤ 2 rows per
    * right interval), never with |left| × |right|.
    *
    * CONTRACT: column names are disjoint apart from `keys`; intervals are
    * non-null with `start <= end`. An interval covering more than
    * `maxBucketsPerInterval` buckets fails the job with a clear error
    * rather than materializing an unbounded sequence (one rogue
    * open-ended interval must not OOM an executor) — raise `bucketMicros`
    * or fix the data. */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                timeCol: String, startCol: String, endCol: String,
                bucketMicros: Long, maxBucketsPerInterval: Int = 1024): DataFrame = {
    require(bucketMicros > 0, s"bucketMicros must be positive, got $bucketMicros")
    val lb = left.withColumn("__b",
      floor(unix_micros(col(timeCol)) / bucketMicros))
    val startB = floor(unix_micros(col(startCol)) / bucketMicros)
    val endB = floor(unix_micros(col(endCol)) / bucketMicros)
    val guardedEnd = when(endB - startB >= maxBucketsPerInterval,
        raise_error(concat(
          lit(s"rangeJoin: interval covers > $maxBucketsPerInterval buckets of "),
          lit(s"$bucketMicros us ("), col(startCol), lit(" .. "), col(endCol),
          lit("); raise bucketMicros or fix the interval")))
          .cast(LongType))
      .otherwise(endB)
    val rb = right.withColumn("__b", explode(sequence(startB, guardedEnd)))
    lb.join(rb, keys :+ "__b")
      .filter(col(timeCol) >= col(startCol) && col(timeCol) <= col(endCol))
      .drop("__b")
  }

  /** Skew-tolerant equi-join: the large (skewed) side gets a round-robin
    * row-counter salt (NOT a content hash — exact-duplicate rows of the
    * hot key would all hash to one salt and spread nothing), the small
    * side is replicated once per salt value, and the join key becomes
    * (keys, salt) — a hot key's rows spread over `salts` reducers instead
    * of one. The salt never reaches the output, so results are
    * deterministic. Use when AQE's skew-join splitting isn't
    * available/enough (e.g. a hot key inside a single partition-producing
    * stage). Cost: small side × salts, so keep the replicated side
    * dimension-sized. */
  def saltedJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
                 salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    // Right/full-outer would emit each UNMATCHED small-side row once per
    // salt replica — only join types that never preserve unmatched
    // small-side rows are sound under replication.
    require(Set("inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti")
        .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports inner/left/semi/anti join types, got '$joinType' " +
        "(right/full outer would duplicate unmatched small-side rows per salt)")
    // round-robin within each partition: a content-derived salt would
    // hash EXACT-DUPLICATE rows of the hot key (the common pre-dedup
    // ingest shape) to one salt and spread nothing; the row counter
    // spreads them evenly, and the salt never reaches the output so
    // results stay deterministic
    val salted = large.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salts.toLong))
        .cast(org.apache.spark.sql.types.IntegerType))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** CDC snapshot diff: compare two keyed snapshots of the same table and
    * emit one row per difference with `change_type` ∈ insert/update/delete
    * plus the old/new value of every compared column. This is the
    * incremental complement of the reference's truncate-and-reload refresh
    * (dag1.py:273-287): at 100 TB you ship the diff, not the table.
    *
    * Scale shape: ONE full-outer shuffle join on the key (AQE handles
    * skew); presence is tracked by explicit flags so snapshots containing
    * null keys still classify correctly (null keys never equi-match, so a
    * null-keyed row in either snapshot surfaces as its side's
    * insert/delete). Comparison is null-safe (`<=>`). Unchanged rows are
    * dropped pre-projection, so the output is diff-sized, not table-sized. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(compareCols.nonEmpty, "snapshotDiff needs at least one compare column")
    val o = oldDf.select(
      keyCols.map(k => col(k).as(s"__o_$k")) ++
        compareCols.map(c => col(c).as(s"old_$c")) :+ lit(true).as("__in_old"): _*)
    val n = newDf.select(
      keyCols.map(k => col(k).as(s"__n_$k")) ++
        compareCols.map(c => col(c).as(s"new_$c")) :+ lit(true).as("__in_new"): _*)
    val cond = keyCols.map(k => col(s"__o_$k") === col(s"__n_$k")).reduce(_ && _)
    val inOld = coalesce(col("__in_old"), lit(false))
    val inNew = coalesce(col("__in_new"), lit(false))
    val changed = compareCols.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    o.join(n, cond, "full_outer")
      .withColumn("change_type",
        when(!inOld, lit("insert"))
          .when(!inNew, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(k => coalesce(col(s"__o_$k"), col(s"__n_$k")).as(k)) ++
        Seq(col("change_type")) ++
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Merkle-style bucketed snapshot comparison — the anti-entropy
    * primitive for synchronizing 100 TB tables: instead of a full-table
    * join ([[snapshotDiff]] — which shuffles both snapshots end to end),
    * each side collapses to `buckets` fixed-size summaries (row count +
    * an order-independent BIGINT SUM of per-row 40-bit md5 digests), and
    * only the bucket table — constant-size regardless of corpus —
    * crosses the wire. Equal (count, digest) ⇒ the bucket is `same` and
    * its rows never need to move; a re-sync then runs [[snapshotDiff]]
    * on the `changed`/`only_*` buckets alone. Returns one row per
    * occupied bucket: (bucket, n_a, digest_a, n_b, digest_b,
    * status ∈ same|changed|only_a|only_b).
    *
    * Digest soundness: a sum of 40-bit digests detects any single-row
    * change with certainty and k-row changes unless digest deltas cancel
    * (~2^-40 per bucket under the md5 model); the row count rules out
    * the all-rows-moved-between-buckets case cheaply. 40 bits (not 60)
    * keeps the hashed contract BIGINT — no DECIMAL representation enters
    * the cross-engine hash (the txt_dsir post-mortem rule) — and bounds
    * the exact sum: ANSI long overflow would need > 2^23 ≈ 8.4M rows in
    * ONE bucket; size `buckets` so per-bucket row counts stay below
    * that (65536 buckets cover half a trillion rows). The
    * digest payload is the U+0001-joined STRING CAST of key + value
    * columns — restrict valueCols to types whose cast is
    * engine-canonical (ints, strings, dates; NOT floating point) when
    * the digest must replay cross-engine.
    *
    * Scale shape: map-side everything — bucket id and row digest are
    * per-row expressions, the per-bucket (count, sum) aggregates carry
    * ≤ `buckets` rows per partition to one tiny shuffle; the final
    * full-outer join runs over ≤ 2·`buckets` rows. */
  def merkleDiff(a: DataFrame, b: DataFrame, keyCol: String,
                 valueCols: Seq[String], buckets: Int = 256): DataFrame = {
    require(buckets > 0 && buckets <= 65536,
      s"buckets must be in [1, 65536], got $buckets")
    require(valueCols.nonEmpty, "merkleDiff needs at least one value column")
    def side(df: DataFrame, suffix: String): DataFrame = {
      def hx(i: Int): Column = expr(
        s"instr('0123456789abcdef', substring(md5(CAST(`$keyCol` AS STRING)), $i, 1)) - 1")
      val bucket = pmod(((hx(1) * 16 + hx(2)) * 16 + hx(3)) * 16 + hx(4),
        lit(buckets)).cast(org.apache.spark.sql.types.IntegerType)
      val payload = concat_ws("\u0001",
        (keyCol +: valueCols).map(c => col(c).cast(StringType)): _*)
      df.select(bucket.as("bucket"),
          conv(substring(md5(payload), 1, 10), 16, 10).cast(LongType).as("dig"))
        .groupBy("bucket")
        .agg(count(lit(1)).as(s"n_$suffix"), sum(col("dig")).as(s"digest_$suffix"))
    }
    side(a, "a").join(side(b, "b"), Seq("bucket"), "full_outer")
      .select(col("bucket"), col("n_a"), col("digest_a"), col("n_b"), col("digest_b"),
        when(col("n_a").isNull, lit("only_b"))
          .when(col("n_b").isNull, lit("only_a"))
          .when(col("n_a") === col("n_b") && col("digest_a") === col("digest_b"),
            lit("same"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Apply a [[snapshotDiff]] changeset to a base snapshot — the MERGE
    * (upsert + delete) half of the CDC pair: rows whose keys carry a
    * delete/update are removed from the base, then insert/update rows are
    * appended with their new values. By construction
    * `applyChangeset(old, snapshotDiff(old, new)) == new` (tested as a
    * round-trip law in CdcSpec).
    *
    * Scale shape: one anti-join of the base against the (diff-sized,
    * usually broadcastable) changed-key set plus a union — the base is
    * never shuffled on anything but the join key, and at a typical <1%
    * daily change rate the anti-join broadcasts. This is how a 100 TB
    * table takes a daily delta without a truncate-and-reload. */
  def applyChangeset(base: DataFrame, changes: DataFrame,
                     keyCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    val changedKeys = changes
      .filter(col("change_type").isin("delete", "update"))
      .select(keyCols.map(col): _*)
    val upserts = changes
      .filter(col("change_type").isin("insert", "update"))
      .select(keyCols.map(col) ++ valueCols.map(c => col(s"new_$c").as(c)): _*)
    // NULL-SAFE anti-join: snapshotDiff legitimately emits null-keyed
    // delete rows (null keys never equi-match, so each side's null rows
    // classify as insert/delete) — a plain equi anti-join would leave the
    // stale null-keyed base rows in place and break the round-trip law
    val ck = changedKeys.select(keyCols.map(k => col(k).as(s"__ck_$k")): _*)
    val anti = keyCols.map(k => col(k) <=> col(s"__ck_$k")).reduce(_ && _)
    base.select((keyCols ++ valueCols).map(col): _*)
      .join(ck, anti, "left_anti")
      .unionByName(upserts)
  }

  /** SCD Type-2 dimension build: collapse a per-key event/snapshot history
    * into validity intervals of the tracked attribute. Consecutive rows
    * (ordered by `orderCol`, ties broken by `tieCol`) with an unchanged
    * attribute merge into one interval; each attribute change opens a new
    * version. Output: key, version (1-based), attribute, valid_from
    * (= first orderCol of the run), valid_to (= next run's valid_from,
    * null for the current version) — the classic warehouse
    * effective-dating the reference's star schema (pdf p.3) would need for
    * history.
    *
    * Scale shape: one shuffle on the key; the run-detection window, the
    * (key, version) aggregate and the valid_to lead window all reuse the
    * same hash(key) partitioning (ClusteredDistribution(key, version) is
    * satisfied by hash(key)), so Catalyst plans exactly one exchange.
    * Change detection is null-safe: a null attribute run is a version like
    * any other — including a history that STARTS with a null attribute
    * (the first row of a key is always version 1, pinned explicitly
    * rather than via lag's null default, which would satisfy the
    * null-safe equality and start the count at 0). */
  def scd2(df: DataFrame, keyCol: String, attrCol: String,
           orderCol: String, tieCol: String): DataFrame = {
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col(orderCol), col(tieCol))
    val runs = df.select(col(keyCol), col(attrCol), col(orderCol), col(tieCol))
      .withColumn("__chg",
        when(row_number().over(wOrd) === 1, lit(1L))
          .when(lag(col(attrCol), 1).over(wOrd) <=> col(attrCol), lit(0L))
          .otherwise(lit(1L)))
      .withColumn("version", sum(col("__chg"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val agg = runs.groupBy(col(keyCol), col("version"))
      .agg(min(col(attrCol)).as(attrCol),   // attr is constant within a run
        min(col(orderCol)).as("valid_from"))
    val wKey = Window.partitionBy(col(keyCol)).orderBy(col("version"))
    agg.withColumn("valid_to", lead(col("valid_from"), 1).over(wKey))
      .select(col(keyCol), col("version"), col(attrCol),
        col("valid_from"), col("valid_to"))
  }

  /** Probe predicate of [[bloomSemiJoin]], exposed for testing/observation:
    * builds a Bloom filter over `keys.keyCol` (distributed aggregate; only
    * the fixed-size sketch reaches the driver) and returns a codegen'd
    * probe `Column => Column` using Spark's native
    * `BloomFilterMightContain` expression (registered as
    * `bloom_might_contain` by [[graft.functions.GraftExtensions]] — no
    * UDF, stays inside whole-stage codegen). */
  def bloomProbe(keys: DataFrame, keyCol: String,
                 expectedItems: Long, fpp: Double): Column => Column = {
    // Hash keys of ANY type into one shared 64-bit domain on BOTH sides:
    // stat.bloomFilter inserts strings via their bytes while the
    // BloomFilterMightContain probe hashes a LONG — mismatched domains
    // would turn the "pure prune" into ~fpp recall for string keys (and
    // ANSI mode fails the cast outright on non-numeric strings).
    val bf = keys.select(xxhash64(col(keyCol)).as("__k"))
      .stat.bloomFilter("__k", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bloomLit = lit(bos.toByteArray)
    c => call_function("bloom_might_contain", bloomLit, xxhash64(c))
  }

  /** Bloom-pruned semi-join: filter the big side through a compact Bloom
    * filter of the key set BEFORE the exact semi-join, so the shuffle (or
    * even the scan's downstream pipeline) carries only rows that can
    * match, plus an fpp-sized false-positive tail the exact join then
    * removes. Result is EXACTLY `big SEMI JOIN keys` — the bloom stage is
    * a pure prune.
    *
    * 100 TB math: 100M keys at 1% fpp is a ~114 MB sketch — shipped to
    * executors once per stage via Spark's broadcast-backed task binaries —
    * versus shuffling the full big side for the join. With a 1% match
    * rate the join input drops ~50×. (Spark's own runtime bloom filter
    * does this automatically only for shuffle-join shapes it recognizes;
    * this operator makes the prune explicit and composable.) */
  def bloomSemiJoin(big: DataFrame, keys: DataFrame, bigKey: String,
                    keyCol: String, expectedItems: Long = 1000000L,
                    fpp: Double = 0.01): DataFrame = {
    val probe = bloomProbe(keys, keyCol, expectedItems, fpp)
    big.filter(probe(col(bigKey)))
      .join(keys.select(col(keyCol).as(bigKey)).distinct(), Seq(bigKey), "left_semi")
  }

  /** Scalable fuzzy join on edit distance — the entity-resolution
    * operator (record linkage on noisy names) the relational tier's
    * exact name joins (J3/J4) can't express: emit every
    * (left, right) pair with `levenshtein ≤ maxDist`, WITHOUT the n²
    * cross join. Candidate generation is q-gram prefix filtering
    * (Ed-Join, Xiao, Wang & Lin 2008, public): a string's q-gram set
    * loses at most q grams per edit, so two strings within maxDist
    * share a gram among each side's `maxDist·q + 1` RAREST grams
    * (rarest by global frequency, gram-ascending tie-break) — join on
    * those prefix grams, dedupe the candidate pairs, and verify with
    * one exact `levenshtein` per candidate. The guarantee needs
    * ≥ q·(maxDist+1) characters per string (shorter strings can lose
    * every gram to the edits), so both sides are filtered to that
    * minimum — callers route shorter strings through a length-blocked
    * exact pass if they need them.
    *
    * Scale shape: two gram explodes (≤ |s| rows each), one gram-keyed
    * frequency aggregate, a per-string rank window bounded by the
    * string's own gram count, and a candidate join keyed on PREFIX
    * grams only — rarest-first blocking is what keeps stop-grams
    * ("ing", "the") from quadratic bucket blowups, because a gram that
    * is globally common is by construction almost never in anyone's
    * prefix. The exact verify touches candidates, not the cross
    * product. The prefix ranking partitions by (id, name) and uses
    * dense_rank, so duplicate ids — same or different strings — cannot
    * pool grams into one ranking and silently shrink a string's prefix
    * (spec-pinned). Output: (left_id, left_name, right_id, right_name,
    * dist) over distinct pairs, fully deterministic,
    * all-pairs-equivalent (spec-pinned and SQL-replayable by the
    * brute-force oracle). */
  def fuzzyJoinEditDistance(left: DataFrame, right: DataFrame,
                            leftIdCol: String, rightIdCol: String,
                            leftNameCol: String, rightNameCol: String,
                            q: Int = 3, maxDist: Int = 1): DataFrame = {
    require(q >= 2, s"q must be >= 2, got $q")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val minLen = q * (maxDist + 1)
    val l = left.select(col(leftIdCol).as("left_id"),
        col(leftNameCol).as("left_name"))
      .filter(length(col("left_name")) >= minLen)
    val r = right.select(col(rightIdCol).as("right_id"),
        col(rightNameCol).as("right_name"))
      .filter(length(col("right_name")) >= minLen)
    def grams(name: Column): Column =
      array_distinct(transform(sequence(lit(1), length(name) - (q - 1)),
        i => name.substr(i, lit(q))))
    val lg = l.select(col("left_id"), col("left_name"),
      explode(grams(col("left_name"))).as("gram"))
    val rg = r.select(col("right_id"), col("right_name"),
      explode(grams(col("right_name"))).as("gram"))
    val freq = lg.select("gram").unionByName(rg.select("gram"))
      .groupBy("gram").agg(count(lit(1)).as("__f"))
    val pfx = maxDist * q + 1
    // dense_rank, partitioned by (id, name): duplicate input rows double
    // every gram inside the partition, but duplicates of one gram share
    // a dense rank, so `<= pfx` still keeps the top-pfx DISTINCT grams —
    // the completeness guarantee survives duplicate rows with no dedup
    // exchange; and duplicate ids carrying DIFFERENT strings each get
    // their own full prefix (same single window shuffle either way).
    // Duplicate candidate pairs collapse in the distinct() below.
    def prefix(g: DataFrame, idc: String): DataFrame = {
      val nameC = if (idc == "left_id") "left_name" else "right_name"
      val w = Window.partitionBy(col(idc), col(nameC))
        .orderBy(col("__f"), col("gram"))
      g.join(freq, "gram")
        .withColumn("__rk", dense_rank().over(w))
        .filter(col("__rk") <= pfx)
        .drop("__f", "__rk")
    }
    val cand = prefix(lg, "left_id")
      .join(prefix(rg, "right_id"), Seq("gram"))
      .select("left_id", "left_name", "right_id", "right_name").distinct()
    cand.withColumn("dist", levenshtein(col("left_name"), col("right_name")))
      .filter(col("dist") <= maxDist)
  }

  /** W1/W2 — unpivot/melt: wide year columns → long (Year, value) rows
    * (dag1.py:82,96). Thin wrapper over Spark's built-in melt with the
    * reference's semantics: value columns are everything not in `ids`,
    * variable column parsed to int when `varAsInt`. Null values are dropped
    * to match pandas melt + downstream dropna/coerce behavior. */
  def melt(df: DataFrame, ids: Seq[String], varName: String, valueName: String,
           varAsInt: Boolean = true, dropNulls: Boolean = true): DataFrame = {
    val valueCols = df.columns.filterNot(ids.contains)
    // unpivot demands one common value type; pandas melt doesn't. When the
    // wide columns disagree (e.g. a year column inferred string because of
    // "(NA)" cells next to clean double years), go through string — the
    // downstream lenient cast restores numerics (dag1.py:96+103).
    val valueTypes = df.schema.fields.filter(f => valueCols.contains(f.name))
      .map(_.dataType).distinct
    val valueExprs =
      if (valueTypes.length > 1)
        valueCols.map(c => col(c).cast(org.apache.spark.sql.types.StringType).as(c))
      else valueCols.map(col)
    var out = df.unpivot(ids.map(col).toArray, valueExprs.toArray, varName, valueName)
    if (varAsInt) out = out.withColumn(varName, col(varName).try_cast(org.apache.spark.sql.types.IntegerType))
    if (dropNulls) out = out.filter(col(valueName).isNotNull)
    out
  }
}
