package graft.quality

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("A5 checkPrimaryKey passes on a valid key and returns the frame") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(Quality.checkPrimaryKey(df, Seq("k")).count() === 2)
  }

  test("A5 checkPrimaryKey throws on duplicate keys") {
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    val e = intercept[PrimaryKeyViolation] {
      Quality.checkPrimaryKey(df, Seq("k"), "t")
    }
    assert(e.duplicateRows === 1 && e.nullKeyRows === 0)
  }

  test("A5 checkPrimaryKey throws on null keys (composite)") {
    val df = Seq((Some(1), Some(1), "a"), (None, Some(2), "b"), (Some(3), None, "c"))
      .toDF("k1", "k2", "v")
    val e = intercept[PrimaryKeyViolation] {
      Quality.checkPrimaryKey(df, Seq("k1", "k2"), "t")
    }
    assert(e.nullKeyRows === 2 && e.duplicateRows === 0)
  }

  test("A5 checkPrimaryKeys: one batch, first violating table in declaration order throws") {
    val clean = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val nullKeys = Seq((Some(1), Some(1)), (None, Some(2)), (Some(3), None), (Some(3), Some(3)))
      .toDF("k1", "k2")
    val dupKeys = Seq((1, "a"), (1, "b"), (1, "c"), (2, "d")).toDF("k", "v")
    val batch = Seq(("clean", clean, Seq("k")), ("nulls", nullKeys, Seq("k1", "k2")),
      ("dups", dupKeys, Seq("k")))
    val e = intercept[PrimaryKeyViolation](Quality.checkPrimaryKeys(batch))
    // its counts are the single-table keyStats of the same frame
    assert(e.table === "nulls")
    assert((e.nullKeyRows, e.duplicateRows) === Quality.keyStats(nullKeys, Seq("k1", "k2")))
    // reorder: the dup-key table now comes first and is the one thrown
    val e2 = intercept[PrimaryKeyViolation](Quality.checkPrimaryKeys(batch.reverse))
    assert(e2.table === "dups")
    assert((e2.nullKeyRows, e2.duplicateRows) === Quality.keyStats(dupKeys, Seq("k")))
    assert((e2.nullKeyRows, e2.duplicateRows) === ((0L, 2L)))
    // an empty table and a clean one pass
    Quality.checkPrimaryKeys(Seq(("clean", clean, Seq("k")),
      ("empty", clean.filter(col("k") < 0), Seq("k"))))
  }

  test("A5 checkPrimaryKeys: expectations ride the gate, judged after every key") {
    val t = Seq((Some(1), 5.0), (Some(2), -1.0), (Some(3), 2.0)).toDF("k", "v")
    val u = Seq((1, "x"), (2, "y")).toDF("k", "s")
    val checks = Seq("t" -> Seq("k_small" -> (col("k") < 100), "v_positive" -> (col("v") > 0)))
    val e = intercept[IllegalStateException] {
      Quality.checkPrimaryKeys(Seq(("u", u, Seq("k")), ("t", t, Seq("k"))), checks)
    }
    assert(e.getMessage.contains("v_positive=1") && !e.getMessage.contains("k_small"))
    // the same violations expectAll reports
    val single = intercept[IllegalStateException](Quality.expectAll(t, checks.head._2))
    assert(e.getMessage === single.getMessage)
    // a key violation anywhere in the batch surfaces before the expectation
    val dupU = u.union(u)
    val pk = intercept[PrimaryKeyViolation] {
      Quality.checkPrimaryKeys(Seq(("t", t, Seq("k")), ("u", dupU, Seq("k"))), checks)
    }
    assert(pk.table === "u" && pk.duplicateRows === 2)
    intercept[IllegalArgumentException] {
      Quality.checkPrimaryKeys(Seq(("u", u, Seq("k"))), checks)  // t is not gated
    }
  }

  test("robustStats: hand-computed lower median and MAD with duplicates; " +
      "nulls skipped, an all-null group absent") {
    val rows = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(2.0)), ("a", Some(3.0)), ("a", Some(10.0)),
      ("b", Some(4.0)), ("b", Some(4.0)), ("b", Some(6.0)), ("b", Some(8.0)), ("b", None),
      ("c", None), ("c", None))
    val got = Quality.robustStats(rows.toDF("g", "v"), "g", "v")
      .as[(String, Long, Double, Double)].collect().sortBy(_._1).toSeq
    // a: sorted 1,2,2,3,10 → lower median 2; |v-2| = 1,0,0,1,8 → 0,0,1,1,8 → MAD 1
    // b: sorted 4,4,6,8 (null skipped) → lower median 4; |v-4| = 0,0,2,4 → MAD 0
    assert(got === Seq(("a", 5L, 2.0, 1.0), ("b", 4L, 4.0, 0.0)))
  }

  test("expectationReport: false AND null both violate; expectAll gates") {
    val df = Seq((Some(1), 5.0), (Some(2), -1.0), (None, 2.0)).toDF("k", "v")
    val rep = Quality.expectationReport(df, Seq(
        "k_not_null" -> col("k").isNotNull,
        "v_positive" -> (col("v") > 0),
        "k_small" -> (col("k") < 100)))            // null k → violation
      .as[(String, Long)].collect()
    assert(rep.sameElements(Array(
      ("k_not_null", 1L), ("v_positive", 1L), ("k_small", 1L))))
    val e = intercept[IllegalStateException] {
      Quality.expectAll(df, Seq("v_positive" -> (col("v") > 0)))
    }
    assert(e.getMessage.contains("v_positive=1"))
    // within tolerance → chains through
    assert(Quality.expectAll(df, Seq("v_positive" -> (col("v") > 0)),
      tolerated = 1L).count() === 3)
  }

  test("keySkewProfile: heaviest keys first with exact shares") {
    val df = (Seq.fill(6)(1) ++ Seq.fill(3)(2) ++ Seq(3)).toDF("k")
    val prof = Quality.keySkewProfile(df, Seq("k"), topN = 2)
      .as[(String, Long, Double)].collect()
    assert(prof.sameElements(Array(("1", 6L, 0.6), ("2", 3L, 0.3))))
  }

  test("keySkewProfile: null key parts render distinctly, never collide") {
    val df = Seq((Option.empty[String], Some("a")), (Some("a"), Option.empty[String]),
        (Some("a"), Option.empty[String]))
      .toDF("k1", "k2")
    val prof = Quality.keySkewProfile(df, Seq("k1", "k2"), topN = 5)
      .as[(String, Long, Double)].collect()
    assert(prof.map(_._1).toSet === Set("NULL|a", "a|NULL")) // distinct rows
    assert(prof.find(_._1 == "a|NULL").get._2 === 2L)
  }

  test("expectationReport: duplicate names rejected; empty frame → 0 violations") {
    val df = Seq((1, 2.0)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Quality.expectationReport(df, Seq("p" -> (col("v") > 0), "p" -> (col("k") > 0)))
    }
    assert(e.getMessage.contains("duplicate"))
    val empty = Quality.expectationReport(df.filter(col("k") > 100),
      Seq("v_positive" -> (col("v") > 0))).as[(String, Long)].collect()
    assert(empty.sameElements(Array(("v_positive", 0L))))
  }

  test("A3/A4 keyStats counts nulls and dups separately (null ≠ dup)") {
    val df = Seq(Some(1), Some(1), Some(1), None, None, Some(2))
      .toDF("k")
    val (nulls, dups) = Quality.keyStats(df, Seq("k"))
    assert(nulls === 2) // both null rows are null-key, NOT duplicates
    assert(dups === 2)  // three 1s → two excess
  }

  test("assertSchema: order-insensitive exact match, mismatch raises") {
    val df = Seq((1, "a")).toDF("k", "v")
    Quality.assertSchema(df, Map("v" -> "string", "k" -> "int"))
    intercept[IllegalArgumentException] {
      Quality.assertSchema(df, Map("k" -> "bigint", "v" -> "string"))
    }
  }

  test("percentileGate: exact keeps the top (1-p) tail inclusive of the threshold") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
    // p=0.75 over 1..100 → exact interpolated threshold 75.25 → keep 76..100
    val kept = Quality.percentileGate(df, "score", 0.75, exact = true)
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq === (76L to 100L))
    // approx mode on the same data lands within one rank of exact
    val approx = Quality.percentileGate(df, "score", 0.75)
      .select("id").as[Long].collect().sorted
    assert(math.abs(approx.length - 25) <= 1, s"approx kept ${approx.length}")
    intercept[IllegalArgumentException] { Quality.percentileGate(df, "score", 1.0) }
  }

  test("percentileGate approx: GK threshold inside the rank-error value window") {
    // skewed, duplicate-heavy scores — the shape GK sketches actually face
    val n = 20000
    val scores = (0 until n).map(i => (i.toLong, ((i * i) % 997).toDouble / 997.0))
    val df = scores.toDF("id", "score")
    val p = 0.75
    val accuracy = 10000 // percentileGate's pinned GK accuracy
    val kept = Quality.percentileGate(df, "score", p)
      .select("score").as[Double].collect()
    val thr = kept.min

    // GK guarantee: the returned element's rank is within n/accuracy of
    // the target rank, so the threshold must lie inside the sorted-score
    // window around rank p*n
    val sorted = scores.map(_._2).sorted
    val rankErr = math.ceil(n.toDouble / accuracy).toInt
    val target = (p * n).toInt
    val lo = sorted(math.max(target - rankErr - 1, 0))
    val hi = sorted(math.min(target + rankErr, n - 1))
    assert(thr >= lo && thr <= hi, s"GK threshold $thr outside [$lo, $hi]")

    // and the kept set is exactly the >= thr tail (the gate filters on
    // the broadcast threshold, nothing else)
    assert(kept.length === scores.count(_._2 >= thr))
  }

  test("keyStats never throws on a deduped null-free frame (property)") {
    val df = Seq.tabulate(50)(i => (i % 7, i % 3)).toDF("a", "b")
      .dropDuplicates("a", "b")
    assert(Quality.checkPrimaryKey(df, Seq("a", "b")).columns.length === 2)
  }

  test("distinct sketches: per-day sketches union-merge to the global distinct count") {
    // 10 days × 1000 rows; user = i % 1200 → exact global distinct 1200,
    // exact per-day distinct 1000 (each day covers 1000 consecutive users)
    val rows = for (d <- 0 until 10; i <- 0 until 1000)
      yield (s"day$d", (d * 1000 + i) % 1200L)
    val df = rows.toDF("day", "user_id")
    val daily = Quality.distinctSketches(df, "user_id", Seq("day"))
    assert(daily.count() === 10)

    // rollup from the 10 sketch rows only — raw data never re-scanned
    val global = Quality.mergeDistinctSketches(
      daily.withColumn("all", org.apache.spark.sql.functions.lit(1)), Seq("all"))
      .select("distinct_est", "n_rows").as[(Long, Long)].head()
    assert(global._2 === 10000L)
    assert(math.abs(global._1 - 1200L) <= 1200 * 0.05,
      s"merged estimate ${global._1} not within 5% of exact 1200")

    // per-day estimates stay near their exact 1000
    val perDay = Quality.mergeDistinctSketches(daily, Seq("day"))
      .select("distinct_est").as[Long].collect()
    perDay.foreach(e => assert(math.abs(e - 1000L) <= 50, s"per-day est $e"))
  }

  test("referentialOrphans: orphan rows/keys counted, null FKs tallied " +
      "separately (not orphans), clean child reports zero") {
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(9L), Some(9L),
      Some(9L), None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Quality.referentialOrphans(child, "fk", parent, "pk")
      .as[(Long, Long, Long, Long)].head()
    // 7 child rows; 1 null FK; key 9 is orphaned on 3 rows, 1 distinct
    assert(r === ((7L, 1L, 3L, 1L)))
    val clean = Quality.referentialOrphans(
      Seq(1L, 2L).toDF("fk"), "fk", parent, "pk")
      .as[(Long, Long, Long, Long)].head()
    assert(clean === ((2L, 0L, 0L, 0L)))
    // duplicate parent keys must not multiply child rows
    val dupParent = Seq(1L, 1L, 2L).toDF("pk")
    val viaDup = Quality.referentialOrphans(child, "fk", dupParent, "pk")
      .as[(Long, Long, Long, Long)].head()
    assert(viaDup._1 === 7L)
  }

  test("benfordProfile: hand-computed digit counts — cents quantization, " +
      "absent digits reported at 0, non-positive rows excluded") {
    // 1.23 → 123 → digit 1; 0.091 → 9 (cents shift reveals it); 20.00 →
    // 2000 → 2; 100.5 → 10050 → 1; 0 and -5 and NULL excluded
    val df = Seq(Some(1.23), Some(0.091), Some(20.00), Some(100.5),
        Some(0.0), Some(-5.0), None)
      .toDF("v")
    val out = Quality.benfordProfile(df, "v")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out === Map(1 -> 2L, 2 -> 1L, 3 -> 0L, 4 -> 0L, 5 -> 0L,
      6 -> 0L, 7 -> 0L, 8 -> 0L, 9 -> 1L))
    // chi terms: N = 4; digit 3 absent → term = (0 − 4p)²/(4p) = 4p
    val chi3 = Quality.benfordProfile(df, "v")
      .filter(org.apache.spark.sql.functions.col("digit") === 3)
      .select("chi_term").as[Double].head()
    assert(math.abs(chi3 - 4 * 0.12493873660829993) < 1e-6)
  }

  test("quantile sketches: per-shard KLL merge answers global percentiles " +
      "within rank error; empty groups read NULL") {
    // 10 shards × 2000 values; value = global index 0..19999 scattered
    // round-robin across shards, so every shard sees the full range but
    // only the merged sketch knows the global distribution
    val rows = (0 until 20000).map(i => (s"shard${i % 10}", i.toDouble))
    val daily = Quality.quantileSketches(rows.toDF("shard", "v"), "v",
      Seq("shard"), k = 200)
    assert(daily.count() === 10)
    // rollup from the 10 sketch rows only — raw data never re-scanned
    val g = Quality.mergeQuantileSketches(
        daily.withColumn("all", org.apache.spark.sql.functions.lit(1)),
        Seq("all"), ranks = Seq(0.5, 0.95), k = 200)
      .select("q_500", "q_950", "n_values")
      .as[(Double, Double, Long)].head()
    assert(g._3 === 20000L)
    // k = 200 → ~1.65% normalized rank error (99% conf); 3% of the 20k
    // range = 600 is a comfortable deterministic-failure margin
    assert(math.abs(g._1 - 10000.0) <= 600, s"p50 ${g._1}")
    assert(math.abs(g._2 - 19000.0) <= 600, s"p95 ${g._2}")
    // an all-NULL group sketches empty → NULL quantiles, 0 values
    val withNull = rows.toDF("shard", "v")
      .unionAll(Seq(("ghost", Option.empty[Double])).toDF("shard", "v"))
    val ghost = Quality.mergeQuantileSketches(
        Quality.quantileSketches(withNull, "v", Seq("shard")), Seq("shard"))
      .filter(org.apache.spark.sql.functions.col("shard") === "ghost")
      .select("q_500", "n_values").collect().head
    assert(ghost.isNullAt(0) && ghost.getLong(1) === 0L)
    // rank guard is loud, and the SQL surface is registered
    val sqlRow = spark.sql(
      "SELECT kll_quantile(kll_sketch_agg(CAST(id AS DOUBLE), 200), " +
        "CAST(0.5 AS DOUBLE)) FROM range(1001)").as[Double].head()
    assert(math.abs(sqlRow - 500.0) <= 50, s"SQL p50 $sqlRow")
    intercept[Exception] {
      Quality.mergeQuantileSketches(daily, Seq("shard"), ranks = Seq(1.5))
    }
  }

  test("KLL k validation fails at ANALYSIS time for both aggregates; " +
      "NaN rank is rejected like an out-of-range one") {
    import org.apache.spark.sql.AnalysisException
    // below the DataSketches floor and above its 65535 ceiling — both
    // must die in analysis, not mid-job on an executor
    intercept[AnalysisException] {
      spark.sql("SELECT kll_sketch_agg(CAST(id AS DOUBLE), 4) FROM range(10)")
        .collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT kll_sketch_agg(CAST(id AS DOUBLE), 70000) FROM range(10)")
        .collect()
    }
    // merge agg previously skipped k validation entirely (ADVICE r17)
    intercept[AnalysisException] {
      spark.sql("SELECT kll_merge_agg(sk, 70000) FROM (SELECT " +
        "kll_sketch_agg(CAST(id AS DOUBLE), 200) AS sk FROM range(10))")
        .collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT kll_merge_agg(sk, NULL) FROM (SELECT " +
        "kll_sketch_agg(CAST(id AS DOUBLE), 200) AS sk FROM range(10))")
        .collect()
    }
    // NaN rank: the codegen guard is positive-form so NaN fails it the
    // same way the interpreted require does (ADVICE r17)
    intercept[Exception] {
      spark.sql("SELECT kll_quantile(kll_sketch_agg(CAST(id AS DOUBLE), " +
        "200), CAST('NaN' AS DOUBLE)) FROM range(10)").collect()
    }
  }

  test("frequency sketches: per-day CMS merge answers global point lookups within eps·N") {
    // 10 days × 1000 rows; key = i % 100 → every key appears exactly 100×
    // globally, plus key 7 planted 50 extra times on day 3
    val rows = (for (d <- 0 until 10; i <- 0 until 1000)
      yield (s"day$d", (i % 100).toLong)) ++ Seq.fill(50)(("day3", 7L))
    val daily = Quality.freqSketches(rows.toDF("day", "user_id"),
      "user_id", Seq("day"), eps = 0.001, confidence = 0.99)
    assert(daily.count() === 10)
    val merged = Quality.mergeFreqSketches(
      daily.select("key_cms").as[Array[Byte]].collect().toSeq)
    val n = 10050L
    val slack = (0.001 * n).ceil.toLong
    val est7 = merged.estimateCount(7L)
    val est3 = merged.estimateCount(3L)
    assert(est7 >= 150L && est7 <= 150L + slack, s"key 7 estimate $est7")
    assert(est3 >= 100L && est3 <= 100L + slack, s"key 3 estimate $est3")
    assert(merged.estimateCount(9999L) <= slack, "absent key stays near zero")
  }

  test("ksDrift: hand-computed distance, zero on identical, one on disjoint") {
    def df(xs: Double*) = xs.toDF("x")
    // a={1,2,3}, b={2,3,4}: the cdf gap is 1/3 at v=1,2,3 — but in
    // doubles the three gaps differ in the last ulp (1/3−0, 2/3−1/3,
    // 1−2/3) and the max is the v=3 one, 1−2/3 = 0.33333333333333337
    val r = Quality.ksDrift(df(1, 2, 3), df(2, 3, 4), "x")
      .as[(Long, Long, Double)].head()
    assert(r === ((3L, 3L, 1.0 - 2.0 / 3)))
    // identical samples → 0
    assert(Quality.ksDrift(df(5, 6, 7), df(5, 6, 7), "x")
      .as[(Long, Long, Double)].head() === ((3L, 3L, 0.0)))
    // fully separated supports → 1
    assert(Quality.ksDrift(df(1, 2), df(5, 6), "x")
      .as[(Long, Long, Double)].head() === ((2L, 2L, 1.0)))
    // one empty side: counts report, ks stays NULL instead of throwing
    val e = Quality.ksDrift(df(1, 2), df().limit(0), "x")
      .as[(Long, Long, Option[Double])].head()
    assert(e === ((2L, 0L, None)))
    // nulls carry no ordering evidence: dropped from counts and cdfs
    val withNull = Seq(Some(1.0), Some(2.0), None).toDF("x")
    assert(Quality.ksDrift(withNull, df(1, 2), "x")
      .as[(Long, Long, Double)].head() === ((2L, 2L, 0.0)))
  }

  test("bootstrapMeanCI: ordered percentiles bracketing the true mean, deterministic") {
    val df = (1 to 400).map(i => (i.toLong, 10.0 + (i % 21) * 0.25))
      .toDF("k", "v") // mean 12.5, sd small → tight CI around 12.5
    val ci = Quality.bootstrapMeanCI(df, "k", "v", replicas = 40)
      .as[(Long, Double, Double, Double)].head()
    val (b, p05, p50, p95) = ci
    assert(b === 40L)
    assert(p05 <= p50 && p50 <= p95, ci.toString)
    // Poisson-bootstrap CI of a 400-row sample with sd ≈ 1.5: the 90%
    // interval sits within a generous ±0.5 of the true mean
    assert(p05 > 12.0 && p95 < 13.0, ci.toString)
    // fully deterministic: same seed → identical CI
    val again = Quality.bootstrapMeanCI(df, "k", "v", replicas = 40)
      .as[(Long, Double, Double, Double)].head()
    assert(again === ci)
    // different seed → different draw (the seed actually participates)
    val other = Quality.bootstrapMeanCI(df, "k", "v", replicas = 40, seed = 7)
      .as[(Long, Double, Double, Double)].head()
    assert(other !== ci)
    intercept[IllegalArgumentException] {
      Quality.bootstrapMeanCI(df, "k", "v", replicas = 1)
    }
  }

  test("groupPercentRank ≡ SQL percent_rank (ties, single-row group, nulls)") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(2.0)), ("a", Some(5.0)),
      ("b", Some(7.0)),                        // single-row group → 0
      ("c", Some(1.0)), ("c", None))           // null → null pctile
      .toDF("g", "v")
    val out = Quality.groupPercentRank(df, "g", "v")
      .select("g", "v", "pctile")
      .as[(String, Option[Double], Option[Double])].collect().toSet
    // group a (n=4): 1.0→0/3=0, 2.0→1/3 (both tied rows), 5.0→3/3=1
    assert(out === Set(
      ("a", Some(1.0), Some(0.0)),
      ("a", Some(2.0), Some(0.333333)),
      ("a", Some(5.0), Some(1.0)),
      ("b", Some(7.0), Some(0.0)),
      ("c", Some(1.0), Some(0.0)),
      ("c", None, None)))
    // and the window never partitions raw rows: the plan's WindowExec
    // input is the distinct-value aggregate, not the input relation
    val plan = Quality.groupPercentRank(df, "g", "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
  }

  test("madOutliers: hand-computed lower medians, MAD, and Hampel flags") {
    // A: [1,2,3,4,100] → med 3 (pos 3), devs sorted [0,1,1,2,97] → mad 1,
    //    outlier iff dev > 2 → only 100 (dev 97).
    // B: [10,10,10] → mad 0 → nothing flagged (dev > 0 never strict on 0s).
    // C: [1,2,3,40] (even n) → med = LOWER middle 2, devs [1,0,1,38]
    //    sorted [0,1,1,38] → mad pos 2 = 1 → only 40 flagged.
    val df = (Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "A", 3.0),
      (4L, "A", 4.0), (5L, "A", 100.0),
      (6L, "B", 10.0), (7L, "B", 10.0), (8L, "B", 10.0),
      (9L, "C", 1.0), (10L, "C", 2.0), (11L, "C", 3.0), (12L, "C", 40.0)))
      .toDF("id", "g", "v")
    val out = Quality.madOutliers(df, "g", "v", k = 2.0)
      .select("id", "g", "med", "dev", "mad", "outlier")
      .as[(Long, String, Double, Double, Double, Int)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.length === 12)
    assert(byId(5L) === ((5L, "A", 3.0, 97.0, 1.0, 1)))
    assert(byId(12L) === ((12L, "C", 2.0, 38.0, 1.0, 1)))
    assert(out.count(_._6 == 1) === 2, s"exactly 100.0 and 40.0 flagged: ${out.toSeq}")
    assert(byId(6L)._5 === 0.0) // group B MAD is exactly zero
    intercept[IllegalArgumentException] {
      Quality.madOutliers(df, "g", "v", k = 0.0)
    }
  }

  test("exactPercentiles: nearest-rank cut points, duplicates, and madOutliers consistency") {
    val df = ((1 to 10).map(i => ("A", i.toDouble)) ++
      Seq(("B", 5.0), ("B", 5.0), ("B", 5.0), ("B", 9.0)))
      .toDF("g", "v")
    val out = Quality.exactPercentiles(df, "g", "v", Seq(25, 50, 75, 90, 99))
      .as[(String, Long, Double, Double, Double, Double, Double)]
      .collect().toSet
    assert(out === Set(
      ("A", 10L, 3.0, 5.0, 8.0, 9.0, 10.0),
      ("B", 4L, 5.0, 5.0, 5.0, 9.0, 9.0)))
    // the median machinery madOutliers rides is this same operator at p50
    val med = Quality.exactPercentiles(df, "g", "v", Seq(50))
      .select("g", "p50").as[(String, Double)].collect().toMap
    assert(med === Map("A" -> 5.0, "B" -> 5.0))
    intercept[IllegalArgumentException] {
      Quality.exactPercentiles(df, "g", "v", Seq(0))
    }
    intercept[IllegalArgumentException] {
      Quality.exactPercentiles(df, "g", "v", Seq(50, 50))
    }
  }

  test("kAnonymity + suppression: group flags, NULL quasi-values form a group") {
    // (zip, age): "10" × 3, "20" × 2, NULL-zip × 2 — at k = 2 only the
    // singleton ("30", 9) is suppressed; NULLs are a real group.
    val df = Seq(
      (1L, Option("10"), 5), (2L, Option("10"), 5), (3L, Option("10"), 5),
      (4L, Option("20"), 7), (5L, Option("20"), 7),
      (6L, Option("30"), 9),
      (7L, Option.empty[String], 8), (8L, Option.empty[String], 8))
      .toDF("id", "zip", "age")
    val audit = Quality.kAnonymity(df, Seq("zip", "age"), k = 2)
      .as[(Option[String], Int, Long, Int)].collect().toSet
    assert(audit === Set(
      (Option("10"), 5, 3L, 1), (Option("20"), 7, 2L, 1),
      (Option("30"), 9, 1L, 0), (Option.empty[String], 8, 2L, 1)))
    val kept = Quality.kAnonymitySuppress(df, Seq("zip", "age"), k = 2)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L, 4L, 5L, 7L, 8L),
      "only the singleton combination is suppressed; the NULL group survives")
    intercept[IllegalArgumentException] {
      Quality.kAnonymity(df, Seq.empty, k = 2)
    }
    intercept[IllegalArgumentException] {
      Quality.kAnonymity(df, Seq("zip"), k = 0)
    }
  }

  test("lDiversity + suppression: homogeneity attack flagged, NULL " +
      "sensitive values never count toward l") {
    // zip "10": 3 rows but ONE disease — k-anonymous at k=3 yet fully
    // disclosing (the homogeneity attack l-diversity exists to catch).
    // zip "20": 3 rows, 2 diseases → diverse at l=2. zip "30": 2 rows,
    // 1 real disease + 1 NULL → NOT diverse (NULL discloses nothing, so
    // it cannot help the group reach l).
    val df = Seq(
      (1L, "10", Option("flu")), (2L, "10", Option("flu")),
      (3L, "10", Option("flu")),
      (4L, "20", Option("flu")), (5L, "20", Option("cold")),
      (6L, "20", Option("cold")),
      (7L, "30", Option("flu")), (8L, "30", Option.empty[String]))
      .toDF("id", "zip", "disease")
    val audit = Quality.lDiversity(df, Seq("zip"), "disease", l = 2)
      .as[(String, Long, Long, Int)].collect().toSet
    assert(audit === Set(
      ("10", 3L, 1L, 0), ("20", 3L, 2L, 1), ("30", 2L, 1L, 0)))
    val kept = Quality.lDiversitySuppress(df, Seq("zip"), "disease", l = 2)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(4L, 5L, 6L),
      "only the 2-disease zip survives; the homogeneous and the " +
        "NULL-padded groups are both suppressed")
    intercept[IllegalArgumentException] {
      Quality.lDiversity(df, Seq.empty, "disease", l = 2)
    }
    intercept[IllegalArgumentException] {
      Quality.lDiversity(df, Seq("zip", "disease"), "disease", l = 2)
    }
    intercept[IllegalArgumentException] {
      Quality.lDiversity(df, Seq("zip"), "disease", l = 0)
    }
  }

  test("groupZOutliers: planted low outlier flagged within its group only; " +
      "small groups and constant groups never flag") {
    import org.apache.spark.sql.functions._
    // group A: nine values at 0.9 plus one at 0.1 — the dip is far below
    // mean - 2σ; group B: same 0.1 value among like values — NOT an
    // outlier there; group C: two rows (below minGroup); group D: constant
    val rows =
      (1 to 9).map(i => (i.toLong, "A", 0.9)) ++ Seq((10L, "A", 0.1)) ++
      (11 to 15).map(i => (i.toLong, "B", 0.1)) ++
      Seq((16L, "C", 0.9), (17L, "C", 0.1)) ++
      (18 to 21).map(i => (i.toLong, "D", 0.5))
    val out = Quality.groupZOutliers(rows.toDF("id", "g", "v"), "v", "g")
      .select("id", "is_low_outlier").as[(Long, Int)].collect().toMap
    assert(out(10L) === 1, "the planted dip in A must flag")
    assert((1 to 9).forall(i => out(i.toLong) === 0))
    assert((11 to 15).forall(i => out(i.toLong) === 0),
      "0.1 among 0.1s is not an outlier")
    assert(out(16L) === 0 && out(17L) === 0, "groups below minGroup never flag")
    assert((18 to 21).forall(i => out(i.toLong) === 0),
      "a constant group (variance 0) never flags")
  }

  test("momentSketches: merged moments ≡ direct skewness/kurtosis, " +
      "shard-count invariant; overflow fails fast") {
    import org.apache.spark.sql.functions._
    val xs = Seq(1L, 1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L, 4L, 4L, 4L)
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("id", "x")
    def merged(shards: Int) = Quality.mergeMomentSketches(
        Quality.momentSketches(
          df.withColumn("shard", pmod(col("id"), lit(shards.toLong))), "x",
          "shard"))
      .select("n", "mean", "m2", "skew", "kurt")
      .as[(Long, Double, Double, Double, Double)].head()
    val m4 = merged(4)
    // shard-count invariance: the integer sums fold identically
    assert(m4 === merged(1) && m4 === merged(7))
    // ≡ the direct population aggregates
    val direct = df.agg(
        count(lit(1)).as("n"), round(avg(col("x")), 6).as("mean"),
        round(var_pop(col("x")), 6).as("m2"),
        round(skewness(col("x")), 6).as("skew"),
        round(kurtosis(col("x")), 6).as("kurt"))
      .as[(Long, Double, Double, Double, Double)].head()
    assert(m4._1 === direct._1 && m4._2 === direct._2)
    assert(math.abs(m4._3 - direct._3) < 1e-6, s"m2 ${m4._3} vs ${direct._3}")
    assert(math.abs(m4._4 - direct._4) < 1e-6, s"skew ${m4._4} vs ${direct._4}")
    assert(math.abs(m4._5 - direct._5) < 1e-6, s"kurt ${m4._5} vs ${direct._5}")
    // ANSI overflow on |x|^4 beyond Long range is a loud failure, never
    // a silently wrapped sketch
    val ex = intercept[Exception] {
      Quality.momentSketches(
        Seq((1L, 60000L)).toDF("shard", "x"), "x", "shard").collect()
    }
    assert(ex.getClass.getName.contains("Arithmetic"), ex.getClass.getName)
  }
}
