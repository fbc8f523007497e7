package graft.profile

import graft.SparkSpec

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1, Some(10.0), "a"),
    (2, Some(20.0), "b"),
    (3, None, "a"),
    (3, None, "a"))  // duplicate row
    .toDF("k", "v", "s")

  test("single-pass profile: counts, missing, distinct, moments, duplicates (PR1-PR5)") {
    val p = Profile.profile(df, "t", exact = true)
    assert(p.rows === 4 && p.columns === 3 && p.duplicateRows === 1)
    val v = p.profiles.find(_.name == "v").get
    assert(v.count === 2 && v.missing === 2 && v.distinct === 2)
    assert(v.mean.contains(15.0) && v.min.contains(10.0) && v.max.contains(20.0))
    assert(v.p50.contains(15.0))
    val s = p.profiles.find(_.name == "s").get
    assert(s.count === 4 && s.distinct === 2 && s.mean.isEmpty)
  }

  test("skewness/kurtosis (population defs) and 10-bucket histogram") {
    // 0..9 uniform: skew 0, excess kurtosis of discrete uniform(10) =
    // 6*(n^2+1)/(5*(n^2-1)) negated = -1.2242…; one value per bucket.
    val d = Seq.tabulate(10)(i => i.toDouble).toDF("v")
    val p = Profile.profile(d, "t", exact = true).profiles.head
    assert(p.skewness.exists(s => math.abs(s) < 1e-9))
    assert(p.kurtosis.exists(k => math.abs(k - (-1.2242424242)) < 1e-6))
    assert(p.histogram === Seq(1L, 1L, 1L, 1L, 1L, 1L, 1L, 1L, 1L, 1L))
  }

  test("histogram edge cases: constant column and all-null column are skipped") {
    val d = Seq((1.0, Option.empty[Double]), (1.0, None)).toDF("c", "n")
    val p = Profile.profile(d, "t", exact = true)
    assert(p.profiles.find(_.name == "c").get.histogram.isEmpty) // min == max
    assert(p.profiles.find(_.name == "n").get.histogram.isEmpty) // no bounds
  }

  test("correlations over numeric pairs (PR6)") {
    val d = Seq((1, 2.0, 10.0), (2, 4.0, 20.0), (3, 6.0, 31.0))
      .toDF("a", "b", "c")
    val p = Profile.profile(d, "t", exact = true)
    assert(math.abs(p.correlations(("a", "b")) - 1.0) < 1e-12)
    assert(p.correlations(("b", "c")) > 0.99)
  }

  test("approximate mode (HLL distinct + GK quantiles) tracks exact closely") {
    val d = Seq.tabulate(2000)(i => (i, (i % 97).toDouble)).toDF("k", "v")
    val approx = Profile.profile(d, "t", exact = false)
    val k = approx.profiles.find(_.name == "k").get
    assert(math.abs(k.distinct - 2000) < 100)   // HLL++ ~2% error
    val v = approx.profiles.find(_.name == "v").get
    assert(v.p50.exists(m => m >= 40 && m <= 56))
    assert(approx.rows === 2000)
  }

  test("frequent values: planted skew, exact counts, deterministic tie-break (PR8)") {
    // 'x' dominates, 'b'/'c' tie at 2 → tie broken by value ascending;
    // nulls excluded (they are the `missing` statistic, not a value)
    val skewed = (Seq.fill(5)("x") ++ Seq("b", "b", "c", "c") ++ Seq(null))
      .zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "cat")
    val rows = Profile.frequentValues(skewed.select($"cat"), topN = 2)
      .as[(String, String, Long, Int)].collect().sortBy(_._4)
    assert(rows.toSeq === Seq(("cat", "x", 5L, 1), ("cat", "b", 2L, 2)))
    // and the profile() integration carries the same pairs per column
    val p = Profile.profile(skewed, "t", exact = true, topFrequent = 2)
    assert(p.profiles.find(_.name == "cat").get.frequent ===
      Seq(("x", 5L), ("b", 2L)))
    // numeric columns are stringified cells like ydata's value tables
    assert(p.profiles.find(_.name == "id").get.frequent.length === 2)
    intercept[IllegalArgumentException] {
      Profile.frequentValues(skewed, topN = 0)
    }
  }

  test("frequentValuesNumeric: NUMERIC tie-break (2 before 10), null/NaN excluded (PR8 numeric)") {
    // counts: 7.0×3; 2.0 and 10.0 tie at 2 — numeric order ranks 2.0
    // first where the string form's binary order would put "10.0" first
    val d = (Seq(7.0, 7.0, 7.0, 2.0, 2.0, 10.0, 10.0, Double.NaN, 1.5, 1.5))
      .zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "x")
      .select($"x", org.apache.spark.sql.functions.when($"x" === 1.5,
        org.apache.spark.sql.functions.lit(null)).otherwise($"x").as("y"))
    val rows = Profile.frequentValuesNumeric(d.select($"x"), topN = 3)
      .as[(String, Double, Long, Int)].collect().sortBy(_._4)
    assert(rows.toSeq === Seq(("x", 7.0, 3L, 1), ("x", 1.5, 2L, 2), ("x", 2.0, 2L, 3)))
    // nulls excluded: y drops the two 1.5s, so 2.0/10.0 move up
    val ry = Profile.frequentValuesNumeric(d.select($"y"), topN = 3)
      .as[(String, Double, Long, Int)].collect().sortBy(_._4)
    assert(ry.toSeq === Seq(("y", 7.0, 3L, 1), ("y", 2.0, 2L, 2), ("y", 10.0, 2L, 3)))
    intercept[IllegalArgumentException] {
      Profile.frequentValuesNumeric(
        d.select(org.apache.spark.sql.functions.lit("s").as("s")), topN = 3)
    }
    // map-side partial heap, no window sort — same scale contract as the
    // string form
    val plan = Profile.frequentValuesNumeric(d.select($"x"), topN = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topkdescnum") || plan.contains("partial_topk_desc_num"),
      s"expected partial heap aggregation in:\n$plan")
    assert(!plan.contains("Window"), s"no window sort expected:\n$plan")
  }

  test("frequentValues plan: heap aggregate runs with map-side partials, no sort") {
    // The scale contract: the per-column top-k is a PARTIAL ObjectHashAggregate
    // (each partition ships ≤ N rows per column), not a window sort over the
    // full (column, value) count frame.
    val plan = Profile.frequentValues(df.select($"s"), topN = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topkdescstr") || plan.contains("partial_topk_desc_str"),
      s"expected partial heap aggregation in:\n$plan")
    assert(!plan.contains("Window"), s"no window sort expected:\n$plan")
  }

  test("frequent values partition-count independent (map-side heap partials)") {
    val d = (0 until 200).map(i => (i, if (i % 3 == 0) "t" else s"v${i % 7}"))
      .toDF("id", "cat").select($"cat")
    def of(parts: Int) =
      Profile.frequentValues(d.repartition(parts), topN = 3)
        .as[(String, String, Long, Int)].collect().sortBy(_._4).toSeq
    assert(of(1) === of(13))
  }

  test("html report renders all columns and stats (K4)") {
    val html = Profile.toHtml(Profile.profile(df, "mytable", exact = true))
    assert(html.contains("<h1>Profile: mytable</h1>"))
    assert(html.contains("4 rows × 3 columns; 1 duplicate rows"))
    assert(html.contains("<td>v</td>") && html.contains("<td>s</td>"))
  }

  test("spearman: monotone pairs hit ±1 exactly; average ranks under " +
      "ties match the hand formula; constant margin → null; " +
      "pairwise-complete null handling (PR14)") {
    val mono = Seq((1.0, 1.0), (2.0, 4.0), (3.0, 9.0), (4.0, 16.0),
      (5.0, 25.0)).toDF("x", "y")
    val up = Profile.spearman(mono, "x", "y")
      .as[(Long, Option[Double])].head()
    assert(up === ((5L, Some(1.0))), "monotone increasing → rho = 1")
    val down = Profile.spearman(mono.withColumn("y", -$"y"), "x", "y")
      .as[(Long, Option[Double])].head()
    assert(down === ((5L, Some(-1.0))))
    // ties: x = (1, 2, 2, 4) ranks (1, 2.5, 2.5, 4); hand Pearson over
    // ranks = 4.5 / sqrt(4.5 · 5) = 0.948683 at round 6
    val tied = Seq((1.0, 10.0), (2.0, 20.0), (2.0, 30.0), (4.0, 40.0))
      .toDF("x", "y")
    val rt = Profile.spearman(tied, "x", "y")
      .as[(Long, Option[Double])].head()
    assert(rt === ((4L, Some(0.948683))))
    // constant margin: variance 0 → undefined, null not NaN/crash
    val const = Seq((1.0, 7.0), (2.0, 7.0), (3.0, 7.0)).toDF("x", "y")
    assert(Profile.spearman(const, "x", "y")
      .as[(Long, Option[Double])].head() === ((3L, None)))
    // pairwise-complete: a null on either side drops the ROW, and ranks
    // are computed over the surviving pairs only
    val withNull = Seq((Some(1.0), Some(1.0)), (Some(2.0), None),
      (Some(3.0), Some(2.0)), (None, Some(9.0)), (Some(4.0), Some(3.0)))
      .toDF("x", "y")
    assert(Profile.spearman(withNull, "x", "y")
      .as[(Long, Option[Double])].head() === ((3L, Some(1.0))))
  }

  test("cramersV: perfect association → 1, independence → 0, " +
      "single-level margin → null, zero cells included (PR15)") {
    val perfect = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val p = Profile.cramersV(perfect, "a", "b")
      .as[(Long, Int, Int, Double, Option[Double])].head()
    // hand grid: four cells each term 1.0 → chi2 = 4, V = √(4/(4·1)) = 1
    assert(p === ((4L, 2, 2, 4.0, Some(1.0))))
    val indep = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    assert(Profile.cramersV(indep, "a", "b")
      .as[(Long, Int, Int, Double, Option[Double])].head() ===
      ((4L, 2, 2, 0.0, Some(0.0))))
    val oneLevel = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    assert(Profile.cramersV(oneLevel, "a", "b")
      .as[(Long, Int, Int, Double, Option[Double])].head()._5 === None)
  }

  test("cohenKappa: hand-computed 2×2 (κ = 0.4), perfect → 1, " +
      "independence → 0, symmetry (PR23)") {
    // cells: (x,x)=4 (x,y)=1 (y,x)=2 (y,y)=3 → n=10, po=0.7,
    // r=(5,5), c=(6,4), pe=0.5, κ = (0.7−0.5)/(1−0.5) = 0.4
    val hand = (Seq.fill(4)(("x", "x")) ++ Seq.fill(1)(("x", "y")) ++
      Seq.fill(2)(("y", "x")) ++ Seq.fill(3)(("y", "y"))).toDF("a", "b")
    assert(Profile.cohenKappa(hand, "a", "b")
      .as[(Long, Int, Long, Option[Double])].head() ===
      ((10L, 2, 7L, Some(0.4))))
    val perfect = Seq(("x", "x"), ("y", "y"), ("z", "z")).toDF("a", "b")
    for (wt <- Seq("none", "linear", "quadratic"))
      assert(Profile.cohenKappa(perfect, "a", "b", weighting = wt)
        .as[(Long, Int, Long, Option[Double])].head()._4 === Some(1.0),
        s"perfect agreement under '$wt'")
    val indep = Seq(("x", "x"), ("x", "y"), ("y", "x"), ("y", "y"))
      .toDF("a", "b")
    assert(Profile.cohenKappa(indep, "a", "b")
      .as[(Long, Int, Long, Option[Double])].head()._4 === Some(0.0))
    // symmetric statistic on an asymmetric table
    val asym = (Seq.fill(4)(("x", "x")) ++ Seq.fill(3)(("x", "y")) ++
      Seq.fill(1)(("y", "x")) ++ Seq.fill(2)(("y", "y"))).toDF("a", "b")
    assert(Profile.cohenKappa(asym, "a", "b").select("kappa").head() ===
      Profile.cohenKappa(asym, "b", "a").select("kappa").head())
  }

  test("cohenKappa weighted: hand-computed 3-level ordinal case, " +
      "2-level weighting invariance, union labels, degenerate null, " +
      "guard (PR24)") {
    val idsBefore = cachedIds
    // cells: (q1,q1)=2 (q1,q3)=1 (q2,q2)=1 (q3,q3)=1 → n=5, agree=4,
    // r=(3,1,1), c=(2,1,2); none: κ = 1 − 5·1/16 = 0.6875;
    // linear: κ = 1 − 5·2/24 = 0.583333…; quadratic: κ = 1 − 5·4/40 = 0.5
    val ord = (Seq.fill(2)(("q1", "q1")) ++ Seq(("q1", "q3"),
      ("q2", "q2"), ("q3", "q3"))).toDF("a", "b")
    // the returned frame is persisted by the family's caller-unpersist
    // contract — this helper honors it, and the residency assertion at
    // the bottom proves honoring it suffices
    def kRow(df: org.apache.spark.sql.DataFrame, wt: String)
        : (Long, Int, Long, Option[Double]) = {
      val out = Profile.cohenKappa(df, "a", "b", weighting = wt)
      val row = out.as[(Long, Int, Long, Option[Double])].head()
      out.unpersist(blocking = true)
      row
    }
    assert(kRow(ord, "none")._4 === Some(0.6875))
    assert(kRow(ord, "linear")._4 === Some(0.583333))
    assert(kRow(ord, "quadratic")._4 === Some(0.5))
    // on 2 levels |i−j|, (i−j)² and 1_{i≠j} coincide
    val two = (Seq.fill(4)(("x", "x")) ++ Seq.fill(1)(("x", "y")) ++
      Seq.fill(2)(("y", "x")) ++ Seq.fill(3)(("y", "y"))).toDF("a", "b")
    assert(Seq("none", "linear", "quadratic")
      .map(wt => kRow(two, wt)._4).distinct === Seq(Some(0.4)))
    // a label rater b never emits still shapes the chance model:
    // cells (z,x)=1 (x,x)=1 → r=(1,1), c=(2,0) on union {x,z};
    // κ = 1 − 2·1/(r_x·c_z + r_z·c_x) = 1 − 2/2 = 0
    val union = Seq(("z", "x"), ("x", "x")).toDF("a", "b")
    assert(kRow(union, "none") === ((2L, 2, 1L, Some(0.0))))
    // both raters constant on one shared label: chance mass 0 → null
    val const = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    assert(kRow(const, "none") === ((2L, 1, 2L, None)))
    // level guard fails fast, naming the contract
    val e = intercept[IllegalArgumentException] {
      Profile.cohenKappa(ord, "a", "b", maxLevels = 2).head()
    }
    assert(e.getMessage.contains("CATEGORICAL"))
    // nothing left persisted by any of the calls above (incl. the
    // guard-failure path releasing both intermediates)
    assertReleased(cachedIds -- idsBefore)
  }

  test("profile associations + sample: Spearman/Cramér's V maps " +
      "populated, first-N preview deterministic, html renders the " +
      "new sections") {
    val wide = Seq(
      (1, 1.0, "x", "p"), (2, 4.0, "x", "p"),
      (3, 9.0, "y", "q"), (4, 16.0, "y", "q"))
      .toDF("k", "v", "a", "b")
    val p = Profile.profile(wide, "w", exact = true, sampleN = 2)
    assert(p.spearman === Map(("k", "v") -> 1.0),
      "numeric pair rho recorded")
    assert(p.cramersV === Map(("a", "b") -> 1.0),
      "low-cardinality string pair V recorded")
    assert(p.sampleColumns === Seq("k", "v", "a", "b"))
    assert(p.sample === Seq(Seq("1", "1.0", "x", "p"),
      Seq("2", "4.0", "x", "p")), "ordered by every column, first N")
    // re-partitioning must not change the preview
    val p2 = Profile.profile(wide.repartition(5), "w", exact = true,
      sampleN = 2)
    assert(p2.sample === p.sample)
    val html = Profile.toHtml(p)
    assert(html.contains("Correlations (Spearman)"))
    assert(html.contains("Associations (Cramér's V)"))
    assert(html.contains("Sample (first 2 rows)"))
    // associations off / sampleN 0 → lean report, sections absent
    val lean = Profile.toHtml(Profile.profile(wide, "w", exact = true,
      associations = false, sampleN = 0))
    assert(!lean.contains("Spearman") && !lean.contains("Sample (first"))
  }

  test("dotted column names and NaN values do not crash or poison statistics") {
    val messy = Seq(
      (1, 10.0), (2, 20.0), (3, Double.NaN))
      .toDF("U.S._id", "U.S._Rate")
    val p = Profile.profile(messy, "messy", exact = true)
    val rate = p.profiles.find(_.name == "U.S._Rate").get
    // NaN is skipped like ydata-profiling, not propagated
    assert(rate.count === 3)          // count() counts NaN rows (non-null)
    assert(rate.mean === Some(15.0))  // mean over {10, 20}
    assert(rate.max === Some(20.0))   // NaN must not sort greatest
    assert(rate.histogram.sum === 2)  // histogram over the finite values
    // dotted names render escaped in the HTML report
    val html = Profile.toHtml(p)
    assert(html.contains("U.S._Rate"))
  }

  test("html report escapes markup-bearing names; locale-stable numbers") {
    val tricky = Seq((1, 2.0)).toDF("a<b&c", "v")
    val html = Profile.toHtml(Profile.profile(tricky, "t<able", exact = true))
    assert(html.contains("a&lt;b&amp;c"), "column name must be escaped")
    assert(html.contains("t&lt;able"), "table name must be escaped")
    assert(!html.contains("<td>a<b&c</td>"))
    val default = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.FRANCE)
      val fr = Profile.toHtml(Profile.profile(tricky, "x", exact = true))
      assert(fr.contains("2.0000") && !fr.contains("2,0000"),
        "number formatting must not follow the JVM default locale")
    } finally java.util.Locale.setDefault(default)
  }

  test("alerts: constant / unique / high_cardinality / missing / skewed " +
      "fire exactly where planted; thresholds and NaN-as-missing honored") {
    // 10 rows: k unique ints; c constant; g 3 nulls + 1 NaN (missing
    // frac 0.4); lowcard 2 distinct values (no cardinality alert at
    // threshold 3... which DOES fire for k at 10 > 3)
    val rows = (1 to 10).map { i =>
      val g: java.lang.Double =
        if (i <= 3) null
        else if (i == 4) Double.NaN
        else i.toDouble
      (i, "c", g, i % 2)
    }
    val d = rows.toDF("k", "c", "g", "lowcard")
    val got = Profile.alerts(d, cardinalityThreshold = 3,
        missingThreshold = 0.3, skewThreshold = 20.0, exact = true)
      .as[(String, String, Double)].collect().toSet
    assert(got === Set(
      ("k", "unique", 10.0),
      ("k", "high_cardinality", 10.0),
      ("c", "constant", 1.0),
      ("g", "unique", 6.0),        // 6 distinct non-null non-NaN values
      ("g", "high_cardinality", 6.0),
      ("g", "missing", 0.4)))      // NaN counts as missing

    // skewed: a 1-in-1000 spike pushes |skew| past 20; uniform does not
    val spiky = (1 to 1000).map(i => if (i == 1) 1000000.0 else 1.0)
      .toDF("x")
    val fired = Profile.alerts(spiky, skewThreshold = 20.0, exact = true)
      .as[(String, String, Double)].collect()
      .collect { case ("x", "skewed", v) => v }
    assert(fired.length === 1 && fired.head > 20.0,
      s"expected a skewed alert, got ${fired.mkString(",")}")

    // empty frame and constant numeric column: no alerts, NO crash
    // (ANSI /0 is the hazard the try_divide guards close)
    assert(Profile.alerts(d.filter(d("k") < 0), exact = true).count() === 0)
    assert(Profile.alerts(Seq(1.0, 1.0).toDF("v"), exact = true)
      .as[(String, String, Double)].collect().toSet ===
      Set(("v", "constant", 1.0)))
  }

  test("spearmanSharedRanks ≡ per-pair spearman on null-free columns " +
      "(incl. ties and a dropped constant margin); profile() with a " +
      "null-bearing column falls back to pairwise-complete per pair") {
    // 4 null-free numeric columns with ties and mixed monotonicity
    val d = Seq(
      (1.0, 1.0, 10.0, 7.0), (2.0, 4.0, 20.0, 7.0),
      (2.0, 9.0, 30.0, 7.0), (4.0, 16.0, 40.0, 7.0),
      (5.0, 25.0, 25.0, 7.0))
      .toDF("a", "b", "c", "k")
    val cols = Seq("a", "b", "c", "k")
    val shared = Profile.spearmanSharedRanks(d, cols)
    val perPair = (for {
      i <- cols.indices; j <- (i + 1) until cols.length
    } yield {
      val r = Profile.spearman(d, cols(i), cols(j)).head()
      (cols(i), cols(j)) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    }).toMap
    // NB: .toSeq first — Map.collect over tuple results would REBUILD a
    // Map and silently collapse pairs sharing a first element
    assert(shared.keySet === perPair.toSeq.collect {
      case (k, Some(_)) => k }.toSet,
      s"constant-margin pairs drop from both forms; shared=$shared " +
        s"perPair=$perPair")
    shared.foreach { case (k, v) =>
      assert(perPair(k).contains(v),
        s"pair $k: shared $v != per-pair ${perPair(k)}")
    }
    // profile(): the null-bearing column's pairs match the exact
    // per-pair pairwise-complete form (fallback), the null-free pairs
    // match the shared form — i.e. every entry equals per-pair
    val withNull = d.withColumn("g",
      org.apache.spark.sql.functions.when($"a" < 2,
        org.apache.spark.sql.functions.lit(null).cast("double"))
        .otherwise($"b" * 2))
    val p = Profile.profile(withNull, "t", exact = true)
    p.spearman.foreach { case ((x, y), v) =>
      val r = Profile.spearman(withNull, x, y).head()
      assert(!r.isNullAt(1) && r.getDouble(1) === v,
        s"profile() pair ($x,$y) diverges from per-pair spearman")
    }
    assert(p.spearman.contains(("a", "g")),
      "null-bearing pair present via fallback")
  }

  test("duplicateRowValues: most-duplicated rows listed, count desc, " +
      "all-columns tie-break, count>1 only; profile() populates " +
      "duplicates and html renders the section (PR16)") {
    val d = (Seq.fill(3)(("x", 1)) ++ Seq.fill(2)(("y", 2)) ++
      Seq.fill(2)(("a", 0)) ++ Seq(("z", 9))).toDF("s", "k")
    val got = Profile.duplicateRowValues(d, topN = 10)
      .as[(String, Int, Long)].collect().toSeq
    assert(got === Seq(("x", 1, 3L), ("a", 0, 2L), ("y", 2, 2L)),
      "count desc, then columns ascending; singleton z excluded")
    val top1 = Profile.duplicateRowValues(d, topN = 1)
      .as[(String, Int, Long)].collect().toSeq
    assert(top1 === Seq(("x", 1, 3L)))
    val p = Profile.profile(d, "t", exact = true)
    assert(p.duplicates === Seq(
      (Seq("x", "1"), 3L), (Seq("a", "0"), 2L), (Seq("y", "2"), 2L)))
    val html = Profile.toHtml(p)
    assert(html.contains("Duplicates (top 3 most duplicated rows)"))
    // duplicate-free frame: the listing groupBy is SKIPPED (gated on
    // pass 1's count) and the section is absent
    val clean = Profile.profile(Seq(("u", 1), ("v", 2)).toDF("s", "k"),
      "t", exact = true)
    assert(clean.duplicates.isEmpty)
    assert(!Profile.toHtml(clean).contains("Duplicates (top"))
  }

  test("cramersV fail-fast guard: a high-cardinality pair refuses to " +
      "build the grid; raising maxGridCells deliberately allows it") {
    val big = Seq.tabulate(300)(i => (s"a$i", s"b$i")).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Profile.cramersV(big, "a", "b", maxGridCells = 1000L).head()
    }
    assert(e.getMessage.contains("CATEGORICAL"),
      s"guard message should name the categorical contract: ${e.getMessage}")
    // raised bound: runs (300×300 grid is fine at test scale)
    val ok = Profile.cramersV(big, "a", "b", maxGridCells = 100000L).head()
    assert(ok.getLong(0) === 300L)
  }

  test("phik: Sheppard 2×2 closed form recovered, independence → 0, " +
      "perfect association clamps to 1, single-level margin → null, " +
      "symmetric in arguments, chi2 ≡ cramersV chi2 (PR17)") {
    // equal 50/50 margins, diagonal excess 0.10 → the binned bivariate
    // normal has P(diag cell) = 1/4 + asin(ρ)/2π (Sheppard 1899), so
    // φk = sin(2π · 0.10) = 0.5877852523 exactly — an end-to-end pin of
    // the quadrature + inversion against a closed form
    def table(d: Long, o: Long) = {
      val rows =
        Seq.fill(d.toInt)(("x", "p")) ++ Seq.fill(o.toInt)(("x", "q")) ++
        Seq.fill(o.toInt)(("y", "p")) ++ Seq.fill(d.toInt)(("y", "q"))
      rows.toDF("a", "b")
    }
    val sheppard = table(35, 15)
    val r = Profile.phik(sheppard, "a", "b").head()
    assert(r.getLong(0) === 100L && r.getInt(1) === 2 && r.getInt(2) === 2)
    assert(math.abs(r.getDouble(3) - 16.0) < 1e-9, "chi2 = 16 by hand")
    assert(math.abs(r.getDouble(4) - 0.587785) < 1e-4,
      s"phik should recover sin(2π·0.1), got ${r.getDouble(4)}")
    // chi2 must be the IDENTICAL cramersV arithmetic (the twin claim)
    val cv = Profile.cramersV(sheppard, "a", "b").head()
    assert(cv.getDouble(cv.fieldIndex("chi2")) === r.getDouble(3))
    // symmetry
    val rSym = Profile.phik(sheppard, "b", "a").head()
    assert(rSym.getDouble(4) === r.getDouble(4))
    // independence → 0 exactly (chi2_obs = 0 short-circuits)
    val indep = table(25, 25)
    assert(Profile.phik(indep, "a", "b").head().getDouble(4) === 0.0)
    // perfect association: chi2_obs = n = the ρ→1 reference limit → 1.0
    val perfect = table(50, 0)
    assert(Profile.phik(perfect, "a", "b").head().getDouble(4) === 1.0)
    // single-level margin → null phik
    val one = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    assert(Profile.phik(one, "a", "b").head().isNullAt(4))
    // high-cardinality guard (tighter default than cramersV)
    val big = Seq.tabulate(200)(i => (s"a$i", s"b$i")).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Profile.phik(big, "a", "b").head()
    }
    assert(e.getMessage.contains("CATEGORICAL"))
  }

  test("phikBinned: interval columns via quantile bins — Sheppard 2×2 " +
      "closed form recovered, monotone → 1, independent split → 0, " +
      "NaN/null rows dropped") {
    // parameterized 100-row construction: x = 1..100, y a permutation
    // of 1..100 placing exactly d rows in the (low-x, low-y) median
    // cell — the 2-bin contingency is [[d, 50−d], [50−d, d]] with
    // equal margins, so φk = sin(2π·(d/100 − 1/4)) by Sheppard
    def rows(d: Int): Seq[(Double, Double)] = (1 to 100).map { x =>
      val y =
        if (x <= d) x
        else if (x <= 50) x + 50
        else if (x <= 100 - d) x - (50 - d)
        else x - (50 - d)
      (x.toDouble, y.toDouble)
    }
    val sheppard = rows(35).toDF("x", "y")
    val r = Profile.phikBinned(sheppard, "x", "y", bins = 2)
    assert(r.head().getLong(0) === 100L)
    assert(math.abs(r.head().getDouble(4) - 0.587785) < 1e-4,
      s"expected sin(2π·0.1), got ${r.head().getDouble(4)}")
    // d = 25: every cell 25 → independence → 0 exactly
    val indep = rows(25).toDF("x", "y")
    assert(Profile.phikBinned(indep, "x", "y", bins = 2)
      .head().getDouble(4) === 0.0)
    // perfectly monotone at 4 bins: diagonal contingency hits the
    // theoretical χ² max n·(bins−1) → clamps to 1
    val mono = (1 to 100).map(i => (i.toDouble, i.toDouble)).toDF("x", "y")
    assert(Profile.phikBinned(mono, "x", "y", bins = 4)
      .head().getDouble(4) === 1.0)
    // NaN/null rows drop like the pairwise-complete convention
    val noisy = (rows(35) ++ Seq((Double.NaN, 1.0), (1.0, Double.NaN)))
      .toDF("x", "y")
    assert(Profile.phikBinned(noisy, "x", "y", bins = 2)
      .head().getLong(0) === 100L)
    intercept[IllegalArgumentException] {
      Profile.phikBinned(sheppard, "x", "y", bins = 1)
    }
    // the 100 TB cutpoint path (GK sketch): same statistic within
    // cutpoint-placement tolerance
    val approx = Profile.phikBinned(sheppard, "x", "y", bins = 2,
      exactCuts = false).head().getDouble(4)
    assert(math.abs(approx - 0.587785) < 0.05, s"approx-cuts phik $approx")
    // the opt-in profile() tab carries BOTH categorical and binned
    // numeric pairs (disjoint key sets) and renders the φk section
    val wide = (1 to 60).map(i =>
      (i.toDouble, i.toDouble, if (i % 2 == 0) "x" else "y",
        if (i % 2 == 0) "p" else "q"))
      .toDF("n1", "n2", "a", "b")
    val p = Profile.profile(wide, "w", exact = true, phikTab = true)
    assert(p.phik.contains(("a", "b")), "categorical pair present")
    assert(p.phik.contains(("n1", "n2")), "binned numeric pair present")
    assert(p.phik(("a", "b")) === 1.0, "perfectly associated strings")
    assert(p.phik(("n1", "n2")) === 1.0, "perfectly monotone numerics")
    assert(Profile.toHtml(p).contains("Associations (Phik"))
  }

  test("PR6 survives a pair whose CO-NON-NULL subset is constant " +
      "(ANSI divide-by-zero falls back per pair, offending pair " +
      "dropped); n_dup name collision fails loudly; approximate mode " +
      "skips the duplicates listing") {
    // a = [1,1,2], b = [5,7,null]: both globally non-constant, but the
    // co-non-null subset of (a,b) has a constant — corr's internal
    // divide throws under ANSI inside the shared one-pass agg
    val tricky = Seq((Some(1.0), Some(5.0), 1.0),
      (Some(1.0), Some(7.0), 2.0), (Some(2.0), None, 3.0))
      .toDF("a", "b", "c")
    val p = Profile.profile(tricky, "t", exact = true)
    assert(!p.correlations.contains(("a", "b")),
      "degenerate pair dropped, not crashed")
    assert(p.correlations.contains(("a", "c")),
      "healthy pairs survive the fallback")
    // n_dup collision: loud analysis-time error, not ambiguity later
    val clash = Seq(("x", 1L), ("x", 1L)).toDF("s", "n_dup")
    val e = intercept[IllegalArgumentException] {
      Profile.duplicateRowValues(clash)
    }
    assert(e.getMessage.contains("n_dup"))
    // approximate mode never pays the exact all-columns listing: the
    // gate count is sketch noise at scale, so the listing is
    // exact-mode only
    val dups = (Seq.fill(3)(("x", 1)) :+ (("y", 2))).toDF("s", "k")
    assert(Profile.profile(dups, "t", exact = false).duplicates.isEmpty)
    assert(Profile.profile(dups, "t", exact = true).duplicates.nonEmpty)
  }

  test("profile() sample ordering skips non-orderable (map) columns " +
      "instead of failing the analysis") {
    val d = Seq((2, Map("k" -> 1)), (1, Map("j" -> 2)))
      .toDF("k", "m")
    val p = Profile.profile(d, "t", exact = true, sampleN = 2)
    assert(p.sample.length === 2)
    assert(p.sample.head.head === "1", "ordered by the orderable column")
  }

  test("phikBinnedContingency: SAME binning as phikBinned (chi2/levels " +
      "identical), and the bins² guard fires at require-time") {
    val rows = (1 to 100).map { x =>
      val y = if (x <= 35) x else if (x <= 50) x + 50
              else if (x <= 65) x - 15 else x - 15
      (x.toDouble, y.toDouble)
    }
    val df = rows.toDF("x", "y")
    val pk = Profile.phikBinned(df, "x", "y", bins = 4).head()
    val ct = Profile.phikBinnedContingency(df, "x", "y", bins = 4)
    val c = ct.head()
    ct.unpersist(blocking = true)
    // shared quantileBinnedPair ⇒ the contingency layer cannot drift
    assert(c.getLong(0) === pk.getLong(0), "n identical")
    assert(c.getInt(1) === pk.getInt(1) && c.getInt(2) === pk.getInt(2),
      "levels identical")
    assert(c.getDouble(c.fieldIndex("chi2")) === pk.getDouble(3),
      "chi2 identical — same binning, same per-cell round-6 DECIMAL sum")
    // a doomed grid is rejected BEFORE any distributed work, in both
    // the rows-only face and its certificate
    val e1 = intercept[IllegalArgumentException] {
      Profile.phikBinned(df, "x", "y", bins = 200)
    }
    assert(e1.getMessage.contains("maxGridCells"))
    val e2 = intercept[IllegalArgumentException] {
      Profile.phikBinnedContingency(df, "x", "y", bins = 200)
    }
    assert(e2.getMessage.contains("maxGridCells"))
  }

  test("nullityCorrelation: hand-computed φ over planted co-missingness; " +
      "null-free and all-null columns excluded; < 2 candidates → empty; " +
      "maxCols guard") {
    // 10 rows: a null on i < 5 (5), b null on i % 2 == 0 (5, overlap 3:
    // i = 0,2,4), c never null, d always null
    val d = (0 until 10).map { i =>
      (if (i < 5) None else Some(i.toDouble),
       if (i % 2 == 0) None else Some(s"v$i"),
       i.toLong,
       None: Option[Double])
    }.toDF("a", "b", "c", "d")
    val out = Profile.nullityCorrelation(d).collect()
    assert(out.length === 1, "only the (a, b) pair is partially missing")
    val r = out.head
    assert(r.getString(0) === "a" && r.getString(1) === "b")
    assert(r.getLong(2) === 10L)
    // φ = (n·Σab − Σa·Σb)/√((n·Σa − Σa²)(n·Σb − Σb²))
    //   = (30 − 25)/√(25 · 25) = 0.2
    assert(r.getDouble(3) === 0.2)
    // fewer than two partially-missing columns → empty frame, not a crash
    val clean = Seq((1, "x"), (2, "y")).toDF("k", "s")
    assert(Profile.nullityCorrelation(clean).collect().isEmpty)
    // quadratic fan-out guard
    val wide = (0 until 3).map(i =>
      (Option.when(i == 0)(1), Option.when(i == 1)(1), Option.when(i == 2)(1)))
      .toDF("x", "y", "z")
    val e = intercept[IllegalArgumentException] {
      Profile.nullityCorrelation(wide, maxCols = 2)
    }
    assert(e.getMessage.contains("maxCols"))
  }

  test("interactions: hand-computed 2-D cells, max folds into the top " +
      "bin, null/NaN rows drop, zero-spread columns excluded") {
    // the noise rows keep y inside [0, 18] — min/max are computed over
    // the whole column, so an out-of-range y on a dropped row would
    // silently stretch the grid
    val d = ((0 to 9).map(i => (Some(i.toDouble), Some(i * 2.0), 1.0)) :+
      ((None: Option[Double], Some(4.0), 1.0)) :+
      ((Some(Double.NaN), Some(1.0), 1.0)))
      .toDF("x", "y", "k")
    val out = Profile.interactions(d, Seq("x", "y", "k"), bins = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).toSet
    // x, y perfectly linear over 10 clean rows: buckets 0,0,0,1,1,1,2,2,2
    // and x = 9 (the max) folds into bin 2 → diagonal (3, 3, 4);
    // k is constant (zero spread) → its pairs are absent entirely
    assert(out === Set(
      ("x", "y", 0, 0, 3L), ("x", "y", 1, 1, 3L), ("x", "y", 2, 2, 4L)))
    intercept[IllegalArgumentException] {
      Profile.interactions(d, Seq("x"), bins = 3)
    }
  }

  test("profile() report parity defaults: φk tab ON (ydata v4 default), " +
      "nullity + interactions sections computed and rendered") {
    val wide = (1 to 60).map(i =>
      (i.toDouble, i * 2.0,
       if (i % 2 == 0) "x" else "y", if (i % 2 == 0) "p" else "q",
       if (i % 5 == 0) None else Some(i.toDouble),
       if (i % 3 == 0) None else Some(s"s$i")))
      .toDF("n1", "n2", "a", "b", "g1", "g2")
    val p = Profile.profile(wide, "w", exact = true)
    assert(p.phik.nonEmpty, "φk renders by DEFAULT (ydata v4 parity)")
    assert(p.nullity.contains(("g1", "g2")),
      "partially-missing pair in the nullity section")
    assert(p.interactions.nonEmpty, "interactions grid present")
    // every (n1, n2) joint cell lies on the diagonal — they are linear
    assert(p.interactions(("n1", "n2")).forall { case (bx, by, _) => bx == by })
    val html = Profile.toHtml(p)
    assert(html.contains("Nullity correlation"))
    assert(html.contains("Interactions (2-D histograms)"))
    // duplicateRowValues rejects non-orderable (map) columns loudly
    val withMap = Seq((1, Map("k" -> 1))).toDF("k", "m")
    val e = intercept[IllegalArgumentException] {
      Profile.duplicateRowValues(withMap)
    }
    assert(e.getMessage.contains("orderable"))
  }

  test("profile() φk tab shared-cutpoint binning ≡ per-pair phikBinned " +
      "on null-free columns (the O(columns) path is value-identical)") {
    val wide = (1 to 80).map(i =>
      (i.toDouble, (i * 37 % 80).toDouble, (81 - i).toDouble))
      .toDF("a", "b", "c")
    val before = cachedIds
    val p = Profile.profile(wide, "w", exact = true, sampleN = 0,
      topFrequent = 0)
    for ((x, y) <- Seq(("a", "b"), ("a", "c"), ("b", "c"))) {
      val direct = Profile.phikBinned(wide, x, y, bins = 10).head()
      val expected = if (direct.isNullAt(4)) None else Some(direct.getDouble(4))
      assert(p.phik.get((x, y)) === expected,
        s"shared-cutpoint φk must equal per-pair phikBinned for ($x, $y)")
    }
    // profile() releases everything it persisted (incl. the shared
    // binned frame) — id-set delta, the assertReleased discipline
    val created = cachedIds -- before
    assertReleased(created)
  }

  test("long-form profile ≡ the per-column wide definitions on mixed types " +
      "(exact mode); approximate distinct/quartiles hash as the bare column") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val id = col("id")
    val mixed = spark.range(0, 240).select(
      when(id % 23 === 0, lit(null)).otherwise((id % 17).cast(IntegerType)).as("i"),
      (id * 1000003L % 9973).as("l"),
      when(id % 31 === 0, lit(Double.NaN)).when(id % 37 === 0, lit(-0.0))
        .when(id % 41 === 0, lit(0.0)).otherwise((id % 13) * 0.25 - 1).as("d"),
      ((id % 11) * 1.5).cast(DecimalType(38, 18)).as("dec"),
      date_add(lit("2020-01-01").cast(DateType), (id % 9).cast(IntegerType)).as("dt"),
      when(id % 5 === 0, lit(null)).otherwise(concat(lit("v"), (id % 7).cast(StringType))).as("s"),
      lit(null).cast(DoubleType).as("nothing"),
      lit(7).as("const"))
    val p = Profile.profile(mixed, "mixed", exact = true, associations = false, sampleN = 0)
    assert(p.rows === 240)
    assert(p.duplicateRows === 240 - mixed.distinct().count())
    def relClose(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
      case (Some(x), Some(y)) => x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      case (None, None) => true
      case _ => false
    }
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    mixed.schema.fields.foreach { f =>
      val c = col(f.name)
      val cp = p.profiles.find(_.name == f.name).get
      val base = mixed.agg(count(c), sum(when(c.isNull, 1L).otherwise(0L)), count_distinct(c)).head()
      assert((cp.count, cp.missing, cp.distinct) ===
        ((base.getLong(0), base.getLong(1), base.getLong(2))), f.name)
      // frequent values: stringified, count desc then value asc, nulls out
      val freq = mixed.select(c.cast(StringType).as("v")).filter(col("v").isNotNull)
        .groupBy("v").count().orderBy(col("count").desc, col("v").asc).limit(5)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(cp.frequent === freq, f.name)
      if (f.dataType.isInstanceOf[NumericType]) {
        // the wide pass's definitions: floating columns NaN-normalized,
        // every other numeric type aggregated in its own type
        val xc = if (f.dataType == DoubleType) graft.expr.Exprs.nanToNull(c) else c
        val x = xc.cast(DoubleType)
        val r = mixed.select(Seq(avg(c), stddev(c), skewness(c), kurtosis(c), min(xc), max(xc)) ++
          Seq(0.25, 0.5, 0.75).map(q => call_function("percentile", xc, lit(q))) map
          (_.cast(DoubleType)): _*).head()
        if (f.dataType != DoubleType) {   // NaN-free: the bare column's moments
          assert(relClose(cp.mean, opt(r, 0)), s"${f.name} mean")
          assert(relClose(cp.stddev, opt(r, 1)), s"${f.name} std")
          assert(relClose(cp.skewness, opt(r, 2)), s"${f.name} skew")
          assert(relClose(cp.kurtosis, opt(r, 3)), s"${f.name} kurt")
        }
        assert((cp.min, cp.max) === ((opt(r, 4), opt(r, 5))), f.name)
        assert(Seq(cp.p25, cp.p50, cp.p75) === Seq(opt(r, 6), opt(r, 7), opt(r, 8)), f.name)
        val hist = (cp.min, cp.max) match {
          case (Some(lo), Some(hi)) if hi > lo =>
            val wb = width_bucket(x, lit(lo), lit(hi), lit(10))
            val counts = mixed.select(when(wb > 10, lit(10L)).otherwise(wb).as("b"))
              .filter(col("b").isNotNull).groupBy("b").count()
              .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
            (1 to 10).map(b => counts.getOrElse(b.toLong, 0L))
          case _ => Seq.empty
        }
        assert(cp.histogram === hist, f.name)
      } else assert(cp.mean.isEmpty && cp.histogram.isEmpty, f.name)
    }
    // NaN-bearing double: moments over the non-NaN values
    val dp = p.profiles.find(_.name == "d").get
    val dr = mixed.filter(!isnan(col("d"))).agg(avg("d"), stddev("d"), skewness("d"), kurtosis("d")).head()
    assert(relClose(dp.mean, opt(dr, 0)) && relClose(dp.stddev, opt(dr, 1)) &&
      relClose(dp.skewness, opt(dr, 2)) && relClose(dp.kurtosis, opt(dr, 3)))
    // approximate mode: HLL sees the same hashes as over the bare column
    // (an int widened to long would not), and the shared quartile sketch
    // answers as three separate ones
    val ap = Profile.profile(mixed, "mixed", associations = false, sampleN = 0)
    Seq("i", "l", "d", "dt", "s", "nothing", "const").foreach { n =>
      assert(ap.profiles.find(_.name == n).get.distinct ===
        mixed.agg(approx_count_distinct(col(n))).head().getLong(0), n)
    }
    Seq("i", "l").foreach { n =>
      val r = mixed.select(Seq(0.25, 0.5, 0.75).map(q =>
        percentile_approx(col(n), lit(q), lit(10000)).cast(DoubleType)): _*).head()
      val cp = ap.profiles.find(_.name == n).get
      assert(Seq(cp.p25, cp.p50, cp.p75) === Seq(opt(r, 0), opt(r, 1), opt(r, 2)), n)
    }
  }
}
