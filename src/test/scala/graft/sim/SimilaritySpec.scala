package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Recall checks for the ANN path vs the exact brute-force baseline. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  // Deterministic pseudo-random gaussian vectors (seeded per id).
  private def vec(i: Int): Array[Float] = {
    val rnd = new scala.util.Random(i)
    Array.fill(dim)(rnd.nextGaussian().toFloat)
  }

  private lazy val corpus = (0 until 60).map(i => (i.toLong, vec(i), 0))
  // Planted exact copies: id+10000 duplicates vector id.
  private lazy val planted = (0 until 10).map(i => ((i + 10000).toLong, vec(i), 0))

  private def df = (corpus ++ planted).toDF("vec_id", "embedding", "label")

  test("cosine: self = 1, orthogonal = 0, zero vector safe") {
    val d = Seq(
      (Array(1f, 0f), Array(1f, 0f)),
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
      .select(round(Similarity.cosine(col("a"), col("b")), 6).as("c"))
      .as[Double].collect()
    assert(d.sameElements(Array(1.0, 0.0, 0.0)))
  }

  test("bruteForceTopK ranks the planted duplicate first for every query") {
    val queries = df.filter(col("vec_id") < 10)
    val top = Similarity.bruteForceTopK(df, queries, k = 1)
      .select("query_id", "cand_id", "cosine").as[(Long, Long, Double)].collect()
    assert(top.length === 10)
    top.foreach { case (q, c, cos) =>
      assert(c === q + 10000, s"query $q top candidate $c")
      assert(cos === 1.0)
    }
  }

  test("LSH ANN finds every planted duplicate (identical sig ⇒ same buckets)") {
    val queries = df.filter(col("vec_id") < 10)
    val res = Similarity.lshTopK(df, queries, k = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    (0 until 10).foreach { q =>
      assert(res.contains((q.toLong, (q + 10000).toLong)),
        s"planted dup of $q missed by LSH")
    }
  }

  test("LSH ANN recall@5 vs brute force ≥ 0.6 on organic neighbors") {
    val queries = df.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(df, queries, k = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.lshTopK(df, queries, k = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall $recall")
  }

  test("lshTopK with bits = 0 (universal bucket) ≡ brute force exactly") {
    val queries = df.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(df, queries, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val lsh = Similarity.lshTopK(df, queries, k = 5, bits = 0, bands = 1)
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    assert(lsh === exact)
  }

  test("lshTopK validates bits/bands compatibility") {
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(df, df, k = 1, bits = 10, bands = 4) // 10 % 4 != 0
    }
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(df, df, k = 1, bits = -4, bands = 4) // bits < 0
    }
    // bits = 0 is the universal-bucket exactness mode, not an error
    assert(Similarity.lshTopK(df, df, k = 1, bits = 0, bands = 1).columns.toSeq ===
      Seq("query_id", "cand_id", "cosine", "rank"))
  }

  test("portable signatures plan: ONE shuffle, plane table as literals (no per-row md5)") {
    val plan = Similarity.rhpSignatures(df, "vec_id", "embedding", bits = 8)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size === 1,
      s"posexplode → single aggregate shuffle expected:\n$plan")
    assert(!plan.contains("md5"), s"plane table must be precomputed literals:\n$plan")
  }

  test("recallAtK: all-integer ratio; a query the ANN lost still counts k misses") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "cand_id")
    val ann = Seq((1L, 10L), (1L, 99L)).toDF("query_id", "cand_id") // query 2 lost
    val row = Similarity.recallAtK(ann, exact, k = 2)
      .as[(Int, Long, Long, Double)].head()
    assert(row === ((2, 2L, 1L, 0.25)))
    // and perfect overlap is exactly 1.0
    val full = Similarity.recallAtK(exact, exact, k = 2)
      .select("mean_recall").as[Double].head()
    assert(full === 1.0)
    intercept[IllegalArgumentException] { Similarity.recallAtK(ann, exact, k = 0) }
  }

  test("cosineNearDups at 0.95 returns exactly the planted pairs") {
    val out = Similarity.cosineNearDups(df, threshold = 0.95)
    val pairs = out.select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    out.unpersist(blocking = true) // caller obligation — the result is persisted
    assert(pairs.length === 10)
    pairs.foreach { case (a, b, c) =>
      assert(b === a + 10000 && c === 1.0)
    }
  }

  test("cosineNearDups scans the corpus ONCE (signature frame persisted)") {
    val acc = spark.sparkContext.longAccumulator("graft_rhp_scans")
    val tick = udf { (id: Long) => acc.add(1); true }
    val counted = df.filter(tick(col("vec_id")))
    val out = Similarity.cosineNearDups(counted, threshold = 0.95)
    out.collect()
    out.unpersist(blocking = true)
    val n = (corpus.length + planted.length).toLong
    assert(acc.value === n, s"corpus evaluated ${acc.value / n.toDouble}x, expected 1x")
  }

  test("bucket-occupancy guard errors fast on a constant embedding column") {
    // A rogue constant column sends every row to one bucket per band and
    // the candidate self-join degenerates to O(n²) — the guard must error
    // immediately (not launch the join) and must release the caches it
    // aborts in front of.
    val before = cachedIds
    val constant = (0 until 300).map(i => (i.toLong, Array.fill(dim)(1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineNearDups(constant, threshold = 0.95, maxBucketOccupancy = 50)
    }
    assert(e.getMessage.contains("cosineNearDups"))
    assert(e.getMessage.contains("maxBucketOccupancy=50"))
    assert((cachedIds -- before).isEmpty,
      "guard abort must leave no cached frames behind")
    // and the gate stays quiet on the normal fixture at the same limit
    val ok = Similarity.cosineNearDups(df, threshold = 0.95, maxBucketOccupancy = 50)
    assert(ok.count() === 10)
    ok.unpersist(blocking = true)
  }

  test("groupCentroids: component-wise means in position order, per-group counts") {
    val d = Seq(
      (1L, Array(1f, 2f, 3f), 0),
      (2L, Array(3f, 4f, 5f), 0),
      (3L, Array(10f, 20f, 30f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.groupCentroids(d, "label")
      .as[(Int, Long, Seq[Double])].collect().sortBy(_._1)
    assert(out(0) === ((0, 2L, Seq(2.0, 3.0, 4.0))))
    assert(out(1) === ((1, 1L, Seq(10.0, 20.0, 30.0))))
  }

  test("groupCentroids is partition-count independent") {
    val d = df
    def of(parts: Int) = Similarity.groupCentroids(d.repartition(parts), "label")
      .as[(Int, Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(of(2) === of(7))
  }

  test("centroidOutliers plan: centroids broadcast back — scoring joins without shuffling the corpus") {
    val plan = Similarity.centroidOutliers(df, "label", "vec_id", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid join must broadcast the |groups|-row side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle for the centroid join:\n$plan")
  }

  test("centroidOutliers: a planted opposite-direction vector ranks most anomalous") {
    // group 5: tight cluster around (1, 0, ...) plus one inverted vector
    val cluster = (0 until 20).map { i =>
      val v = vec(i).map(x => (x * 0.05f)); v(0) = 1f
      ((100 + i).toLong, v, 5)
    }
    val outlier = {
      val v = Array.fill(dim)(0f); v(0) = -1f
      (999L, v, 5)
    }
    val d = (cluster :+ outlier).toDF("vec_id", "embedding", "label")
    val top = Similarity.centroidOutliers(d, "label", "vec_id", k = 3)
      .filter(col("rank") === 1)
      .select("vec_id", "cosine").as[(Long, Double)].head()
    assert(top._1 === 999L)
    assert(top._2 < 0, s"inverted vector should score negative, got ${top._2}")
  }

  test("cosineNearDups releases corpus-sized caches (bounded residency)") {
    // Same contract as the Dedup family: after the operator returns, only
    // the pair-sized result may remain cached; the signature intermediate
    // is unpersisted inside the operator. Id-set delta accounting, and a
    // test-unique label value keeps cache-manager plan-dedup from turning
    // the operator's persist into a no-op against an earlier cached plan.
    val before = cachedIds
    val probe = (corpus ++ planted).map { case (i, v, l) => (i, v, l + 7) }
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.cosineNearDups(probe, threshold = 0.95)
    assert((cachedIds -- before).size === 1,
      "only the pair result should stay cached after cosineNearDups")
    out.unpersist(blocking = true)
    assert((cachedIds -- before).isEmpty,
      "caller unpersist returns the session to its cache baseline")
  }

  test("rpTopK with shortlist >= |corpus| ≡ brute force exactly") {
    // The sim_rp_exact pin: every candidate survives the reduced-space
    // shortlist, so the rerank sees the full corpus and the JL reduction
    // drops out of the result entirely.
    val queries = df.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(df, queries, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val rp = Similarity.rpTopK(df, queries, k = 5,
        shortlist = Int.MaxValue)
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    assert(rp === exact)
  }

  test("hardNegatives: same-label nearest excluded, different-label ranked") {
    val d = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(1f, 0f), 0),      // exact copy, SAME label → never mined
      (2L, Array(0.8f, 0.6f), 1),  // cos 0.8
      (3L, Array(0f, 1f), 1),      // cos 0
      (4L, Array(0.6f, 0.8f), 2))  // cos 0.6
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(d, d.filter(col("vec_id") === 0), k = 2)
      .orderBy("rank").select("cand_id", "cosine", "rank")
      .as[(Long, Double, Int)].collect().toSeq
    assert(out === Seq((2L, 0.8, 1), (4L, 0.6, 2)),
      s"same-label near-duplicate must be excluded: $out")
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(d, d, k = 0)
    }
  }

  test("stored RP index (parquet round-trip) probes identically to in-memory") {
    val queries = df.filter(col("vec_id") < 10)
    val inMem = Similarity.rpTopK(df, queries, k = 5, shortlist = 20)
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val dir = java.nio.file.Files.createTempDirectory("graft_rp_idx").toString
    Similarity.rpReduce(df, "vec_id", "embedding", dimOut = 8, seed = 42)
      .write.mode("overwrite").parquet(s"$dir/reduced")
    val stored = Similarity.rpProbe(
        spark.read.parquet(s"$dir/reduced"), queries, k = 5, shortlist = 20)
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    assert(stored === inMem)
    assert(inMem.nonEmpty)
  }

  test("filtered RP ANN: predicate below the SHORTLIST — at shortlist = " +
      "|corpus| the k survivors equal brute force over the matching slice") {
    val tagged = df.withColumn("tag",
      pmod(col("vec_id"), lit(3L)).cast("int"))
    val reduced = Similarity.rpReduce(tagged, "vec_id", "embedding",
      dimOut = 8, seed = 42, keepCols = Seq("tag"))
    val queries = df.filter(col("vec_id") < 5)
    val got = Similarity.rpProbe(reduced, queries, k = 5,
        shortlist = Int.MaxValue, dimOut = 8, seed = 42,
        filter = Some(col("tag") === 1))
      .select("query_id", "cand_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, c, _, _) =>
      assert(c % 3 === 1, s"candidate $c violates tag = 1") }
    for (q <- 0L until 5L) {
      val mine = got.filter(_._1 == q).sortBy(_._4).map(_._2).toSeq
      val brute = Similarity.bruteForceTopK(
          tagged.filter(col("tag") === 1 && col("vec_id") =!= q)
            .select("vec_id", "embedding"),
          df.filter(col("vec_id") === q), k = 5)
        .orderBy(col("rank")).select("cand_id").as[Long].collect().toSeq
      assert(mine === brute, s"query $q: $mine vs brute $brute")
    }
  }

  test("filtered RP over a STORED reduced frame: the attribute equality " +
      "is pushed into the parquet scan as a data filter") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tagged = df.withColumn("tag",
      pmod(col("vec_id"), lit(3L)).cast("int"))
    val dir = java.nio.file.Files.createTempDirectory("graft_rp_filt").toString
    Similarity.rpReduce(tagged, "vec_id", "embedding",
        dimOut = 8, seed = 42, keepCols = Seq("tag"))
      .write.mode("overwrite").parquet(s"$dir/reduced")
    val probe = Similarity.rpProbe(
      spark.read.parquet(s"$dir/reduced"), df.filter(col("vec_id") < 3),
      k = 5, shortlist = 20, dimOut = 8, seed = 42,
      filter = Some(col("tag") === 1))
    probe.collect()
    val scans = allPlanNodes(probe.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
      .filter(_.output.exists(_.name == "tag")) // the reduced-frame scan
    assert(scans.nonEmpty, "no scan over the stored reduced frame found")
    assert(scans.exists(_.dataFilters.exists(_.references.exists(_.name == "tag"))),
      s"tag predicate not pushed to the scan; dataFilters: " +
        s"${scans.map(_.dataFilters).mkString("; ")}")
  }

  test("RP ANN finds every planted duplicate (identical vec ⇒ identical reduction)") {
    val queries = df.filter(col("vec_id") < 10)
    val ann = Similarity.rpTopK(df, queries, k = 5)
    val res = ann.select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    (0 until 10).foreach { q =>
      assert(res.contains((q.toLong, (q + 10000).toLong)),
        s"planted dup of $q missed by RP shortlist")
    }
    // and the organic neighbors: the LSH recall@5 floor, for the JL shortlist
    val recall = Similarity.recallAtK(ann,
        Similarity.bruteForceTopK(df, queries, k = 5), k = 5)
      .select("mean_recall").as[Double].head()
    assert(recall >= 0.6, s"RP recall $recall")
  }

  test("recallCurve: hand-computed hits per cutoff; perfect overlap = 1.0 at every k") {
    // exact: q1 ranks (10,11,12); q2 ranks (20,21,22)
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3))
      .toDF("query_id", "cand_id", "rank")
    // ann finds q1's top-1 at rank 2 and 11 at rank 1; misses 12; q2 exact
    val ann = Seq((1L, 11L, 1), (1L, 10L, 2), (1L, 99L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3))
      .toDF("query_id", "cand_id", "rank")
    val out = Similarity.recallCurve(ann, exact, Seq(1, 3))
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // k=1: hits need both ranks ≤ 1 → only (2,20): 1/(2·1) = 0.5
    // k=3: q1 contributes (10,max2),(11,max2); q2 all three → 5/(2·3)
    assert(out === Seq((1, 2L, 1L, 0.5), (3, 2L, 5L, 0.833333)))
    val perfect = Similarity.recallCurve(exact, exact, Seq(1, 2, 3))
      .select("mean_recall").as[Double].collect()
    assert(perfect.forall(_ === 1.0))
    intercept[IllegalArgumentException] {
      Similarity.recallCurve(ann, exact, Seq.empty)
    }
  }

  test("mmrSelect: hand-computed greedy order — dup penalized to last at λ=0.3") {
    // q=[1,0]; two exact copies of q (ids 1, 2), a mid vector (rel 0.8,
    // sim-to-copy 0.8), an orthogonal vector (rel 0, sim-to-copy 0).
    // λ=0.3: round1 picks copy id 1 (rel 1 → 0.3); round2 the other copy
    // scores 0.3−0.7 = −0.4, mid 0.24−0.56 = −0.32, orthogonal 0 → picks
    // orthogonal; round3 mid (−0.32) beats copy (−0.4); copy last.
    val d = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0f), 0), (2L, Array(1f, 0f), 0),
      (3L, Array(0.8f, 0.6f), 0), (4L, Array(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.mmrSelect(d, d.filter(col("vec_id") === 0), k = 4,
        lambda = 0.3)
      .orderBy("rank").select("rank", "cand_id").as[(Int, Long)].collect().toSeq
    assert(out.map(_._2) === Seq(1L, 4L, 3L, 2L))
    // a multi-row query frame picks the LOWEST id deterministically —
    // same greedy order as querying id 0 explicitly
    val multi = Similarity.mmrSelect(d, d.filter(col("vec_id") <= 2), k = 4,
        lambda = 0.3)
      .orderBy("rank").select("cand_id").as[Long].collect().toSeq
    assert(multi === Seq(1L, 4L, 3L, 2L),
      s"multi-row query frame must select lowest id (0) as query: $multi")
  }

  test("mmrSelect at λ=1 ≡ pure relevance ranking (brute-force order)") {
    val queries = df.filter(col("vec_id") === 0)
    val mmr = Similarity.mmrSelect(df, queries, k = 5, lambda = 1.0)
      .orderBy("rank").select("cand_id").as[Long].collect().toSeq
    val exact = Similarity.bruteForceTopK(df, queries, k = 5)
      .orderBy("rank").select("cand_id").as[Long].collect().toSeq
    assert(mmr === exact)
    intercept[IllegalArgumentException] {
      Similarity.mmrSelect(df, queries, k = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrSelect(df, queries, k = 1, lambda = 1.5)
    }
  }

  test("mmrSelect stops early on an exhausted corpus and releases its cache") {
    val before = cachedIds
    val tiny = Seq((0L, Array(1f, 0f), 0), (1L, Array(0.5f, 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.mmrSelect(tiny, tiny.filter(col("vec_id") === 0), k = 5)
    assert(out.count() === 1)
    assert((cachedIds -- before).isEmpty,
      "mmrSelect must unpersist its relevance frame on exit")
  }

  test("knnClassify: separated clusters classify exactly; vote tie breaks to smaller label") {
    // cluster 0 near [1,0], cluster 1 near [0,1]; queries are members, so
    // their 3 neighbors are in-cluster and every prediction is exact.
    def jitter(i: Int, base: (Float, Float)): Array[Float] = {
      val r = new scala.util.Random(i)
      Array(base._1 + r.nextFloat() * 0.01f, base._2 + r.nextFloat() * 0.01f)
    }
    val d = ((0 until 10).map(i => (i.toLong, jitter(i, (1f, 0f)), 0)) ++
      (10 until 20).map(i => (i.toLong, jitter(i, (0f, 1f)), 1)))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(d, d, k = 3)
      .select("query_id", "hit").as[(Long, Int)].collect()
    assert(out.length === 20)
    assert(out.forall(_._2 === 1), s"misclassified: ${out.filter(_._2 == 0).toSeq}")
    // 2-2 vote split (k=4, two from each cluster for a boundary query):
    // tie goes to the SMALLER label deterministically
    val tiny = Seq(
      (0L, Array(1f, 1f), 9), (1L, Array(1f, 0.9f), 1), (2L, Array(1f, 1.1f), 1),
      (3L, Array(0.9f, 1f), 0), (4L, Array(1.1f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    val p = Similarity.knnClassify(tiny, tiny.filter(col("vec_id") === 0), k = 4)
      .select("pred").as[Int].head()
    assert(p === 0, "2-2 tie must break to the smaller label")
    intercept[IllegalArgumentException] {
      Similarity.knnClassify(tiny, tiny, k = 0)
    }
  }

  test("rpTopK validates shortlist >= k > 0; reductions carry dimOut components") {
    intercept[IllegalArgumentException] {
      Similarity.rpTopK(df, df, k = 5, shortlist = 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.rpTopK(df, df, k = 0)
    }
    val r = Similarity.rpReduce(df, "vec_id", "embedding", dimOut = 8)
      .select(size(col("r"))).as[Int].head()
    assert(r === 8)
  }
}
