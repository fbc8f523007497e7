package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-duplicate recall checks for the LSH dedup family — the
  * verification the rows-only CORRECTNESS entries rely on. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Deterministic corpus: 40 docs of ~60 "words" each, plus
  //   - near-dups: id+1000 = same text with a short appended tail
  //   - exact dups: id+2000 = identical text
  private val words =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi".split(" ")
  private def doc(i: Int): String = {
    val rnd = new scala.util.Random(i) // seeded per doc — deterministic
    s"document number $i " +
      (0 until 60).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
  }

  private lazy val base = (0 until 40).map(i => (i.toLong, doc(i)))
  private lazy val nearDups = (0 until 40).map(i => ((i + 1000).toLong, doc(i) + " tail bit"))
  private lazy val exactDups = (0 until 40).map(i => ((i + 2000).toLong, doc(i)))

  test("exactGroups/exactDedup collapse identical normalized text") {
    val df = (base ++ exactDups).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "text", "doc_id")
    assert(groups.count() === 40)
    assert(groups.filter(col("group_size") === 2).count() === 40)
    val kept = Dedup.exactDedup(df, "text", "doc_id")
    assert(kept.count() === 40)
    assert(kept.filter(col("doc_id") >= 2000).count() === 0) // keeps min id
  }

  test("MinHash-LSH recall = 1.0 on planted near-dups at threshold 0.6") {
    val df = (base ++ nearDups).toDF("doc_id", "text")
    val out = Dedup.minHashNearDups(df, "text", "doc_id",
      threshold = 0.6, bands = 16, rowsPerBand = 4)
    val pairs = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    out.unpersist(blocking = true) // caller obligation — the result is persisted
    val found = (0 until 40).count(i => pairs.contains((i.toLong, (i + 1000).toLong)))
    assert(found === 40, s"recall ${found / 40.0} < 1.0; pairs found: ${pairs.size}")
  }

  test("MinHash-LSH emits no pair below the exact-Jaccard threshold (precision by construction)") {
    val df = (base ++ nearDups).toDF("doc_id", "text")
    val out = Dedup.minHashNearDups(df, "text", "doc_id", threshold = 0.6)
    val bad = out.filter(col("jaccard") < 0.6).count()
    out.unpersist(blocking = true)
    assert(bad === 0)
  }

  test("SimHash: identical docs at distance 0, near-dups within 3, recall via 16-bit blocks") {
    val df = (base ++ exactDups).toDF("doc_id", "text")
    val out = Dedup.simHashNearDups(df, "text", "doc_id", maxDist = 3)
    val pairs = out.select("id_a", "id_b", "hamming").collect()
    out.unpersist(blocking = true)
    val planted = pairs.filter(r => r.getLong(1) === r.getLong(0) + 2000)
    assert(planted.length === 40)
    assert(planted.forall(_.getInt(2) === 0))
  }

  test("signatureNearDups finds pairs at every Hamming distance ≤ maxDist (pigeonhole recall)") {
    // hand-crafted 64-bit signatures at known distances from a base value:
    // distance 1-3 pairs must ALL surface (the 16-bit block decomposition
    // guarantees a shared block for distance ≤ 3); distance 4 spread one
    // bit per block shares NO block and is legitimately out of contract
    val base = 0x0123456789ABCDEFL
    def flip(bits: Int*): Long = bits.foldLeft(base)((v, b) => v ^ (1L << b))
    val sigs = Seq(
      (0L, base),
      (1L, flip(0)),             // distance 1
      (2L, flip(0, 17)),         // distance 2, two blocks
      (3L, flip(0, 17, 33)),     // distance 3, three blocks
      (4L, flip(0, 17, 33, 49))) // distance 4, one bit in EVERY block
      .toDF("id", "sig")
    val out = Dedup.signatureNearDups(sigs, maxDist = 3,
      maxBucketOccupancy = 0L, "test", "n/a")
    val got = out.select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    out.unpersist(blocking = true)
    assert(got.contains((0L, 1L, 1)), "distance-1 pair missed")
    assert(got.contains((0L, 2L, 2)), "distance-2 pair missed")
    assert(got.contains((0L, 3L, 3)), "distance-3 pair missed")
    assert(!got.exists(p => p._1 === 0L && p._2 === 4L),
      "distance-4 all-blocks-differ pair is outside the pigeonhole contract")
    // pairs among the flipped variants also obey the threshold
    assert(got.forall(_._3 <= 3))
  }

  test("minHashNearDups scans the corpus ONCE (shared shingle frame is reused)") {
    // Empirical single-scan guard: a row-counting UDF below the shingle
    // explosion fires once per doc per evaluation of the source. If the
    // signature and verification paths ever stop sharing the (id, h)
    // exchange, the count doubles — independent of AQE plan rendering.
    val acc = spark.sparkContext.longAccumulator("graft_doc_scans")
    val tick = udf { (id: Long) => acc.add(1); true }
    val df = (base ++ nearDups).toDF("doc_id", "text").filter(tick(col("doc_id")))
    val out = Dedup.minHashNearDups(df, "text", "doc_id", threshold = 0.6)
    out.collect()
    out.unpersist(blocking = true)
    assert(acc.value === (base.length + nearDups.length).toLong,
      s"corpus evaluated ${acc.value / (base.length + nearDups.length).toDouble}x, expected 1x")
  }

  test("simHashNearDups scans the corpus ONCE (signature frame persisted)") {
    val acc = spark.sparkContext.longAccumulator("graft_simhash_scans")
    val tick = udf { (id: Long) => acc.add(1); true }
    val df = (base ++ exactDups).toDF("doc_id", "text").filter(tick(col("doc_id")))
    val out = Dedup.simHashNearDups(df, "text", "doc_id", maxDist = 3)
    out.collect()
    out.unpersist(blocking = true)
    assert(acc.value === (base.length + exactDups.length).toLong,
      s"corpus evaluated ${acc.value / (base.length + exactDups.length).toDouble}x, expected 1x")
  }

  test("near-dup operators release corpus-sized caches (bounded residency)") {
    // Repeated invocations in a long-lived session must not stack cached
    // corpus-sized frames: after the operator returns, only the pair-sized
    // RESULT may remain cached; the shingle/signature intermediates are
    // unpersisted inside the operator. Accounting is by RDD-id DELTA (not
    // absolute counts) so caches legitimately left by other suites on the
    // shared session don't skew the arithmetic, and the corpus text is
    // unique to this test so cache-manager plan-dedup against an earlier
    // identical plan can't turn the operator's persist into a no-op.
    val before = cachedIds
    val df = (base ++ nearDups).map { case (i, t) => (i, t + " residency probe") }
      .toDF("doc_id", "text")
    val out = Dedup.minHashNearDups(df, "text", "doc_id", threshold = 0.6)
    assert((cachedIds -- before).size === 1,
      "only the pair result should stay cached after minHashNearDups")
    out.unpersist(blocking = true)
    val out2 = Dedup.simHashNearDups(df, "text", "doc_id", maxDist = 3)
    assert((cachedIds -- before).size === 1,
      "only the pair result should stay cached after simHashNearDups")
    out2.unpersist(blocking = true)
    assert((cachedIds -- before).isEmpty,
      "caller unpersist returns the session to its cache baseline")
  }

  test("minHashSigArray (per-row expression) ≡ minHashSignatures (aggregate path)") {
    // The streaming suppress keys on the per-row form; its subset-of-batch
    // guarantee rests on the two constructions being value-identical.
    val df = (base ++ nearDups).toDF("doc_id", "text")
    val agg = Dedup.minHashSignatures(df, "text", "doc_id").toDF("id", "sig_agg")
    val row = df.select(col("doc_id").as("id"),
      Dedup.minHashSigArray(col("text")).as("sig_row"))
    val joined = agg.join(row, "id")
    // anti-vacuous: the join must cover every doc, or 0 mismatches could
    // mean 0 joined rows (e.g. a renamed id column) rather than equality
    assert(joined.count() === 80)
    assert(joined.filter(col("sig_agg") =!= col("sig_row")).count() === 0)
  }

  test("bucket-occupancy guard errors fast on a degenerate all-identical corpus") {
    // Identical documents share every band bucket, so the candidate join
    // would be O(n²); the guard errors before launching it, names the
    // remedy, and releases the caches it aborts in front of.
    val before = cachedIds
    val degenerate = (0 until 300)
      .map(i => (i.toLong, "the very same document text, repeated verbatim in every row"))
      .toDF("doc_id", "text")
    val eMin = intercept[IllegalArgumentException] {
      Dedup.minHashNearDups(degenerate, "text", "doc_id",
        threshold = 0.6, maxBucketOccupancy = 50)
    }
    assert(eMin.getMessage.contains("minHashNearDups"))
    assert(eMin.getMessage.contains("exactDedup"))
    val eSim = intercept[IllegalArgumentException] {
      Dedup.simHashNearDups(degenerate, "text", "doc_id", maxBucketOccupancy = 50)
    }
    assert(eSim.getMessage.contains("simHashNearDups"))
    assert((cachedIds -- before).isEmpty,
      "guard abort must leave no cached frames behind")
    // the gate stays quiet on the planted-dup fixture at the same limit
    // (bucket occupancy there is pair-scale, far under 50)
    val ok = Dedup.minHashNearDups((base ++ nearDups).toDF("doc_id", "text"),
      "text", "doc_id", threshold = 0.6, maxBucketOccupancy = 50)
    assert(ok.count() > 0)
    ok.unpersist(blocking = true)
  }

  test("incrementalDedup: drops batch rows known to the reference, dedups within batch, keeps columns") {
    val reference = Seq(
      (1L, "alpha doc", "web"),
      (2L, "beta doc", "web")).toDF("doc_id", "text", "source")
    val batch = Seq(
      (10L, "alpha   DOC", "crawl"),  // dup of ref 1 after normalization
      (11L, "gamma doc", "crawl"),    // genuinely new
      (12L, "gamma doc", "crawl"),    // in-batch dup of 11 — keep min id
      (13L, "delta doc", "crawl")).toDF("doc_id", "text", "source")
    val out = Dedup.incrementalDedup(batch, reference, "text", "doc_id")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(11L, 13L))
    assert(out.forall(_._3 == "crawl")) // payload columns survive
    // an empty reference reduces to plain within-batch exact dedup
    val solo = Dedup.incrementalDedup(batch,
      reference.filter(lit(false)), "text", "doc_id")
    assert(solo.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(10L, 11L, 13L))
  }

  test("duplicateSpans: shared windows excised, unique text kept, short/empty docs whole") {
    val boiler = "subscribe to our newsletter for more updates" // 7 tokens
    val docs = Seq(
      (1L, s"alpha beta gamma $boiler tail one"),
      (2L, s"$boiler delta epsilon zeta eta theta"),
      (3L, "totally unique text with no shared windows at all"),
      (4L, "tiny doc"), // shorter than n → no windows, never marked
      (5L, ""),
      (6L, "twin twin twin twin twin twin"),
      (7L, "twin twin twin twin twin twin"),
      (8L, "solo   doc  with    messy WS but still unique throughout")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "text", "doc_id", n = 5)
      .as[(Long, Long, Long, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    // boilerplate spans 7 tokens in each carrier; the unique remainder survives
    assert(out(1L) === ((1L, 12L, 7L, 0.583333, "alpha beta gamma tail one")))
    assert(out(2L) === ((2L, 12L, 7L, 0.583333, "delta epsilon zeta eta theta")))
    // clean doc: untouched, single-space normalized rejoin
    assert(out(3L)._3 === 0L && out(3L)._5 === "totally unique text with no shared windows at all")
    assert(out(4L) === ((4L, 2L, 0L, 0.0, "tiny doc")))
    assert(out(5L) === ((5L, 0L, 0L, 0.0, "")))
    // exact twins: every position covered, cleaned to empty
    assert(out(6L) === ((6L, 6L, 6L, 1.0, "")))
    assert(out(7L) === ((7L, 6L, 6L, 1.0, "")))
    // whitespace runs collapse in the rebuild (same normalization as tokens)
    assert(out(8L)._5 === "solo doc with messy WS but still unique throughout")
    // within-doc repeats alone are NOT cross-document duplicates
    val solo = Dedup.duplicateSpans(
      Seq((9L, "loop loop loop loop loop loop loop")).toDF("doc_id", "text"),
      "text", "doc_id", n = 5).as[(Long, Long, Long, Double, String)].head()
    assert(solo._3 === 0L, "single doc can have no cross-doc span")
  }

  test("contaminationOverlap flags docs sharing benchmark n-grams, spares clean docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated words describing nothing shared at all"),
      (3L, "we observed the quick brown fox jumps over fences daily"),
      (4L, "short doc")).toDF("doc_id", "text")
    val bench = Seq((99L, "the quick brown fox jumps over everything")).toDF("doc_id", "text")
    val out = Dedup.contaminationOverlap(docs, "text", "doc_id", bench, "text",
      n = 5, minOverlap = 1L).as[(Long, Long)].collect().toMap
    // docs 1 and 3 both share "the quick brown fox jumps" and
    // "quick brown fox jumps over"; 2 and 4 are clean
    assert(out.keySet === Set(1L, 3L))
    assert(out(1L) === 2L && out(3L) === 2L)
    // a benchmark member inside the corpus flags itself with all its grams
    val self = Dedup.contaminationOverlap(
      docs.unionByName(bench), "text", "doc_id", bench, "text", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(self(99L) === 3L) // 7 tokens → 3 distinct 5-grams
  }

  test("bloomContaminationOverlap ≡ contaminationOverlap (pure prune, no lost flags)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated words describing nothing shared at all"),
      (3L, "we observed the quick brown fox jumps over fences daily"),
      (4L, "short doc")).toDF("doc_id", "text")
    val bench = Seq((99L, "the quick brown fox jumps over everything")).toDF("doc_id", "text")
    val exact = Dedup.contaminationOverlap(docs, "text", "doc_id", bench, "text",
      n = 5, minOverlap = 1L).as[(Long, Long)].collect().toMap
    // a tiny filter maximizes false-positive pressure on the prune —
    // verification must still produce the identical flag set and counts
    val bloom = Dedup.bloomContaminationOverlap(docs, "text", "doc_id", bench, "text",
      n = 5, minOverlap = 1L, expectedItems = 10L, fpp = 0.2)
      .as[(Long, Long)].collect().toMap
    assert(bloom === exact)
    assert(bloom.keySet === Set(1L, 3L))
  }

  test("consecutiveTokenJaccardPairs ≡ per-pair ngramJaccard expression") {
    val df = (base ++ nearDups).toDF("doc_id", "text")
    val out = Dedup.consecutiveTokenJaccardPairs(df, "text", "doc_id", threshold = 0.2)
    val fast = out.select(col("id_a"), col("id_b"), round(col("jaccard"), 6))
      .as[(Long, Long, Double)].collect().toSet
    out.unpersist(blocking = true)
    val shifted = df.select((col("doc_id") - 1).as("id_a"), col("text").as("tb"))
    val slow = df.join(shifted, col("doc_id") === col("id_a"))
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"),
        round(Dedup.ngramJaccard(col("text"), col("tb"), 1), 6).as("j"))
      .filter(col("j") >= 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(fast === slow)
    assert(fast.nonEmpty, "fixture should produce at least one qualifying pair")
  }

  test("duplicateClusters: transitive chains collapse, singletons stay, disjoint components separate") {
    val nodes = (1L to 12L).toDF("id")
    // component {1,2,3,4} as a path (diameter 3 — needs real propagation),
    // component {6,7,8} as a star, 5 and 9..12 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L), (6L, 8L))
      .toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(nodes, "id", pairs)
    val got = out.as[(Long, Long)].collect().toMap
    out.unpersist(blocking = true)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 9L, 10L -> 10L, 11L -> 11L, 12L -> 12L))
  }

  test("duplicateClusters: empty pair set is a fixed point of singletons") {
    val nodes = (1L to 5L).toDF("id")
    val out = Dedup.duplicateClusters(nodes, "id",
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    val got = out.as[(Long, Long)].collect().toMap
    out.unpersist(blocking = true)
    assert(got === (1L to 5L).map(i => i -> i).toMap)
  }

  test("duplicateClusters: maxIterations exceeded throws instead of looping") {
    // a 30-node path has diameter 29; cap at 3 iterations
    val nodes = (0L until 30L).toDF("id")
    val pairs = (0L until 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = cachedIds
    val e = intercept[IllegalStateException] {
      Dedup.duplicateClusters(nodes, "id", pairs, maxIterations = 3)
    }
    assert(e.getMessage.contains("did not converge"))
    assert((cachedIds -- before).isEmpty,
      "non-convergence abort must release all caches")
    // and the same graph converges with an adequate cap
    val out = Dedup.duplicateClusters(nodes, "id", pairs, maxIterations = 40)
    assert(out.filter(col("cluster") === 0L).count() === 30)
    out.unpersist(blocking = true)
  }

  test("duplicateClusters releases its caches (bounded residency)") {
    val before = cachedIds
    val nodes = (100L to 140L).toDF("id")
    val pairs = Seq((101L, 102L), (102L, 103L), (110L, 111L)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(nodes, "id", pairs)
    assert((cachedIds -- before).size === 1,
      "only the final label frame should stay cached")
    out.unpersist(blocking = true)
    assert((cachedIds -- before).isEmpty)
  }

  test("densifyOPH: long docs unchanged, short docs lose shared-sentinel false agreement") {
    // Long documents fill every bin → densification is the identity.
    val long = base.toDF("doc_id", "text")
    val raw = Dedup.minHashSignaturesOPH(long, "text", "doc_id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val dense = Dedup.densifyOPH(Dedup.minHashSignaturesOPH(long, "text", "doc_id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    if (raw.forall(!_._2.contains(Long.MaxValue)))
      assert(dense.toSeq === raw.toSeq)

    // Two UNRELATED short docs: raw OPH agrees on every shared-empty bin
    // (the all-pairs degradation mode); densified signatures must not.
    val shorts = Seq((1L, "alpha beta gamma delta"), (2L, "omega psi chi rho"))
      .toDF("doc_id", "text")
    def agreement(sigs: Array[(Long, Seq[Long])]): Int =
      sigs(0)._2.zip(sigs(1)._2).count { case (a, b) => a == b }
    val rawShort = Dedup.minHashSignaturesOPH(shorts, "text", "doc_id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val denseShort = Dedup.densifyOPH(Dedup.minHashSignaturesOPH(shorts, "text", "doc_id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(rawShort.forall(_._2.contains(Long.MaxValue)),
      "fixture docs must actually leave empty bins")
    assert(agreement(rawShort) > 32, "raw OPH shares sentinel positions")
    assert(agreement(denseShort) === 0, "unrelated docs must not agree densified")
    assert(denseShort.forall(!_._2.contains(Long.MaxValue)),
      "densification must fill every bin")

    // Identical shingle sets still densify to IDENTICAL signatures (the
    // LSH full-recall guarantee survives densification).
    val twins = Seq((1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val denseTwins = Dedup.densifyOPH(Dedup.minHashSignaturesOPH(twins, "text", "doc_id"))
      .orderBy("id").collect().map(r => r.getSeq[Long](1))
    assert(denseTwins(0) === denseTwins(1))
    intercept[IllegalArgumentException] {
      Dedup.densifyOPH(Dedup.minHashSignaturesOPH(twins, "text", "doc_id"), numBins = 0)
    }
  }

  test("densified OPH tracks K-permutation MinHash as a Jaccard estimator") {
    // Mid-similarity pair, short enough that OPH leaves empty bins (so
    // densification actually runs): both estimators' agreement fraction
    // estimates the same Jaccard, so they must land in the same regime
    // (Shrivastava & Li 2014's unbiasedness claim as a property test).
    val shared = "common core content that both documents fully share here"
    val pair = Seq((1L, s"first unique prefix $shared"),
      (2L, s"$shared second unique suffix tail")).toDF("doc_id", "text")
    def agreement(sigs: Array[Seq[Long]]): Double =
      sigs(0).zip(sigs(1)).count { case (a, b) => a == b } / 64.0
    val raw = Dedup.minHashSignaturesOPH(pair, "text", "doc_id")
      .orderBy("id").collect().map(_.getSeq[Long](1))
    assert(raw.exists(_.contains(Long.MaxValue)), "pair must exercise densification")
    val oph = agreement(Dedup.densifyOPH(Dedup.minHashSignaturesOPH(pair, "text", "doc_id"))
      .orderBy("id").collect().map(_.getSeq[Long](1)))
    val kperm = agreement(Dedup.minHashSignatures(pair, "text", "doc_id")
      .orderBy("id").collect().map(_.getSeq[Long](1)))
    assert(oph > 0.1 && oph < 0.9, s"densified agreement $oph should be mid-range")
    assert(math.abs(oph - kperm) <= 0.3,
      s"densified-OPH ($oph) and K-perm ($kperm) estimate the same Jaccard")
  }

  test("signatures are partition-count independent (deterministic at any parallelism)") {
    val df = base.toDF("doc_id", "text")
    def sigOf(parts: Int) = Dedup.minHashSignaturesOPH(df.repartition(parts), "text", "doc_id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(sigOf(2).toSeq === sigOf(7).toSeq)
    def simOf(parts: Int) = Dedup.simHashSignatures(df.repartition(parts), "text", "doc_id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(simOf(2).toSeq === simOf(7).toSeq)
  }

  test("ngramJaccard: identical = 1, disjoint = 0, and symmetric") {
    val df = Seq(("a b c d e", "a b c d e"), ("a b c", "x y z"),
      ("a b c d", "b c d e")).toDF("x", "y")
    val j = df.select(round(Dedup.ngramJaccard(col("x"), col("y"), 2), 6).as("j"))
      .as[Double].collect()
    assert(j(0) === 1.0)
    assert(j(1) === 0.0)
    // bigrams x: {a b, b c, c d}; y: {b c, c d, d e} → 2/4
    assert(j(2) === 0.5)
    val jSym = df.select(round(Dedup.ngramJaccard(col("y"), col("x"), 2), 6).as("j"))
      .as[Double].collect()
    assert(j.sameElements(jSym))
  }

  test("shingleJaccard of a text with itself is 1; hammingDistance basics") {
    val one = Seq(("hello world this is text")).toDF("t")
      .select(Dedup.shingleJaccard(col("t"), col("t")).as("j")).as[Double].head()
    assert(one === 1.0)
    val hd = Seq((0L, 0L), (0L, 1L), (0L, 3L), (-1L, 0L)).toDF("a", "b")
      .select(Dedup.hammingDistance(col("a"), col("b")).as("h")).as[Int].collect()
    assert(hd.sameElements(Array(0, 1, 2, 64)))
  }

  test("incrementalNearDups: delta probes the reference index, no corpus re-scan state") {
    val before = cachedIds
    val ref = base.toDF("doc_id", "text")
    val refIndex = Dedup.minHashSignatures(ref, "text", "doc_id")
    // delta: exact copy of doc 3, near-dup of doc 7 (short tail), one
    // novel doc that matches nothing
    val delta = Seq(
      (9003L, doc(3)),
      (9007L, doc(7) + " tail bit"),
      (9999L, "completely different text about nothing in particular at all"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(delta, refIndex, "text", "doc_id",
      threshold = 0.5)
    val pairs = out.as[(Long, Long, Double)].collect()
    out.unpersist(blocking = true)
    assert((cachedIds -- before).isEmpty, "bounded residency")

    val byNew = pairs.groupBy(_._1)
    assert(byNew(9003L).exists(p => p._2 === 3L && p._3 === 1.0),
      "exact copy must fully agree with its source")
    assert(byNew(9007L).exists(_._2 === 7L), "near-dup of doc 7 missed")
    // the near-dup estimate is high but below the exact copy's 1.0
    byNew(9007L).filter(_._2 === 7L).foreach(p => assert(p._3 > 0.5 && p._3 <= 1.0))
    assert(!byNew.contains(9999L), "novel text must match nothing")
  }

  test("incrementalNearDups rejects an index built with a different numHashes") {
    val ref = base.toDF("doc_id", "text")
    val narrowIndex = Dedup.minHashSignatures(ref, "text", "doc_id", numHashes = 32)
    val delta = Seq((9003L, doc(3))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDups(delta, narrowIndex, "text", "doc_id") // expects 64
    }
    assert(e.getMessage.contains("32") && e.getMessage.contains("64"))
  }

  test("incrementalNearDups rejects a MIXED-width index (union of two builds)") {
    // A union of a 32-hash and a 64-hash build: some rows match the probe
    // width, so a single-row probe could sample a valid row and pass — the
    // min/max aggregate must still reject it.
    val ref = base.toDF("doc_id", "text")
    val mixed = Dedup.minHashSignatures(ref, "text", "doc_id", numHashes = 64)
      .union(Dedup.minHashSignatures(
        ref.withColumn("doc_id", $"doc_id" + 5000L), "text", "doc_id", numHashes = 32))
    val delta = Seq((9003L, doc(3))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDups(delta, mixed, "text", "doc_id")
    }
    assert(e.getMessage.contains("[32, 64]") && e.getMessage.contains("mixed-width"))
  }

  test("incrementalNearDups: probing a parquet-stored index ≡ the in-memory index") {
    // The steady-state path (dd_index_probe): write the signature index,
    // read it back, probe — results must be bit-identical to probing the
    // frame that never touched storage.
    val ref = base.toDF("doc_id", "text")
    val index = Dedup.minHashSignatures(ref, "text", "doc_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx_").toString
    index.write.mode("overwrite").parquet(dir)
    val delta = Seq(
      (9003L, doc(3)),
      (9007L, doc(7) + " tail bit"),
      (9999L, "completely different text about nothing in particular at all"))
      .toDF("doc_id", "text")
    def probe(idx: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] = {
      val out = Dedup.incrementalNearDups(delta, idx, "text", "doc_id",
        threshold = 0.5)
      val pairs = out.as[(Long, Long, Double)].collect().toSet
      out.unpersist(blocking = true)
      pairs
    }
    val stored = probe(spark.read.parquet(dir))
    assert(stored === probe(index), "stored round-trip must not change the pairs")
    assert(stored.exists(p => p._1 === 9003L && p._2 === 3L && p._3 === 1.0))
  }

  test("incrementalNearDups at threshold 1.0 keeps only full-agreement pairs") {
    val ref = (base ++ exactDups).toDF("doc_id", "text") // each text twice
    val refIndex = Dedup.minHashSignatures(ref, "text", "doc_id")
    val delta = Seq((9005L, doc(5)), (9006L, doc(6) + " tail")).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(delta, refIndex, "text", "doc_id",
      threshold = 1.0)
    val pairs = out.as[(Long, Long, Double)].collect().toSet
    out.unpersist(blocking = true)
    // doc(5) matches BOTH identical-text reference rows; the tailed doc 6
    // is a near-dup, not an exact one — excluded at 1.0
    assert(pairs === Set((9005L, 5L, 1.0), (9005L, 2005L, 1.0)))
  }

  test("portableHash60 = first 15 md5 hex digits, always in [0, 2^60)") {
    val inputs = Seq("hello", "", "zq", "the quick brown fox")
    val got = inputs.toDF("t")
      .select(Dedup.portableHash60(col("t")).as("h")).as[Long].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    inputs.zip(got).foreach { case (s, h) =>
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(h === new java.math.BigInteger(hex.take(15), 16).longValueExact())
      assert(h >= 0L && h < (1L << 60))
    }
  }

  test("portable simhash (md5, 60 bits) near-dups ≡ xxhash variant's planted recall") {
    val df = (base ++ exactDups).toDF("doc_id", "text")
    val pairs = Dedup.signatureNearDups(
      Dedup.simHashSignatures(df, "text", "doc_id", Dedup.portableHash60, bits = 60),
      maxDist = 0, maxBucketOccupancy = 100000L, "test", "n/a")
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs.unpersist(blocking = true)
    // identical texts ⇒ identical token sets ⇒ identical portable simhash
    (0 until 40).foreach { i =>
      assert(got.contains((i.toLong, (i + 2000).toLong)), s"exact dup $i missed")
    }
    // signatures stay inside the declared 60 bits
    val sigs = Dedup.simHashSignatures(df, "text", "doc_id",
      Dedup.portableHash60, bits = 60).select("sig").as[Long].collect()
    sigs.foreach(s => assert(s >= 0L && s < (1L << 60)))
  }

  test("fuzzyDecontaminate flags members, near-members, and argmax-best match") {
    // eval set = two docs; corpus = the evals + a near-copy of eval A,
    // a doc overlapping BOTH evals (closer to B), and an unrelated doc.
    val evalA = "the quick brown fox jumps over the lazy dog again and again today"
    val evalB = "pack my box with five dozen liquor jugs before the long winter night"
    val nearA = evalA + " tail"                    // high-Jaccard near-copy of A
    val both  = evalB + " " + evalA.split(" ").take(6).mkString(" ")
    val docs = Seq(
      (1L, evalA), (2L, evalB), (10L, nearA), (11L, both),
      (12L, "completely unrelated text about spark catalyst and tungsten engines"))
      .toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") <= 2L)
    val out = Dedup.fuzzyDecontaminate(docs, "text", "doc_id",
        bench, "text", "doc_id", n = 3, threshold = 0.2)
      .as[(Long, Long, Double)].collect()
      .map { case (id, b, j) => id -> ((b, j)) }.toMap
    // members flag themselves at exactly 1.0
    assert(out(1L) === ((1L, 1.0)))
    assert(out(2L) === ((2L, 1.0)))
    // the near-copy matches eval A, below 1.0 but above threshold
    assert(out(10L)._1 === 1L && out(10L)._2 > 0.5 && out(10L)._2 < 1.0)
    // the mixed doc overlaps both; argmax picks B (the larger overlap)
    assert(out(11L)._1 === 2L)
    // the unrelated doc is not flagged at all
    assert(!out.contains(12L))
  }

  test("fuzzyDecontaminate breaks exact jaccard ties by smallest bench id") {
    // two IDENTICAL eval docs: every flagged doc ties at the same
    // jaccard against both; the argmax must pick bench_id 1.
    val txt = "one two three four five six seven eight"
    val docs = Seq((1L, txt), (2L, txt), (5L, txt + " nine")).toDF("doc_id", "text")
    val out = Dedup.fuzzyDecontaminate(docs, "text", "doc_id",
        docs.filter(col("doc_id") <= 2L), "text", "doc_id",
        n = 3, threshold = 0.2)
      .as[(Long, Long, Double)].collect()
    assert(out.forall(_._2 === 1L), s"tie not broken by min bench id: ${out.toSeq}")
    assert(out.map(_._1).toSet === Set(1L, 2L, 5L))
  }

  test("winnowFingerprints: density ~2/(w+1), rightmost-min rule, short-doc fallback") {
    val docs = (0 until 20).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "text", "doc_id",
      shingleK = 5, window = 8)
    val perDoc = fps.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(perDoc.size === 20, "every document must carry fingerprints")
    // selection density: distinct selected positions ≈ 2/(w+1) of grams;
    // generous band because distinct() collapses repeated selections
    val counts = fps.count().toDouble
    val totalGrams = docs.select(
      sum(greatest(length(regexp_replace(lower(col("text")), "\\s+", " ")) - 4,
        lit(1)))).as[Long].head().toDouble
    assert(counts / totalGrams > 0.05 && counts / totalGrams < 0.6,
      s"winnow density ${counts / totalGrams} outside plausible band")
    // a document shorter than one window still yields exactly its min
    val short = Seq((1L, "tiny")).toDF("doc_id", "text")
    val sfp = Dedup.winnowFingerprints(short, "text", "doc_id",
      shingleK = 5, window = 8).as[(Long, Long, Int)].collect()
    assert(sfp.length === 1 && sfp.head._3 === 1)
    intercept[IllegalArgumentException] {
      Dedup.winnowFingerprints(short, "text", "doc_id", window = 0)
    }
  }

  test("winnowNearDups: guaranteed detection of a shared substring >= w+k-1") {
    // Distinct documents sharing one long passage; winnowing must emit the
    // pair (detection guarantee), and unrelated docs must not pair.
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"unrelated preamble alpha beta $passage"),
      (2L, s"$passage entirely different closing words gamma delta"),
      (3L, "nothing in common with the others at all zeta eta theta iota"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDups(docs, "text", "doc_id",
        shingleK = 8, window = 6, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "shared-passage pair missed")
    assert(!pairs.exists(p => p._1 === 3L || p._2 === 3L),
      s"unrelated doc paired: $pairs")
  }

  test("winnowProbe against a stored index ≡ the batch operator's cross pairs") {
    val docs = (0 until 30).map(i => (i.toLong, doc(i % 10))).toDF("doc_id", "text")
    val ref = docs.filter(col("doc_id") % 3 =!= 0)
    val newB = docs.filter(col("doc_id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("winnow_idx_").toString
    Dedup.winnowFingerprints(ref, "text", "doc_id", shingleK = 8, window = 6)
      .write.mode("overwrite").parquet(s"$dir/fps")
    val probed = Dedup.winnowProbe(spark.read.parquet(s"$dir/fps"), newB,
        "text", "doc_id", shingleK = 8, window = 6, minShared = 1)
      .as[(Long, Long, Long)].collect().toSet
    // batch run over the union, restricted to (new, ref) cross pairs
    val batch = Dedup.winnowNearDups(docs, "text", "doc_id",
        shingleK = 8, window = 6, minShared = 1)
      .as[(Long, Long, Long)].collect()
      .flatMap { case (a, b, s) =>
        if (a % 3 == 0 && b % 3 != 0) Some((a, b, s))
        else if (b % 3 == 0 && a % 3 != 0) Some((b, a, s))
        else None
      }.toSet
    assert(probed === batch,
      s"stored probe diverged from batch: ${probed.diff(batch)} / ${batch.diff(probed)}")
    assert(probed.nonEmpty, "fixture must produce cross pairs")
  }

  test("winnowNearDups occupancy guard trips on a degenerate identical corpus") {
    val same = (0 until 50).map(i => (i.toLong, doc(0))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.winnowNearDups(same, "text", "doc_id", maxBucketOccupancy = 10)
    }
    assert(e.getMessage.contains("winnowNearDups"))
  }

  test("noveltyScore: reference members score 0, fresh docs 1, a half-" +
      "copied doc in between; distinct grams counted once") {
    import org.apache.spark.sql.functions.col
    // 6-token docs → two distinct 5-grams each
    val ref = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // exact reference copy
      (2L, "one two three four five six"),         // fully novel
      // first 5-gram shared with the reference, second not
      (3L, "alpha beta gamma delta epsilon OMEGA"),
      // repeated tokens: grams are DISTINCT per doc (2, not 3)
      (4L, "x x x x x x x"))
      .toDF("doc_id", "text")
    val out = Dedup.noveltyScore(docs, "text", "doc_id", ref, "text", n = 5)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((2L, 2L, Some(0.0))))
    assert(out(2L) === ((2L, 0L, Some(1.0))))
    assert(out(3L) === ((2L, 1L, Some(0.5))))
    assert(out(4L) === ((1L, 0L, Some(1.0))),
      "identical shingles collapse to one distinct gram")
  }
}
