package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.text.TextOps
import graft.util.{Guards, Residency}

/** Deduplication family for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup = hash-groupBy — one shuffle on a 64-bit key.
  *   - MinHash-LSH = shingle → minhash signature (map-only) → band keys →
  *     EXPLODE bands → shuffle on (band, bandHash) buckets → candidate
  *     pairs only within buckets. Never an all-pairs product: candidate
  *     count is data-dependent, not O(n²).
  *   - SimHash = 64-bit signature map-only; near-dup candidates via exact
  *     signature (or banded sub-signatures) — again bucketed.
  *   - verification joins re-check candidates with the exact measure, so
  *     LSH recall/precision trade is explicit and auditable. */
object Dedup {

  /** Exact duplicate groups: key = 64-bit fingerprint of normalized text.
    * Returns one row per group with the canonical (min) id and group size. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Exact dedup: keep the lowest-id row of each normalized-text group.
    * A true aggregate (`min_by` on the id), not a window: map-side partial
    * aggregation means each input partition ships at most one row per
    * fingerprint to the shuffle — on a 100 TB corpus with heavy
    * duplication that is the difference between shuffling the corpus and
    * shuffling the distinct set. Deterministic: ids are unique.
    * CONTRACT: ids must be non-null — min_by skips null ordering values,
    * so a null-id row is never the kept representative (the old window
    * form sorted nulls first; an id column should never be null). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(TextOps.fingerprint(col(textCol)).as("__fp"))
      .agg(min_by(payload, col(idCol)).as("__row"))
      .select(df.columns.map(c => col(s"__row.`$c`").as(c)): _*)
  }

  /** Incremental (delta-batch) exact dedup — the daily-crawl shape: dedup
    * the NEW batch within itself (keep the lowest id per fingerprint),
    * then drop any row whose fingerprint already exists in the reference
    * corpus. Returns the surviving new rows with all their columns.
    *
    * This is the operator that makes exact dedup O(|delta|) per ingest
    * instead of O(|corpus|) re-runs: the reference side reduces to its
    * DISTINCT fingerprint set (8-byte keys — a 100 TB corpus's
    * fingerprint set is ~10⁹ rows of one long, trivially shuffled or even
    * broadcast when the corpus is small), and only the delta's text is
    * ever scanned. The anti-join shuffles on the fingerprint — both
    * sides fixed-width.
    *
    * `fingerprint` is pluggable (default: the engine's 64-bit normalized
    * xxhash) so callers can match whatever key their reference store
    * already holds. */
  def incrementalDedup(newBatch: DataFrame, reference: DataFrame,
                       textCol: String, idCol: String,
                       fingerprint: Column => Column =
                         TextOps.fingerprint(_)): DataFrame = {
    val payload = struct(newBatch.columns.map(col): _*)
    val newKeep = newBatch
      .groupBy(fingerprint(col(textCol)).as("__fp"))
      .agg(min_by(payload, col(idCol)).as("__row"))
    val refFps = reference
      .select(fingerprint(col(textCol)).as("__fp")).distinct()
    newKeep.join(refFps, Seq("__fp"), "left_anti")
      .select(newBatch.columns.map(c => col(s"__row.`$c`").as(c)): _*)
  }

  /** Exploded (id, shingle) rows — every stage codegen'd: normalize, emit
    * one row per shingle START POSITION (sequence+explode), then a plain
    * `substr`. The array-building `charShingles` HOF runs interpreted and
    * was the dominant cost of the whole minhash pipeline. Shingles are NOT
    * deduplicated here — `min`/`count distinct` consumers decide. */
  private def shingleRows(df: DataFrame, textCol: String, idCol: String,
                          shingleK: Int): DataFrame = {
    val norm = lower(regexp_replace(col(textCol), "\\s+", " "))
    // single-row-group inputs plan as ONE scan task; spread the narrow
    // (id, text) rows before the shingle explosion so the per-gram
    // hashing above parallelizes (no-op on well-partitioned inputs)
    graft.util.Spread.forMapWork(df.select(col(idCol).as("id"), norm.as("t")))
      .select(col("id"), col("t"),
        explode(sequence(lit(1), greatest(length(col("t")) - (shingleK - 1), lit(1))))
          .as("i"))
      .select(col("id"), col("t").substr(col("i"), lit(shingleK)).as("sh"))
  }

  /** MinHash signatures for a whole corpus: `numHashes` permutations
    * approximated by seeded hashing over the shingle set (standard public
    * construction). Returns (id, sig: array<bigint>).
    *
    * Cost model matters at 100 TB, so the shape is explode → codegen'd
    * hash-aggregate, not a higher-order-function fold (HOFs run
    * interpreted — measured minutes vs seconds on a 500-doc batch):
    *   - each shingle STRING is hashed exactly once (`xxhash64(s)`); the
    *     per-permutation values re-hash only that fixed-width 8-byte long,
    *   - the 64 `min` aggregates are whole-stage-codegen'd with map-side
    *     partial aggregation, so the shuffle carries ONE 64-long row per
    *     document, never the exploded shingles. */
  def minHashSignatures(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 64, shingleK: Int = 5): DataFrame =
    signaturesFromHashed(hashedShingleRows(df, textCol, idCol, shingleK),
      numHashes)

  /** The exploded (id, h = xxhash64(shingle)) rows [[minHashSignatures]]
    * aggregates. NOTE: a null-text doc yields one h-of-null row here
    * (the signature convention); the verification kernels exclude such
    * docs instead ([[hashedShingleSet]]). Persisting this frame to share
    * it across consumers was MEASURED SLOWER than re-exploding (r21):
    * the cache write/read breaks the whole-stage-codegen fusion of
    * explode → partial aggregate — keep consumers re-deriving it. */
  private[graft] def hashedShingleRows(df: DataFrame, textCol: String,
                                       idCol: String,
                                       shingleK: Int): DataFrame =
    shingleRows(df, textCol, idCol, shingleK)
      .select(col("id"), xxhash64(col("sh")).as("h"))

  /** The 64-permutation minimum aggregate over a pre-hashed shingle
    * frame — the other half of [[minHashSignatures]] (same expressions,
    * same seeds; equivalence is by refactor, not reimplementation). */
  private[graft] def signaturesFromHashed(hashed: DataFrame,
                                          numHashes: Int): DataFrame = {
    // min over seeded hashes is idempotent under duplicate shingles, so the
    // raw (un-distinct) shingle stream feeds the aggregate directly.
    val aggs = (0 until numHashes).map(i => min(xxhash64(col("h"), lit(i))))
    hashed.groupBy("id").agg(array(aggs: _*).as("sig"))
  }

  /** One-permutation-hashing MinHash (Li/Owen/Zhang 2012, public): each
    * shingle is hashed ONCE and assigned to one of `numBins` bins by
    * `pmod(hash, numBins)` (the LOW bits); the signature is the per-bin minimum. Per-shingle work is
    * 1 hash + a (id, bin) group update vs `numBins` hash+min updates for
    * the classic K-permutation form — the asymptotically right shape for
    * long documents. Returns (id, sig: array<bigint>).
    *
    * SHORT DOCUMENTS: empty bins keep the Long.MaxValue sentinel, so docs
    * with fewer distinct shingles than bins share sentinel-heavy bands and
    * over-generate candidates (degrading toward all-pairs for a very short
    * corpus) — run [[densifyOPH]] over the result to repair exactly this.
    * [[minHashSignatures]] (the default inside [[minHashNearDups]]) has no
    * such degradation and near-identical throughput at 64 hashes. */
  def minHashSignaturesOPH(df: DataFrame, textCol: String, idCol: String,
                           numBins: Int = 64, shingleK: Int = 5): DataFrame = {
    val binMins = shingleRows(df, textCol, idCol, shingleK)
      .select(col("id"), xxhash64(col("sh")).as("h"))
      .groupBy(col("id"), pmod(col("h"), lit(numBins.toLong)).cast("int").as("bin"))
      .agg(min(col("h")).as("mh"))
    binMins.groupBy("id")
      .agg(map_from_entries(collect_list(struct(col("bin"), col("mh")))).as("m"))
      .select(col("id"),
        transform(sequence(lit(0), lit(numBins - 1)),
          b => coalesce(try_element_at(col("m"), b), lit(Long.MaxValue))).as("sig"))
  }

  /** Rotation densification for [[minHashSignaturesOPH]] (Shrivastava &
    * Li 2014, "Densifying One Permutation Hashing", public): every empty
    * bin borrows the value of the NEAREST NON-EMPTY bin to its right
    * (circularly), mixed with the borrow distance —
    * `densified[b] = xxhash64(sig[(b+j) mod k], j)` for the smallest j > 0
    * with a non-empty source (non-empty bins keep their raw value, so
    * long-document signatures are unchanged bit-for-bit). The hash mix
    * plays the `+ j·C` role of the paper (two borrowed positions agree iff
    * source value AND distance agree) without the long-overflow a raw
    * `+ j·C` would risk under ANSI arithmetic.
    *
    * This removes the short-document caveat: unrelated short docs no
    * longer agree on shared sentinel positions (the all-pairs degradation
    * mode), while genuinely identical shingle sets still densify to
    * identical signatures, keeping banded-LSH recall guarantees.
    *
    * Shape: map-only (one transform over a fixed-width array — no
    * shuffle, no join). The nearest-bin search is O(k) per position worst
    * case (interpreted HOF over k=64 → ≤4096 tiny steps per DOC, paid
    * once per signature build, orders of magnitude under the shingling
    * cost it follows); an all-empty signature (no shingles survived)
    * stays all-sentinel rather than erroring. Rewrites `sig` in place;
    * all other columns pass through. */
  def densifyOPH(sigs: DataFrame, numBins: Int = 64): DataFrame = {
    require(numBins > 0, s"numBins must be > 0, got $numBins")
    val sentinel = Long.MaxValue
    val ext = concat(col("sig"), col("sig")) // circular indexing, branch-free
    val dense = transform(sequence(lit(0), lit(numBins - 1)), b => {
      // try_element_at: an ALL-sentinel signature filters to an empty
      // offset list, and ANSI element_at(empty, 1) throws instead of
      // returning the null the otherwise-branch handles
      val j = try_element_at(
        filter(sequence(lit(1), lit(numBins - 1)),
          jj => element_at(ext, b + jj + 1) =!= sentinel), lit(1))
      when(element_at(col("sig"), b + 1) =!= sentinel,
          element_at(col("sig"), b + 1))
        .otherwise(when(j.isNotNull,
          xxhash64(element_at(ext, b + j + 1), j)).otherwise(lit(sentinel)))
    })
    sigs.withColumn("sig", dense)
  }

  /** Banded LSH bucket structs for a minhash signature column: one
    * (band, bucket) struct per band, bucket = seeded hash of the band's
    * signature slice. THE single shared construction — [[minHashNearDups]],
    * [[incrementalNearDups]] and `StreamOps.incrementalNearDupStream` must
    * hash buckets identically, or index compatibility and the
    * stream ≡ batch equivalence silently break. */
  def bandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    // UNROLLED over the compile-time band count, not a `transform` HOF:
    // higher-order functions evaluate interpreted, and this constructor
    // sits on every banded-LSH hot path (3 evaluations per dedup face) —
    // measured ~30 CPU-seconds per evaluation on the sf0.1 corpus
    // against ~3 codegen'd. Literal band indices make every slice /
    // concat_ws / xxhash64 whole-stage-codegen-able; values are
    // identical (same per-band expressions, same seeds).
    explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          slice(sig, b * rowsPerBand + 1, rowsPerBand)), lit(b))
          .as("bucket"))
    }: _*))

  /** Asserts a signature index was built with the SAME numHashes as the
    * probing operator expects — a mismatched index zips short, caps the
    * agreement estimate below the threshold, and returns silently empty
    * results instead of an error. One aggregate checks min == max ==
    * numHashes, so a MIXED-width index (e.g. a union of two
    * differently-parameterized builds) fails too, not just a uniformly
    * wrong one — a single-row probe would pass whichever row it sampled.
    * Cost: one map-side min/max pass over the (fixed-width, id+sig) index
    * frame — cheap relative to the probe join it protects, and run once
    * per operator call (static side only in streaming). */
  private[graft] def requireIndexWidth(refSignatures: DataFrame, numHashes: Int,
                                       op: String): Unit =
    refSignatures.agg(min(size(col("sig"))).as("lo"), max(size(col("sig"))).as("hi"))
      .collect().foreach { r =>
        if (!r.isNullAt(0)) { // null ⇔ empty index: nothing to zip against, valid
          val (lo, hi) = (r.getInt(0), r.getInt(1))
          require(lo == numHashes && hi == numHashes,
            s"$op: reference index signature widths span [$lo, $hi]; " +
              s"expected bands * rowsPerBand = $numHashes uniformly — rebuild " +
              "the index or pass matching band parameters (a mixed-width index " +
              "usually means two differently-parameterized builds were unioned)")
        }
      }

  /** MinHash-LSH candidate pairs: signature split into `bands` bands of
    * rows; docs sharing any band bucket become candidates; candidates are
    * verified with exact shingle-Jaccard and filtered by `threshold`.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * numHashes = bands * rowsPerBand. The band-bucket join shuffles on
    * (band index, band hash) — load-balanced, never all-pairs.
    *
    * EAGER + caller unpersist: the pipeline runs at call time (the
    * corpus-sized intermediates it persists internally are materialized
    * through once and released before returning — bounded residency); the
    * returned pair frame is persisted, and repeat callers in a long-lived
    * session should `unpersist()` it when done. For lazy composition use
    * [[minHashSignatures]], which persists nothing.
    *
    * maxBucketOccupancy fail-fast gate: a degenerate corpus (thousands of
    * IDENTICAL documents) puts them all in the same band buckets and the
    * candidate join degenerates toward O(n²). The guard errors immediately
    * instead — run [[exactDedup]] first to collapse identical docs (the
    * right pipeline order at any scale), or disable with `<= 0`. */
  def minHashNearDups(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double = 0.7, bands: Int = 16,
                      rowsPerBand: Int = 4, shingleK: Int = 5,
                      minBandMatches: Int = 1,
                      maxBucketOccupancy: Long = 100000L,
                      ophDensified: Boolean = false): DataFrame = Residency.eager { s =>
    require(threshold > 0, "minHashNearDups requires a positive threshold")
    val numHashes = bands * rowsPerBand

    // ONE shingle scan for the whole operator. Every consumer below — the
    // signature aggregate, the per-doc set sizes, and BOTH sides of the
    // exact-Jaccard verification join — reads this same per-doc-distinct
    // (id, h) frame. The sharing is enforced with an EXPLICIT persist:
    // exchange/stage reuse by plan canonicalization is not dependable here
    // (consumers prune different columns, and AQE's broadcast conversions
    // give each consumer a structurally different exchange — measured 6
    // evaluations of the corpus without the persist, 1 with; DedupSpec
    // pins the single-scan property with an accumulator). MEMORY_AND_DISK:
    // the frame is ~(distinct shingles × 16 B) ≈ corpus-sized — spilling
    // it costs about one shuffle write and saves up to five re-explosions.
    // Cache residency is BOUNDED: both corpus-sized persists are released
    // at the end of this method, after a single materializing action over
    // the pair result (the eager scope's tail) — repeated invocations in a
    // long-lived session (QueryService, benches with reps) never stack
    // corpus-sized cached frames.
    val shingles = s.persist(shingleRows(df, textCol, idCol, shingleK)
      .select(col("id"), xxhash64(col("sh")).as("h"))
      .dropDuplicates("id", "h"))

    // `min` over seeded re-hashes is idempotent under duplicate shingles,
    // so signatures over the distinct frame equal minHashSignatures over
    // the raw stream. The shingle-set size rides the same aggregate,
    // replacing the former full-frame window count. Persisted (one narrow
    // row per doc): four consumers — both self-join sides and both size
    // joins — would otherwise each recompute the 64-min aggregate.
    //
    // ophDensified = true swaps CANDIDATE GENERATION to the
    // one-permutation family ([[minHashSignaturesOPH]] semantics over the
    // same distinct shingle frame, then [[densifyOPH]]) — 1 hash + group
    // update per shingle instead of numHashes hash+min updates, the
    // asymptotically right build for long documents. Exact-Jaccard
    // verification below is UNCHANGED, so the output contract (pairs at
    // true Jaccard ≥ threshold among candidates) is family-independent;
    // identical shingle sets still produce identical densified signatures,
    // so threshold-1.0 recall stays guaranteed (dd_oph_verified pins it
    // against the identical-set oracle in SQL).
    val aggs = (0 until numHashes).map(i => min(xxhash64(col("h"), lit(i))))
    val sigN = s.persist(if (!ophDensified)
        shingles.groupBy("id")
          .agg(array(aggs: _*).as("sig"), count(lit(1)).as("n"))
      else {
        val binMins = shingles.groupBy(col("id"),
            pmod(col("h"), lit(numHashes.toLong)).cast("int").as("bin"))
          .agg(min(col("h")).as("mh"), count(lit(1)).as("c"))
        densifyOPH(binMins.groupBy("id")
          .agg(map_from_entries(collect_list(struct(col("bin"), col("mh")))).as("m"),
            sum(col("c")).as("n"))
          .select(col("id"),
            transform(sequence(lit(0), lit(numHashes - 1)),
              b => coalesce(try_element_at(col("m"), b), lit(Long.MaxValue))).as("sig"),
            col("n")), numHashes)
      })

    val banded = sigN
      .select(col("id"), bandBuckets(col("sig"), bands, rowsPerBand).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))

    // Fail-fast occupancy gate, run while sigN is cached (the aggregate
    // reads the cached narrow rows, so it costs one cheap job).
    Guards.checkBucketOccupancy(banded, Seq("band", "bucket"), maxBucketOccupancy,
      "minHashNearDups", "run exactDedup first to collapse identical documents")

    val a = banded.alias("a")
    val b = banded.alias("b")
    // Bucket join carries only (id, band, bucket) — texts are joined back
    // for verification AFTER candidate pruning, so the wide text column
    // never rides the candidate shuffle.
    // Band-agreement prefilter, free out of the bucket join: a pair
    // sharing m of `bands` band buckets has estimated Jaccard m-consistent
    // with threshold t when m is near bands·t^rowsPerBand. Setting
    // minBandMatches = 2 prunes the long tail of moderately-similar
    // organic pairs (m = 1) BEFORE the exact verification join — measured
    // 380k → ~30k verification pairs on a 10k-doc batch. The extra miss
    // probability for pairs at J = t is P[Binom(bands, t^rowsPerBand) < m]:
    // ~0.2% at t=0.8 (b=16, r=4) but ~7.5% at t=0.7 — so the DEFAULT is 1
    // (the classic any-band-match guarantee) and callers opt in per
    // threshold.
    val candidates = a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("m"))
      .filter(col("m") >= minBandMatches)
      .select("id_a", "id_b")

    // Exact-Jaccard verification via the shared distributed kernel
    // ([[pairJaccardHashed]]): count per-pair intersections with a
    // codegen'd join+groupBy over the CANDIDATE pairs only, reading the
    // SAME `shingles` frame as the signature path (the pairwise
    // array-expression form — shingleJaccard — re-derives both shingle
    // arrays per pair in interpreted HOFs: measured 65 s vs <2 s on a
    // 500-doc batch). Set sizes ride in from the cached sigN aggregate.
    // Pairs with ZERO common shingles drop out of the kernel's inner
    // join — sound because they have jaccard 0 < threshold.
    val sizes = sigN.select(col("id"), col("n"))
    pairJaccardHashed(candidates, shingles, shingles,
        "id_a", "id_b", Some(sizes), Some(sizes))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental near-dup detection — the daily-crawl shape for MINHASH,
    * completing the incremental story [[incrementalDedup]] starts for
    * exact dedup: find near-duplicates of a NEW batch against a reference
    * corpus represented ONLY by its precomputed signature index
    * (id, sig: array<bigint> — built once by [[minHashSignatures]] and
    * stored alongside the corpus), so each ingest costs
    * O(|delta| shingling + index band-probe), never a reference re-scan.
    *
    * Verification is by SIGNATURE AGREEMENT — estimated Jaccard = fraction
    * of agreeing minhash positions (the standard index-only estimate:
    * P[minhash_i(A) = minhash_i(B)] = J(A,B)) — because the index carries
    * no shingle sets to verify exactly against. The estimate is unbiased
    * with σ = √(J(1−J)/numHashes) ≈ 0.05 at J = 0.7, numHashes = 64;
    * pairs near the threshold can flip either way (set the threshold with
    * that band in mind, or re-verify survivors against stored text
    * downstream). Note that even threshold 1.0 is NOT an identical-sets
    * check: near-identical sets fully agree on all 64 positions with
    * probability J^64 (≈ 0.27 at J = 0.98 — observed on the test corpus),
    * so the output at 1.0 is a superset of the identical-set pairs. When
    * exactness matters, keep the reference TEXT available and re-verify
    * with [[minHashNearDups]]'s exact-Jaccard machinery.
    *
    * Returns (new_id, ref_id, est_jaccard), one row per (delta doc,
    * reference doc) candidate pair at est_jaccard ≥ threshold.
    *
    * Scale shape: delta signatures via the codegen'd aggregate (one scan
    * of the delta text); band keys explode on BOTH sides (index rows are
    * fixed-width — the explode is cheap); the bucket join shuffles
    * (band, bucket) keys, never all-pairs; the agreement estimate runs
    * only on candidate pairs (the interpreted zip is bounded by the
    * candidate count, not the corpus). The delta side is persisted for
    * its two consumers and released before returning (same bounded
    * residency as the family). */
  def incrementalNearDups(newBatch: DataFrame, refSignatures: DataFrame,
                          textCol: String, idCol: String,
                          threshold: Double = 0.7, bands: Int = 16,
                          rowsPerBand: Int = 4, shingleK: Int = 5,
                          maxBucketOccupancy: Long = 100000L): DataFrame = Residency.eager { s =>
    require(threshold > 0, "incrementalNearDups requires a positive threshold")
    val numHashes = bands * rowsPerBand
    val deltaSigs = s.persist(
      minHashSignatures(newBatch, textCol, idCol, numHashes, shingleK))

    def banded(sigs: DataFrame, id: String): DataFrame =
      sigs.select(col("id").as(id), col("sig").as(s"__sig_$id"),
        bandBuckets(col("sig"), bands, rowsPerBand).as("bb"))
        .select(col(id), col(s"__sig_$id"), col("bb.band"), col("bb.bucket"))

    // The index frame is consumed twice (occupancy guard + bucket join);
    // persist the NARROW (id, sig) projection so a caller that passes a
    // computed index (rather than a stored table scan) doesn't pay its
    // pipeline twice — measured 13.7 → ~8 s on an in-query-built index at
    // sf0.1. Released with the rest (bounded residency).
    val refSel = s.persist(refSignatures.select(col("id"), col("sig")))
    val d = banded(deltaSigs, "new_id")
    val r = banded(refSel, "ref_id")
    // width probe runs on the PERSISTED projection (its partial
    // evaluation lands in the cache the guard and join then reuse —
    // probing the raw index frame would evaluate the caller's pipeline
    // one extra time)
    requireIndexWidth(refSel, numHashes, "incrementalNearDups")
    Guards.checkBucketOccupancy(d, Seq("band", "bucket"), maxBucketOccupancy,
      "incrementalNearDups", "exact-dedup the batch first to collapse identical documents")
    // the REFERENCE side can be degenerate too (an index over a corpus
    // of identical docs collapses every band to one bucket and the
    // delta × ref join blows up per matching delta doc) — same gate
    Guards.checkBucketOccupancy(r, Seq("band", "bucket"), maxBucketOccupancy,
      "incrementalNearDups(reference index)",
      "exact-dedup the reference corpus before building its signature index")
    // delta × reference bucket join only — delta-internal pairs are
    // minHashNearDups' job on the batch itself
    val agree = size(filter(zip_with(col("__sig_new_id"), col("__sig_ref_id"),
      (x, y) => x === y), e => e))
    d.join(r, d("band") === r("band") && d("bucket") === r("bucket"))
      .select(col("new_id"), col("ref_id"), col("__sig_new_id"), col("__sig_ref_id"))
      .dropDuplicates("new_id", "ref_id")
      .withColumn("est_jaccard",
        round(agree.cast(DoubleType) / numHashes, 6))
      // a delta row re-ingesting an id the reference already holds is not
      // a "near-dup pair" — same exclusion as the streaming form
      .filter(col("est_jaccard") >= threshold && col("new_id") =!= col("ref_id"))
      .select(col("new_id"), col("ref_id"), col("est_jaccard"))
  }

  /** Per-ROW MinHash signature as a pure expression — no aggregation, no
    * shuffle — value-identical to [[minHashSignatures]] (same normalize →
    * shingle → xxhash64(shingle) → min over seeded re-hashes pipeline;
    * `min` is idempotent under the duplicate shingles the aggregate path
    * sees, and charShingles dedups them anyway).
    *
    * This is the STREAMING-compatible form: the aggregate path's
    * groupBy(id) is a stateful operator in a stream (holds rows until the
    * watermark), while this column evaluates map-only per row and
    * composes with `dropDuplicatesWithinWatermark` as the ONE stateful op
    * (see `StreamOps.nearDupSuppressWithinWatermark`). Trade-off: the
    * array HOF runs interpreted, so per-row cost is higher than the
    * codegen'd aggregate — the right shape for a stream's per-microbatch
    * row counts, the wrong one for a 100 TB batch backfill (use
    * [[minHashSignatures]] there). */
  def minHashSigArray(text: Column, numHashes: Int = 64,
                      shingleK: Int = 5): Column =
    minHashSigArrayFromHashes(
      transform(TextOps.charShingles(text, shingleK), s => xxhash64(s)),
      numHashes)

  /** [[minHashSigArray]] over a shingle-hash array — shaped so the array
    * expression is the AGGREGATE INPUT, which Catalyst evaluates exactly
    * once per row STRUCTURALLY. The previous outer-transform form
    * referenced the array inside the per-permutation lambda body; a
    * single textual reference is inlined by CollapseProject even when
    * "materialized" in its own projection (verified on Spark 4.1.2), so
    * the whole shingle→hash chain re-ran `numHashes` times per row. As
    * a fold it runs once: per shingle hash, all `numHashes` seeded mins
    * update in one `zip_with` step — O(shingles · numHashes) work,
    * array evaluated once, regardless of what the optimizer inlines.
    * The permutation seeds stay INT literals (sequence of ints), because
    * xxhash64 hashes int and long seeds differently and the batch
    * aggregate path seeds with ints. */
  def minHashSigArrayFromHashes(hs: Column, numHashes: Int): Column =
    aggregate(hs,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(acc,
        sequence(lit(0), lit(numHashes - 1)),
        (a, i) => least(a, xxhash64(h, i))))

  /** 64-bit key of [[minHashSigArray]]: equal for signature-identical
    * docs (exact dups always; near-identical docs with identical shingle
    * SETS too). The streaming dedup state key — fixed-width, not the
    * text. */
  def minHashSigKey(text: Column, numHashes: Int = 64,
                    shingleK: Int = 5): Column =
    xxhash64(minHashSigArray(text, numHashes, shingleK))

  /** Resolve near-dup PAIRS into duplicate CLUSTERS — connected components
    * over the pair graph — the step that turns any pair generator's output
    * ([[minHashNearDups]], [[simHashNearDups]], `cosineNearDups`) into
    * per-document keep/drop decisions: keep `id == cluster` (the minimum
    * id of the component), drop the rest. Transitivity matters: A~B and
    * B~C puts A,B,C in ONE cluster even though (A,C) was never emitted as
    * a pair.
    *
    * Returns (id, cluster) for EVERY node — docs in no pair are singleton
    * clusters of themselves. CONTRACT: `nodes` ids are unique, non-null,
    * and numeric, and every id in `pairs` references a node (an edge to an
    * unknown id would fabricate a row for it).
    *
    * Algorithm: distributed min-label propagation with POINTER DOUBLING.
    * Each round every node takes the minimum of (its own label, its
    * neighbors' labels, its label's label) — the neighbor step moves a
    * component's minimum one hop, the label-of-label jump (classic
    * pointer doubling; labels are node ids, so the label frame self-joins
    * as a pointer table) halves the remaining distance to it. Rounds =
    * O(log diameter) instead of O(diameter) — the same bound the
    * large-star/small-star construction gets (Kiveris et al., "Connected
    * Components in MapReduce", public) with a simpler round body: one
    * edge⋈label join + per-node min aggregate + one label self-join, all
    * codegen'd with map-side partials. Genuinely adversarial graphs still
    * hit `maxIterations` and throw rather than loop forever.
    *
    * Scale mechanics: per-iteration lineage is TRUNCATED (each label
    * frame is re-rooted as a materialized distributed frame) — without
    * that the logical plan doubles per iteration (labels appears on both
    * sides of the propagation join) and analysis cost goes exponential.
    * Convergence is detected by a one-scalar aggregate: labels only ever
    * DECREASE, so an unchanged sum(labels) means a fixed point — no
    * change-count join needed. The sum runs in decimal(38,0): at corpus
    * scale a sum of 64-bit ids overflows a long, and ANSI mode would
    * throw.
    *
    * Residency: edge and per-iteration label caches are released inside
    * the operator; the returned final frame is persisted (node-sized, two
    * longs per row) under the same caller-unpersist contract as the pair
    * generators. */
  def duplicateClusters(nodes: DataFrame, idCol: String, pairs: DataFrame,
                        maxIterations: Int = 25): DataFrame = Residency.eager { s =>
    val spark = nodes.sparkSession
    // sum over an EMPTY frame is null — coalesce to 0 so an empty corpus
    // converges immediately (first-round sum == previous sum) instead of
    // throwing NPE from BigDecimal.compareTo
    def clusterSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("cluster").cast(DecimalType(38, 0)))).head().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }

    // SCALE-ADAPTIVE loop partitioning (guide §2: derive partitioning
    // from input size, not a constant — and AQE, which would normally do
    // this, is off inside the loop). The union inherits the caller's
    // partition counts, so each round's message map stage ran
    // 3-frames-worth of micro-tasks (measured 128 tasks over ~0.1 MB per
    // round on the j11 face); instead, size the whole loop's frames from
    // the materialized edge count — ~2M narrow rows per partition, capped
    // by the session's shuffle partitions so a production session keeps
    // its configured width. Partitioning never changes the min/sum
    // aggregates' results.
    val edges0 = s.persist(pairs.select(col("id_a").cast(LongType).as("a"),
        col("id_b").cast(LongType).as("b"))
      .union(pairs.select(col("id_b").cast(LongType).as("a"),
        col("id_a").cast(LongType).as("b"))))
    val nEdges = edges0.count()
    val loopParts = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      (nEdges + 1999999L) / 2000000L)).toInt
    val edges = s.persist(edges0.repartition(loopParts))
    edges.count()
    s.release(edges0)
    var labels = s.persist(s.truncate(nodes.select(col(idCol).cast(LongType).as("id"),
        col(idCol).cast(LongType).as("cluster"))
        .repartition(loopParts)))
    // AQE is scoped OFF for the propagation loop: each round is a small
    // fixed-shape DAG executed many times, and AQE's stage-by-stage
    // adaptive scheduling adds a blocking job round-trip per exchange —
    // measured ~2× the wall time of the whole loop at bench scale. The
    // big scans/joins AQE exists for happen in the CALLER's plans (pair
    // generation), not inside this loop. Restored in the finally.
    // the save/set/restore is serialized under a JVM-wide lock so two
    // concurrent clustering calls cannot interleave their save/restore
    // pairs (one would read the other's 'false' as the value to restore,
    // leaving AQE permanently off for the session). Unrelated queries
    // planned during a loop still see AQE off — documented cost of a
    // session-scoped conf; Spark has no per-query override for it.
    val aqeKey = "spark.sql.adaptive.enabled"
    // shuffle.partitions rides the same save/set/restore under the same
    // lock: with AQE off nothing coalesces the loop's join/aggregate
    // exchanges, so they must be sized explicitly from the edge count
    // (loopParts above) rather than inherit a cluster-wide constant.
    // WIDER HAZARD than the AQE toggle: loopParts can be 1 (any pair
    // graph under 2M edges), and an unrelated query PLANNED in this
    // session mid-loop would inherit that width — serialized execution,
    // not just lost adaptivity. The graft.util.Parallel overlaps never
    // plan concurrently with this loop today (no operator composes
    // them); a future caller that does should plan around the lock.
    val sufKey = "spark.sql.shuffle.partitions"
    Dedup.AqeLock.lock()
    val aqeWas = spark.conf.get(aqeKey, "true")
    val sufWas = spark.conf.get(sufKey,
      spark.sessionState.conf.numShufflePartitions.toString)
    spark.conf.set(aqeKey, "false")
    spark.conf.set(sufKey, loopParts.toString)
    try {
      var prevSum = clusterSum(labels)
      var it = 0
      var converged = false
      while (!converged) {
        it += 1
        if (it > maxIterations) {
          throw new IllegalStateException(
            s"duplicateClusters did not converge in $maxIterations iterations — " +
            "the pair graph has a longer-diameter component than near-dup " +
            "clusters should produce; raise maxIterations or inspect the " +
            "pair generator for spurious chains")
        }
        // The whole round is ONE join + ONE aggregate over a union of
        // "message" relations (dst ← src means: dst receives src's
        // current label):
        //   self    v ← v          keeps the node's own label (and keeps
        //                          every node present in the output),
        //   edge    a ← b          the one-hop neighbor step,
        //   pointer v ← label(v)   the doubling jump (labels are node
        //                          ids, so a label is a valid src).
        // next(v) = min over v's messages of label(src). Unions are
        // shuffle-free, both join inputs read cached frames — minimal
        // stages per round, which dominates wall time for an iterative
        // algorithm.
        val msgs = edges.select(col("a").as("dst"), col("b").as("src"))
          .union(labels.select(col("id").as("dst"), col("id").as("src")))
          .union(labels.select(col("id").as("dst"), col("cluster").as("src")))
        val next = s.persist(s.truncate(
            msgs.join(labels, col("src") === col("id"))
              .groupBy(col("dst")).agg(min(col("cluster")).as("cluster"))
              .select(col("dst").as("id"), col("cluster"))))
        val sum = clusterSum(next)
        s.release(labels)
        labels = next
        converged = sum.compareTo(prevSum) == 0
        prevSum = sum
      }
      labels
    } finally {
      spark.conf.set(aqeKey, aqeWas)
      spark.conf.set(sufKey, sufWas)
      Dedup.AqeLock.unlock()
    }
  }

  /** Serializes [[duplicateClusters]]' AQE-off window (see the comment at
    * the conf toggle). ReentrantLock rather than `synchronized` so the
    * long-running loop body doesn't pin a monitor across Spark actions. */
  private val AqeLock = new java.util.concurrent.locks.ReentrantLock()

  /** Exact Jaccard over char-shingle sets (the verification measure). */
  def shingleJaccard(a: Column, b: Column, k: Int = 5): Column = {
    val sa = TextOps.charShingles(a, k)
    val sb = TextOps.charShingles(b, k)
    val inter = size(array_intersect(sa, sb)).cast(DoubleType)
    val uni = size(array_union(sa, sb)).cast(DoubleType)
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** Distributed exact shingle-Jaccard verification of an arbitrary
    * candidate-pair frame — the PUBLIC kernel both LSH verifiers route
    * through, so the per-pair interpreted-HOF form ([[shingleJaccard]])
    * never has to be the convenient default again (that anti-pattern
    * shipped three times: `wordNgrams`'s quadratic inlining,
    * [[ngramJaccard]]'s documented 20 s → 2 s, and round 13's 304 s
    * stored-probe verification of 15,875 pairs).
    *
    * Shape (the [[minHashNearDups]] verification plan): restrict `docs`
    * to the ids the pairs actually reference (semi-join — at 100 TB the
    * corpus is never exploded wholesale for a bounded candidate list),
    * explode ONE distinct (id, xxhash64(shingle)) frame, count per-pair
    * intersections with a codegen'd join + aggregate, and join per-doc
    * set sizes back when the frame is one row per surviving pair.
    * Shingles ride the joins as 8-byte hashes; text never rides a
    * pair-shuffle.
    *
    * Contract (positive-threshold semantics, like every caller in the
    * family): returns (aCol, bCol, jaccard) with UNROUNDED jaccard > 0 —
    * pairs sharing zero shingles and pairs touching a null-text doc are
    * ABSENT (per-pair [[shingleJaccard]] scores both 0.0, so any caller
    * filtering `>= threshold` with threshold > 0 sees identical rows;
    * DedupVerifySpec pins the value equivalence pairwise). Duplicate
    * input pairs are collapsed. Input pair frames must reference doc ids
    * present in `docs` — unknown ids simply drop (no match rows). */
  def verifyPairsJaccard(pairs: DataFrame, docs: DataFrame,
                         textCol: String, idCol: String,
                         aCol: String = "id_a", bCol: String = "id_b",
                         shingleK: Int = 5): DataFrame = Residency.eager { s =>
    // single-corpus form: ONE shingle set over the union of referenced
    // ids serves both pair sides (the sided form would scan and explode
    // the same corpus twice — shingling is the dominant cost here)
    val p = s.persist(pairs.select(col(aCol), col(bCol)).dropDuplicates(aCol, bCol))
    val ids = p.select(col(aCol).as("id"))
      .union(p.select(col(bCol).as("id")))
    val set = s.persist(hashedShingleSet(docs, textCol, idCol, shingleK, ids))
    pairJaccardHashed(p, set, set, aCol, bCol)
  }

  /** [[verifyPairsJaccard]] with DISTINCT corpora per pair side — the
    * stored-index probe shape, where the a-side ids resolve against the
    * incoming batch and the b-side ids against the reference document
    * store (the two id spaces may overlap with different text, so a
    * single unioned corpus would merge their shingle sets). */
  def verifyPairsJaccardSided(pairs: DataFrame, aDocs: DataFrame,
                              bDocs: DataFrame, textCol: String,
                              idCol: String, aCol: String = "id_a",
                              bCol: String = "id_b",
                              shingleK: Int = 5): DataFrame = Residency.eager { s =>
    // an eager analysis error while CONSTRUCTING a later frame (e.g. bDocs
    // missing idCol) leaves through the scope, which releases the persists
    // already registered
    val p = s.persist(pairs.select(col(aCol), col(bCol)).dropDuplicates(aCol, bCol))
    val aSet = s.persist(hashedShingleSet(aDocs, textCol, idCol, shingleK,
      p.select(col(aCol).as("id"))))
    val bSet = s.persist(hashedShingleSet(bDocs, textCol, idCol, shingleK,
      p.select(col(bCol).as("id"))))
    pairJaccardHashed(p, aSet, bSet, aCol, bCol)
  }

  /** Distinct (id, xxhash64(shingle)) rows of the docs `ids` references —
    * the verification kernel's working set. Null-text docs are dropped
    * here (an undefined shingle set verifies to no pairs, matching
    * [[shingleJaccard]]'s 0.0 under a positive threshold); short docs
    * keep the whole-string single shingle ([[shingleRows]]' clamp, same
    * as `charShingles`' `array(norm)` branch). */
  private def hashedShingleSet(docs: DataFrame, textCol: String,
                               idCol: String, shingleK: Int,
                               ids: DataFrame): DataFrame = {
    val wanted = ids.select(col("id")).dropDuplicates("id")
    shingleRows(
        docs.filter(col(textCol).isNotNull)
          .join(wanted, docs.col(idCol) === wanted.col("id"), "left_semi"),
        textCol, idCol, shingleK)
      .select(col("id"), xxhash64(col("sh")).as("h"))
      .dropDuplicates("id", "h")
  }

  /** The verification join itself, over PRE-BUILT distinct
    * (id, shingle-hash) frames — the form [[minHashNearDups]] calls with
    * its already-persisted single-scan shingle frame on both sides (so
    * routing through the kernel costs it nothing). `aSizes`/`bSizes` are
    * optional pre-computed (id, n) set sizes; absent, they are counted
    * from the set frames. Returns (aCol, bCol, jaccard), jaccard
    * unrounded, zero-intersection pairs absent. */
  private[graft] def pairJaccardHashed(pairs: DataFrame, aSet: DataFrame,
                                       bSet: DataFrame, aCol: String,
                                       bCol: String,
                                       aSizes: Option[DataFrame] = None,
                                       bSizes: Option[DataFrame] = None)
                                      : DataFrame = {
    val na = aSizes.getOrElse(
      aSet.groupBy("id").agg(count(lit(1)).as("n")))
    val nb = bSizes.getOrElse(
      bSet.groupBy("id").agg(count(lit(1)).as("n")))
    pairs.select(col(aCol), col(bCol))
      .join(aSet.toDF(aCol, "h"), aCol)
      .join(bSet.toDF(bCol, "h"), Seq(bCol, "h"))
      .groupBy(aCol, bCol)
      .agg(count(lit(1)).as("i"))
      .join(na.toDF(aCol, "na"), aCol)
      .join(nb.toDF(bCol, "nb"), bCol)
      .withColumn("jaccard",
        col("i").cast(DoubleType) / (col("na") + col("nb") - col("i")))
      .select(col(aCol), col(bCol), col("jaccard"))
  }

  /** Word n-gram Jaccard similarity (token-level near-dup measure).
    *
    * Per-PAIR array expression: fine when the consumer prunes it or the
    * pair list is small, but the array HOFs run interpreted and re-derive
    * both token sets per pair — for an evaluated-for-every-pair corpus
    * sweep use [[consecutiveTokenJaccardPairs]] (measured 20 s → ~2 s on
    * the 5k-doc bench corpus). */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val sa = array_distinct(TextOps.wordNgrams(a, n))
    val sb = array_distinct(TextOps.wordNgrams(b, n))
    val inter = size(array_intersect(sa, sb)).cast(DoubleType)
    val uni = size(array_union(sa, sb)).cast(DoubleType)
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** Token (1-gram) Jaccard for every CONSECUTIVE id pair, computed
    * distributively: explode distinct tokens once, count intersections
    * with a codegen'd self-join + aggregate, join set sizes back — the
    * same shape as [[minHashNearDups]]'s verification step, and
    * value-identical to `ngramJaccard(_, _, 1)` over the same pairs.
    * Returns (id_a, id_b = id_a+1, jaccard) for pairs where both ids
    * exist. Pairs with zero common tokens drop out (their jaccard is 0 —
    * callers filtering by a positive threshold lose nothing; pass
    * threshold 0 consumers should not use this).
    *
    * EAGER + caller unpersist, like the rest of the family: the token
    * frame is persisted for its four consumers and released before
    * returning (bounded residency); the returned pair-sized frame comes
    * back persisted and repeat callers should `unpersist()` it. */
  def consecutiveTokenJaccardPairs(df: DataFrame, textCol: String,
                                   idCol: String,
                                   threshold: Double): DataFrame = Residency.eager { s =>
    require(threshold > 0, "consecutiveTokenJaccardPairs needs a positive threshold")
    val toks = s.persist(df.select(col(idCol).cast(LongType).as("doc_id"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("w")))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sa = toks.select(col("doc_id").as("id_a"), col("w"))
    val sb = toks.select((col("doc_id") - 1).as("id_a"), col("w"))
    sa.join(sb, Seq("id_a", "w"))
      .groupBy("id_a").agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select((col("doc_id") - 1).as("id_a"), col("n").as("nb")), "id_a")
      .withColumn("jaccard",
        col("i").cast(DoubleType) / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), (col("id_a") + 1).as("id_b"),
        col("jaccard"))
  }

  /** Word-n-gram-set Jaccard for every consecutive id pair INCLUDING
    * zero-overlap pairs — the exact SQL-expressible member of the n-gram
    * family, value-identical to `round(ngramJaccard(a, b, n), 6)` over
    * the same pairs but computed DISTRIBUTIVELY: one explode of per-doc
    * distinct grams, a gram-keyed self-join for intersections, set sizes
    * joined back onto the pair spine (a left join keeps jaccard-0 pairs,
    * unlike [[consecutiveTokenJaccardPairs]]' thresholded form). The
    * per-pair array expression evaluated 16 s on the 5k-doc bench corpus
    * (interpreted HOFs re-deriving both token sets per pair); this shape
    * runs in the one gram shuffle.
    *
    * EAGER + caller unpersist, like the family: the gram frame is
    * released before return, the pair-sized result comes back
    * persisted. */
  def consecutiveNgramJaccard(df: DataFrame, textCol: String, idCol: String,
                              n: Int): DataFrame = Residency.eager { s =>
    require(n > 0, s"n must be positive, got $n")
    val grams = s.persist(df
      .select(col(idCol).cast(LongType).as("doc_id"),
        TextOps.tokens(col(textCol)).as("__ts"))
      .select(col("doc_id"),
        explode(array_distinct(
          TextOps.wordNgramsFromTokens(col("__ts"), n))).as("g")))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val spine = df.select(col(idCol).cast(LongType).as("id_a"))
      .join(df.select((col(idCol).cast(LongType) - 1).as("id_a")), Seq("id_a"))
    val inter = grams.select(col("doc_id").as("id_a"), col("g"))
      .join(grams.select((col("doc_id") - 1).as("id_a"), col("g")), Seq("id_a", "g"))
      .groupBy("id_a").agg(count(lit(1)).as("i"))
    // sizes inner-join is total: every doc has ≥ 1 gram (empty text yields
    // the [""] gram — the wordNgrams short-doc convention), which also
    // bounds the denominator ≥ 1
    spine.join(inter, Seq("id_a"), "left")
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select((col("doc_id") - 1).as("id_a"), col("n").as("nb")), "id_a")
      .select(col("id_a"), (col("id_a") + 1).as("id_b"),
        round(coalesce(col("i"), lit(0L)).cast(DoubleType) /
          (col("na") + col("nb") - coalesce(col("i"), lit(0L))), 6).as("jaccard"))
  }

  /** Benchmark decontamination: per-document count of distinct word
    * n-grams shared with a benchmark/eval corpus — the standard LLM
    * training-data step that keeps eval answers out of the training set
    * (docs with `overlap >= minOverlap` get dropped/reviewed upstream).
    *
    * Scale shape: the benchmark side is eval-set-sized by construction —
    * its distinct gram list stays small, so the join is broadcast-able
    * (AQE decides; no hint, so a pathologically large benchmark degrades
    * to a shuffle join, not an OOM). The corpus side is explode →
    * distinct-per-doc grams (array_distinct before the explode — set
    * semantics without a corpus-wide shuffle) → inner join → count
    * aggregate with map-side partials. Documents shorter than n tokens
    * contribute their whole text as one gram (the [[ngramJaccard]]
    * convention, mirrored in the SQL oracle). */
  /** The ONE distinct-word-n-gram generator of the contamination /
    * decontamination / novelty family: tokens materialized in their own
    * projection BEFORE the n-gram lambda reads them (inlined, the
    * lambda re-derives the token array per element — O(tokens²) per
    * doc; see TextOps.wordNgrams' perf contract), then one exploded
    * `g` row per DISTINCT gram, alongside `outCols`. Every member MUST
    * route through this — the gram convention (short docs contribute
    * their whole joined text as one gram) is part of the shared oracle
    * contract, and a forked copy would silently diverge it. */
  private def distinctWordGrams(df: DataFrame, textCol: String, n: Int,
                                outCols: Column*): DataFrame = {
    // spread the narrow pre-explosion rows first (the shingleRows
    // discipline, guide §2.5): a single-row-group input otherwise runs
    // the tokenize + n-gram explosion as ONE task — no-op at production
    // file counts
    val pre = graft.util.Spread.forMapWork(
      df.select(outCols :+ TextOps.tokens(col(textCol)).as("__ts"): _*))
    pre.select(pre.columns.dropRight(1).map(col) :+
      explode(array_distinct(
        TextOps.wordNgramsFromTokens(col("__ts"), n))).as("g"): _*)
  }

  /** Directed CONTAINMENT pairs (Broder 1997, "On the resemblance and
    * containment of documents", public): containment(a ⊆ b) =
    * |grams(a) ∩ grams(b)| / |grams(a)| — the asymmetric companion of
    * Jaccard that catches QUOTES and SUBSETS. A short document fully
    * embedded in a long one scores Jaccard ≈ |a|/|b| ≈ 0 (it never
    * crosses a near-dup threshold) but containment 1.0; dedup pipelines
    * use it to drop quoted/excerpted re-posts while keeping the source.
    *
    * Gram semantics are the contamination family's word-n-gram
    * convention ([[contaminationOverlap]] / [[noveltyScore]] — shorter-
    * than-n docs contribute their whole text as one gram), so the same
    * SQL replay certifies it. Shape: ONE distinct (id, gram) frame,
    * self-joined on the gram (codegen'd hash join + count — the
    * [[pairJaccardHashed]] discipline, never a per-pair array
    * expression), a-side set sizes joined back pair-sized. Gram df is
    * naturally heavy-tailed on boilerplate corpora — at 100 TB block
    * first (bloom/[[bandBuckets]] candidates) and verify containment on
    * the survivors; this full form is the discovery sweep.
    *
    * Returns directed (id_a, id_b, n_a, inter, containment ROUND 6) with
    * id_a the CONTAINED side, filtered to containment ≥ `threshold`
    * (compared unrounded, the engine convention); zero-overlap pairs are
    * absent by construction. EAGER + caller-unpersist family contract. */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       n: Int = 5, threshold: Double = 0.5): DataFrame = Residency.eager { s =>
    require(n > 0, s"need n > 0, got $n")
    require(threshold > 0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val grams = s.persist(distinctWordGrams(docs.filter(col(textCol).isNotNull),
        textCol, n, col(idCol).as("id")))
    val sizes = grams.groupBy("id").agg(count(lit(1)).as("n_a"))
    grams.select(col("id").as("id_a"), col("g"))
      .join(grams.select(col("id").as("id_b"), col("g")), Seq("g"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "id_a"), Seq("id_a"))
      .filter(col("inter").cast(DoubleType) / col("n_a") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_a"), col("inter"),
        round(col("inter").cast(DoubleType) / col("n_a"), 6)
          .as("containment"))
  }

  def contaminationOverlap(docs: DataFrame, textCol: String, idCol: String,
                           benchmark: DataFrame, benchTextCol: String,
                           n: Int = 5, minOverlap: Long = 1L): DataFrame = {
    require(n > 0 && minOverlap > 0, s"need n > 0, minOverlap > 0; got $n/$minOverlap")
    val docGrams = distinctWordGrams(docs, textCol, n, col(idCol).as("id"))
    val benchGrams = distinctWordGrams(benchmark, benchTextCol, n)
      .select("g").distinct()
    docGrams.join(benchGrams, "g")
      .groupBy("id").agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Per-document NOVELTY against a reference corpus — the scoring form
    * of [[contaminationOverlap]]: instead of flagging docs that overlap
    * a benchmark, score how much of each document's distinct word
    * n-gram set is UNSEEN in the reference (novelty = 1 − seen/total).
    * This is the data-value signal incremental crawls rank by: a batch
    * whose novelty mass is near zero re-crawled what the corpus already
    * holds. Gram semantics are the contamination family's: a document
    * shorter than `n` tokens contributes its whole joined text as ONE
    * gram (an empty STRING doc therefore scores against the reference's
    * empty-gram membership like any short doc — the convention the
    * shared oracle replays); only NULL text reports (0, 0, NULL).
    *
    * Scale shape: same as the contamination family — distinct grams per
    * doc, the reference gram SET on the build side of one join
    * (AQE-broadcastable; for a reference too big to broadcast, pre-prune
    * with [[bloomContaminationOverlap]]'s sketch and feed the survivors
    * here), counts with map-side partials. Returns
    * (doc_id, n_grams, n_seen, novelty). */
  def noveltyScore(docs: DataFrame, textCol: String, idCol: String,
                   reference: DataFrame, refTextCol: String,
                   n: Int = 5): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    val docGrams = distinctWordGrams(docs, textCol, n, col(idCol).as("doc_id"))
    val refGrams = distinctWordGrams(reference, refTextCol, n)
      .select("g").distinct()
      .withColumn("__seen", lit(1L))
    val counts = docGrams.join(refGrams, Seq("g"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__seen"), lit(0L))).as("n_seen"))
    docs.select(col(idCol).as("doc_id")).join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("novelty", when(col("n_grams") > 0,
        round(lit(1.0) - col("n_seen").cast(DoubleType) / col("n_grams"), 6)))
  }

  /** [[contaminationOverlap]] with a Bloom-filter pre-prune — IDENTICAL
    * output (the exact gram join still runs and kills every false
    * positive; Bloom filters have no false negatives, so no true overlap
    * is lost — the bloom stage is a pure prune and the query shares the
    * exact form's oracle), different 100 TB movement: the eval gram SET
    * compresses to a fixed-size sketch (10M grams at 1% fpp ≈ 11 MB)
    * probed INSIDE the corpus-side scan pipeline by the codegen'd
    * `bloom_might_contain`, so the gram join's corpus input drops to
    * matching grams + an fpp tail BEFORE anything shuffles. The exact
    * form relies on AQE broadcasting the eval grams — fine while they
    * fit; this form is the one that survives an eval/blocklist side too
    * big to broadcast, when the join degrades to a shuffle and pruning
    * its probe side is the whole game. */
  def bloomContaminationOverlap(docs: DataFrame, textCol: String, idCol: String,
                                benchmark: DataFrame, benchTextCol: String,
                                n: Int = 5, minOverlap: Long = 1L,
                                expectedItems: Long = 1000000L,
                                fpp: Double = 0.01): DataFrame = {
    require(n > 0 && minOverlap > 0, s"need n > 0, minOverlap > 0; got $n/$minOverlap")
    val benchGrams = distinctWordGrams(benchmark, benchTextCol, n)
      .select("g").distinct()
    val probe = graft.ops.Ops.bloomProbe(benchGrams, "g", expectedItems, fpp)
    distinctWordGrams(docs, textCol, n, col(idCol).as("id"))
      .filter(probe(col("g")))
      .join(benchGrams, "g")
      .groupBy("id").agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Fuzzy benchmark decontamination: for every document, the
    * best-matching eval/benchmark document by word-n-gram Jaccard, kept
    * only when the similarity clears `threshold` — the FUZZY complement
    * of [[contaminationOverlap]]'s exact shared-gram count (a training
    * doc that paraphrases an eval item shares many grams without
    * containing any one long exact span; Jaccard against the whole eval
    * doc catches it). Docs flagged here get dropped/reviewed upstream,
    * eval members flag themselves at similarity 1.0.
    *
    * Returns `(id, bench_id, jaccard)` — one row per contaminated doc,
    * `bench_id` the argmax-similarity eval doc (ties broken by smallest
    * `bench_id`), `jaccard` value-identical to
    * `ngramJaccard(doc, bench, n)`.
    *
    * Scale shape: the benchmark side is eval-set-sized, so its distinct
    * gram list stays small and the gram join is AQE-broadcastable; the
    * corpus side is one explode → per-doc-distinct grams pass, linear in
    * corpus tokens and never pairwise in documents (a doc only meets the
    * eval docs it actually shares a gram with). Set sizes ride in as two
    * tiny aggregates; the final argmax is a window keyed by doc id — it
    * shuffles only the surviving candidate pairs, a benchmark-bounded
    * row count. Short docs follow the [[TextOps.wordNgrams]] convention
    * (whole text as one gram), mirrored by the SQL oracle. */
  def fuzzyDecontaminate(docs: DataFrame, textCol: String, idCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         benchIdCol: String, n: Int = 5,
                         threshold: Double = 0.5): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(threshold > 0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val docGrams = distinctWordGrams(docs, textCol, n,
      col(idCol).cast(LongType).as("id"))
    val benchGrams = distinctWordGrams(benchmark, benchTextCol, n,
      col(benchIdCol).cast(LongType).as("bench_id"))
    val docSizes = docGrams.groupBy("id").agg(count(lit(1)).as("na"))
    val benchSizes = benchGrams.groupBy("bench_id").agg(count(lit(1)).as("nb"))
    val inter = docGrams.join(benchGrams, "g")
      .groupBy("id", "bench_id").agg(count(lit(1)).as("i"))
    val jac = inter.join(docSizes, "id").join(benchSizes, "bench_id")
      .withColumn("jaccard",
        col("i").cast(DoubleType) / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
    val best = Window.partitionBy("id")
      .orderBy(col("jaccard").desc, col("bench_id").asc)
    jac.withColumn("__rn", row_number().over(best))
      .filter(col("__rn") === 1)
      .select(col("id"), col("bench_id"), col("jaccard"))
  }

  /** Cross-document duplicate-SPAN removal — the word-n-gram analog of
    * exact-substring deduplication (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", public): an n-token
    * window appearing verbatim in two or more DISTINCT documents is a
    * duplicated span; every token position covered by such a window is
    * marked, and the cleaned text is the document with exactly the marked
    * positions removed. Complements the whole-document families
    * ([[minHashNearDups]] et al. drop documents; this rewrites them) —
    * boilerplate headers/footers shared across a crawl are excised while
    * each document's unique remainder survives.
    *
    * Returns one row per input document:
    * `(id, n_tokens, dup_tokens, dup_frac, cleaned)`.
    *
    * Scale shape: windows are keyed by gram string on the one big shuffle
    * (identical to [[contaminationOverlap]]'s shape — linear in corpus
    * token count, never pairwise in documents). "Shared by ≥2 docs" is
    * decided by `min(id) <> max(id)` per gram — one ordinary codegen'd
    * aggregate with map-side partials, no count-distinct. Position
    * coverage explodes n-fold for MATCHED windows only (duplicated text is
    * the small fraction in a healthy corpus), is deduplicated inside a
    * map-side-partial `collect_set` keyed by doc, and the text rebuild is
    * row-local array arithmetic — the corpus text itself crosses the wire
    * once, in the final keyed join. Documents shorter than `n` tokens
    * contribute no windows and are never marked; their `cleaned` text is
    * the whitespace-normalized original (single-space token rejoin, the
    * same normalization the marked rebuild applies). */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
                     n: Int = 5): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val toks = docs.select(col(idCol).as("id"),
      TextOps.tokens(col(textCol)).as("ts"),
      TextOps.tokenCount(col(textCol)).as("n_tokens"))
    val grams = toks.filter(col("n_tokens") >= n)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), col("n_tokens").cast(IntegerType) - n),
          i => concat_ws(" ", slice(col("ts"), i + 1, lit(n))))))
      .toDF("id", "st", "g")
    val shared = grams.groupBy("g")
      .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("g")
    val covsets = grams.join(shared, "g")
      .select(col("id"), explode(sequence(col("st"), col("st") + (n - 1))).as("p"))
      .groupBy("id").agg(collect_set(col("p")).as("cov"))
    val covArr = coalesce(col("cov"), array().cast(ArrayType(IntegerType)))
    // size(NULL) is NULL under ANSI but legacy -1 with ANSI off
    // (spark.sql.legacy.sizeOfNull tracks !ansi) — branch on the null
    // explicitly so both modes agree (AnsiParitySpec pins this).
    val dupTokens = when(col("cov").isNull, lit(0L))
      .otherwise(size(col("cov")).cast(LongType))
    toks.join(covsets, Seq("id"), "left")
      .select(col("id"), col("n_tokens"), dupTokens.as("dup_tokens"),
        round(when(col("n_tokens") === 0, lit(0.0))
          .otherwise(dupTokens.cast(DoubleType) / col("n_tokens")), 6)
          .as("dup_frac"),
        when(col("n_tokens") === 0, lit(""))
          .otherwise(concat_ws(" ", transform(
            // array_except builds a hash set over cov → O(n_tokens+|cov|)
            // per row and keeps left order; a filter+array_contains form
            // would be O(n_tokens·|cov|), quadratic on a long fully-
            // duplicated document
            array_except(sequence(lit(0),
              col("n_tokens").cast(IntegerType) - 1), covArr),
            p => element_at(col("ts"), p + 1))))
          .as("cleaned"))
  }

  /** SimHash signatures for a whole corpus: 64-bit locality-sensitive
    * signature — per-token hashes vote ±1 on each bit; sign of the vote
    * sets the bit. Returns (id, sig: bigint).
    *
    * Same scale shape as [[minHashSignatures]]: explode tokens → hash each
    * token string once → 64 codegen'd `sum` aggregates (map-side partial),
    * then pack the sign bits with a bitwise OR fold. The shuffle carries
    * one 64-long row per document. */
  def simHashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simHashSignatures(df, textCol, idCol, c => xxhash64(c), 64)

  /** [[simHashSignatures]] over a caller-chosen token hash and bit width.
    * The default 64-bit xxhash64 is the fast path; passing
    * [[portableHash60]] (md5-derived, 60 bits) yields signatures any SQL
    * engine can recompute exactly — the oracle bridge that makes the
    * near-dup output hash-checkable end to end, organic pairs included. */
  def simHashSignatures(df: DataFrame, textCol: String, idCol: String,
                        hashFn: Column => Column, bits: Int): DataFrame = {
    require(bits > 0 && bits <= 64, s"bits must be in [1, 64], got $bits")
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"b$b")
    }
    val packed = (0 until bits)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    // spread the narrow (id, text) rows BEFORE the token explosion —
    // parallelizes the per-token hash without shipping exploded rows
    graft.util.Spread
      .forMapWork(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        explode(array_distinct(TextOps.tokens(lower(col("__t"))))).as("t"))
      .select(col("id"), hashFn(col("t")).as("h"))
      .groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), packed.as("sig"))
  }

  /** 60-bit md5-derived hash — bit-for-bit reproducible in any SQL engine
    * that has md5 (the last hex char of the 16-char prefix is dropped so
    * the value fits a SIGNED 64-bit integer in every dialect, no unsigned
    * overflow). Slower than xxhash64 (md5 is not codegen-trivial) — use
    * only where cross-engine replay matters, e.g. oracle-checked simhash
    * signatures or portable fingerprints shared with a warehouse. */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Hamming distance between two 64-bit signatures. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: docs whose signatures agree on one of the
    * four 16-bit sub-blocks (guaranteeing recall for distance ≤ 3 by the
    * pigeonhole principle), verified by full Hamming distance ≤ maxDist.
    *
    * EAGER + caller unpersist: same residency contract as
    * [[minHashNearDups]] — runs at call time, releases its corpus-sized
    * signature cache before returning, and hands back a persisted pair
    * frame the caller should `unpersist()` when done.
    *
    * maxBucketOccupancy: same fail-fast gate as [[minHashNearDups]] — a
    * corpus of identical documents collapses every 16-bit block key to one
    * bucket and the self-join goes O(n²); error out and point at
    * [[exactDedup]] instead. `<= 0` disables. */
  def simHashNearDups(df: DataFrame, textCol: String, idCol: String,
                      maxDist: Int = 3,
                      maxBucketOccupancy: Long = 100000L): DataFrame =
    signatureNearDups(simHashSignatures(df, textCol, idCol),
      maxDist, maxBucketOccupancy, "simHashNearDups",
      "run exactDedup first to collapse identical documents")

  /** Near-dup pairs over ANY (id, sig: bigint) 64-bit locality-sensitive
    * signature frame — the generic tail shared by [[simHashNearDups]] and
    * `Multimodal.imageNearDups` (perceptual dHash): 16-bit pigeonhole
    * blocks (full recall for Hamming distance ≤ 3), bucket self-join,
    * Hamming filter BEFORE the pair-dedup shuffle. Returns
    * (id_a, id_b, hamming), id_a < id_b.
    *
    * EAGER + caller unpersist, same bounded-residency contract as the rest
    * of the family: the signature frame is persisted for the self-join's
    * two sides and released before returning; the pair-sized result comes
    * back persisted. */
  def signatureNearDups(signatures: DataFrame, maxDist: Int,
                        maxBucketOccupancy: Long, opName: String,
                        remedy: String): DataFrame = Residency.eager { s =>
    // Persisted: the block self-join below consumes `sigs` on both sides,
    // which without the persist evaluates the signature pipeline (and the
    // corpus scan under it) twice — same finding as the minHashNearDups
    // accumulator test. One narrow (id, sig) row per doc.
    val sigs = s.persist(signatures.select(col("id"), col("sig")))
    val blocked = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("blk"),
          shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL).as("key"))): _*))
        .as("bb"))
      .select(col("id"), col("sig"), col("bb.blk"), col("bb.key"))
    Guards.checkBucketOccupancy(blocked, Seq("blk", "key"), maxBucketOccupancy,
      opName, remedy)
    val a = blocked.alias("a"); val b = blocked.alias("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDistance(col("a.sig"), col("b.sig")).as("hamming"))
      // hamming is a pure function of the pair, so filtering BEFORE the
      // pair-dedup shuffle is equivalent — and the shuffle then carries
      // only near pairs instead of every block collision.
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting", public —
    * the MOSS algorithm): hash every k-gram of the normalized text, slide
    * a window of `window` consecutive gram hashes, select each window's
    * MINIMUM hash (rightmost occurrence on ties). The two properties that
    * make it the standard local fingerprinter:
    *   - detection: any substring shared between two documents of length
    *     ≥ window + shingleK − 1 yields at least one SHARED selected
    *     fingerprint (both sides select the same minimum inside the
    *     shared region);
    *   - density: ~2/(window+1) of grams are selected, a constant-factor
    *     sketch independent of corpus size.
    * Returns DISTINCT (id, fp, pos) — pos is the 1-based gram start of
    * the selected occurrence, kept for match localization.
    *
    * Gram hashes come from [[portableHash60]], so every selection
    * decision replays exactly in SQL and the operator hash-checks.
    *
    * Scale shape: one codegen'd gram-explode pass, then a SINGLE
    * per-document WindowExec (partitioned by id — partition-parallel
    * across documents, never a global sort) hosting the row_number, the
    * partition count, and the min-of-(hash, −pos)-struct frame over rows
    * [−(window−1), 0]. The struct min implements the rightmost-min rule:
    * lexicographic struct order compares hash first, then the NEGATED
    * position, so ties resolve to the largest position. Documents with
    * fewer than `window` grams keep their final (partial) window, so
    * every non-empty document carries ≥ 1 fingerprint. */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         shingleK: Int = 5, window: Int = 4): DataFrame =
    winnowSelected(df, textCol, idCol, shingleK, window)
      .select(col("id"), col("sel.h").as("fp"), (-col("sel.np")).as("pos"))
      .distinct()

  /** Shared winnowing core: one selected-window row per gram position
    * (NOT yet distinct — [[winnowFingerprints]] dedups (id, fp, pos),
    * [[winnowNearDups]] dedups straight to (id, fp) so the pair path
    * pays ONE distinct shuffle, not two). `sel` is the winning
    * (hash, −pos) struct of each window. */
  private def winnowSelected(df: DataFrame, textCol: String, idCol: String,
                             shingleK: Int, window: Int): DataFrame = {
    require(shingleK > 0, s"shingleK must be > 0, got $shingleK")
    require(window > 0, s"window must be > 0, got $window")
    val norm = lower(regexp_replace(col(textCol), "\\s+", " "))
    // same parallelism guard as shingleRows: the per-gram md5 above a
    // one-row-group scan would otherwise run in a single task
    val grams = graft.util.Spread
      .forMapWork(df.select(col(idCol).as("id"), norm.as("t")))
      .select(col("id"), col("t"),
        explode(sequence(lit(1),
          greatest(length(col("t")) - (shingleK - 1), lit(1)))).as("pos"))
      .select(col("id"), col("pos"),
        portableHash60(col("t").substr(col("pos"), lit(shingleK))).as("h"))
    val ordered = Window.partitionBy("id").orderBy("pos")
    val frame = ordered.rowsBetween(-(window - 1), 0)
    grams
      .withColumn("rn", row_number().over(ordered))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("id")))
      .withColumn("sel", min(struct(col("h"), (-col("pos")).as("np"))).over(frame))
      .filter(col("rn") >= window || col("rn") === col("n"))
  }

  /** Incremental winnowing: probe a NEW batch's fingerprints against a
    * STORED fingerprint index — the (id, fp, pos) frame
    * [[winnowFingerprints]] emits, typically written to parquet once and
    * read back per batch. The steady-state form of [[winnowNearDups]]:
    * gram explode + window selection run only over the DELTA; the
    * reference side is a keyed join against the stored index, O(delta +
    * matching buckets), the corpus itself never rescans. Winnowing is
    * per-document (no cross-document state), so index ∪ delta selection
    * decisions are identical to a batch run over the union — probe
    * results provably match the batch operator's cross pairs. Returns
    * (new_id, ref_id, shared), shared ≥ minShared. */
  def winnowProbe(indexFps: DataFrame, newBatch: DataFrame, textCol: String,
                  idCol: String, shingleK: Int = 5, window: Int = 4,
                  minShared: Int = 2,
                  maxBucketOccupancy: Long = 100000L): DataFrame = Residency.eager { s =>
    require(minShared > 0, s"minShared must be > 0, got $minShared")
    val nf = s.persist(winnowSelected(newBatch, textCol, idCol, shingleK, window)
      .select(col("id").as("new_id"), col("sel.h").as("fp")).distinct())
    Guards.checkBucketOccupancy(nf, Seq("fp"), maxBucketOccupancy,
      "winnowProbe", "run exactDedup on the batch first")
    val idx = indexFps.select(col("id").as("ref_id"), col("fp"))
      .dropDuplicates("ref_id", "fp")
    nf.join(idx, Seq("fp"))
      .groupBy("new_id", "ref_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Near-dup pairs by SHARED winnowing fingerprints: documents whose
    * selected fingerprint sets intersect in ≥ `minShared` hashes. Where
    * MinHash estimates whole-document Jaccard, winnowing finds LOCAL
    * overlap — a long copied passage inside otherwise-different documents
    * is guaranteed to collide (detection property above), which whole-doc
    * similarity misses by construction. Returns (id_a, id_b, shared),
    * id_a < id_b, fully hash-checkable (deterministic portable hashes,
    * integer intersection counts).
    *
    * Scale shape: fingerprint sets join on the 60-bit fp key — bucketed
    * by hash, never an all-pairs product; the same occupancy fail-fast as
    * the LSH families guards against a degenerate corpus where one
    * fingerprint blankets everything. */
  def winnowNearDups(df: DataFrame, textCol: String, idCol: String,
                     shingleK: Int = 5, window: Int = 4, minShared: Int = 2,
                     maxBucketOccupancy: Long = 100000L): DataFrame = Residency.eager { s =>
    require(minShared > 0, s"minShared must be > 0, got $minShared")
    val fps = s.persist(winnowSelected(df, textCol, idCol, shingleK, window)
      .select(col("id"), col("sel.h").as("fp")).distinct())
    Guards.checkBucketOccupancy(fps, Seq("fp"), maxBucketOccupancy,
      "winnowNearDups",
      "run exactDedup first to collapse identical documents")
    val a = fps.alias("a"); val b = fps.alias("b")
    a.join(b, col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
