package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Residency

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two tiers, as a 100 TB pipeline needs:
  *   - brute-force cosine top-k: the exact baseline. The query set is
  *     broadcast (small side), the corpus streams — one map-side pass plus
  *     a per-query top-k aggregation; no corpus shuffle.
  *   - LSH-bucketed ANN (random hyperplane signatures): corpus hashed
  *     map-side into sign-pattern buckets; candidates only within matching
  *     buckets (multi-probe over bands), then exact rerank. Candidate count
  *     scales with bucket occupancy, not O(|corpus|·|queries|).
  *
  * All vector math is `zip_with`/`aggregate` higher-order expressions over
  * the array column — no UDF, no per-row JVM boxing beyond the array
  * itself. */
object Similarity {

  /** Dot product — a codegen'd native Expression (graft.functions.VectorDot);
    * the `aggregate(zip_with(...))` HOF formulation runs interpreted and
    * dominated pairwise-verification runtime. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = graft.functions.VectorExprs.norm(a)

  /** Cosine similarity; null-safe 0 for zero vectors. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosine(a, b)

  /** Pairwise cosine from a precomputed-norm pair — inside the candidate
    * verification joins the norms are computed ONCE per vector upstream,
    * not once per candidate pair. */
  private def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na > 0 && nb > 0, dot(a, b) / (na * nb)).otherwise(lit(0.0))

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors. `queries` must be the small side — it is broadcast; the
    * corpus is scanned once, and the per-query top-k runs as a window over
    * (query, candidate) scores partitioned by query id.
    *
    * ID-SPACE CONTRACT (whole topK family — [[bruteForceTopKAgg]],
    * [[quantizedTopK]], [[lshTopK]], [[Ivf]], [[Pq]]): a candidate whose
    * id EQUALS the query's id is excluded — the self-match filter for the
    * standard queries-drawn-from-the-corpus shape. If corpus and queries
    * are independent tables with overlapping id spaces, remap one side's
    * ids first, or the same-id candidate is silently dropped. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cosine", round(
        cosineWithNorms(col("qvec"), col("cvec"), col("qn"), col("cn")), 6))
    // rank on the ROUNDED score so near-ties at double-ulp level resolve to
    // the deterministic cand_id tie-break (cross-engine reproducible order)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rank"))
  }

  /** Shared tail of the aggregate top-k paths: per-query bounded-heap
    * aggregate → posexplode → 1-based rank, keeping the (score desc,
    * cand_id asc) tie-break of the window formulation. */
  private[sim] def topKExplode(scored: DataFrame, scoreCol: String, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(call_function("topk_desc", col(scoreCol), col("cand_id"), lit(k)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.id").as("cand_id"), col("e.score").as(scoreCol),
        (col("pos") + 1).cast(IntegerType).as("rank"))

  /** [[bruteForceTopK]] with the per-query top-k as a native bounded-heap
    * AGGREGATE (`topk_desc`) instead of a window: map-side partial
    * aggregation caps each partition's shuffle contribution at k rows per
    * query, where the window form shuffles and sorts EVERY scored
    * candidate — the difference between |corpus|·|queries| and
    * |queries|·k·partitions on the wire at 100 TB. Same rounded-score /
    * cand_id tie-break, so results are identical to the window form. */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame, k: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cosine", round(
        cosineWithNorms(col("qvec"), col("cvec"), col("qn"), col("cn")), 6))
    topKExplode(scored, "cosine", k)
  }

  /** Hard-negative mining for contrastive/embedding training (the
    * standard in-batch-negatives refinement, e.g. DPR, Karpukhin et al.
    * 2020 §4.2, public): for each query, the k MOST SIMILAR corpus
    * vectors with a DIFFERENT label — the near-misses a retrain most
    * needs to see. Identical plan to [[bruteForceTopKAgg]] (broadcast
    * queries, one corpus scan, bounded-heap top-k) with the label
    * mismatch riding the join predicate, so mismatched pairs are
    * dropped before scoring, not after. SQL null semantics on the label
    * (a NULL label matches nothing and mines nothing — filter upstream
    * if NULL should mean "unlabeled wildcard"). Returns
    * (query_id, cand_id, cosine, rank). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    require(k > 0, s"hardNegatives requires k > 0, got $k")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      col(labelCol).as("__ql"), norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"),
      col(labelCol).as("__cl"), norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("cand_id") && col("__ql") =!= col("__cl"))
      .withColumn("cosine", round(
        cosineWithNorms(col("qvec"), col("cvec"), col("qn"), col("cn")), 6))
    topKExplode(scored, "cosine", k)
  }

  /** Top-k by RECONSTRUCTED inner product over int8-quantized vectors
    * (MIPS over quantized storage): corpus and queries are quantized with
    * the codegen'd `vec_quantize_i8` (4× smaller than float32 at rest),
    * scored with `vec_dot_i8` — a pure byte-arithmetic inner loop — and
    * ranked per query. Same broadcast-queries/stream-corpus shape as
    * [[bruteForceTopK]]; at 100 TB the scan reads quantized bytes instead
    * of floats, cutting IO 4×. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorExprs
    val q = queries.select(col(idCol).as("query_id"),
      VectorExprs.quantizeI8(col(vecCol)).as("qq"))
    val c = corpus.select(col(idCol).as("cand_id"),
      VectorExprs.quantizeI8(col(vecCol)).as("cq"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("score", round(VectorExprs.dotI8(col("qq"), col("cq")), 6))
    topKExplode(scored, "score", k)
  }

  /** Random-hyperplane signatures for a whole corpus: `bits` sign bits per
    * vector, hyperplane components derived from a seeded hash of
    * (dimension, plane) — deterministic, no stored model, identical on
    * every executor. Returns (id, vec, sig: array<int>).
    *
    * Every arithmetic step replays exactly in any SQL engine with md5, so
    * each operator built on these planes ([[lshTopK]], [[rpTopK]],
    * [[rpProbe]], [[cosineNearDups]]) is hash-checkable against a SQL
    * oracle:
    *   - plane(pos, p) = h/2^51 − 1 ∈ [−1, 1), where h is the first 13
    *     hex chars of md5("pos_p_seed") — 52 bits, exactly representable
    *     in a double, and integer-by-power-of-two division is exact;
    *   - each projection term is quantized to an INTEGER,
    *     floor(x·plane·2^20 + 0.5) as a long, and the per-bit projection
    *     is the long SUM of those terms. Integer addition is
    *     order-independent, so Spark's unordered partial aggregation and
    *     a SQL engine's group sum produce identical sign bits; a float sum
    *     is order-dependent at the ulp level and could never be
    *     hash-compared.
    * The 2^-20 term quantization only perturbs hyperplane directions, so
    * the banded-LSH recall statistics are those of any random-hyperplane
    * family. See [[projections]] for the scale shape. */
  def rhpSignatures(df: DataFrame, idCol: String, vecCol: String,
                    bits: Int = 16, seed: Int = 42): DataFrame = {
    val proj = projections(df, idCol, vecCol, bits, seed)
    val signBits = array((0 until bits).map(p =>
      when(col(s"p$p") >= 0, lit(1)).otherwise(lit(0))): _*)
    proj.select(col("id"), col("vec"), signBits.as("sig"))
  }

  /** Shared projection core: n LONG columns p0..p{n-1} per vector, each
    * the integer sum of floor(x·plane·2^20 + 0.5) terms over the
    * md5-derived plane table (see [[rhpSignatures]] for why every step is
    * exactly SQL-replayable). [[rhpSignatures]] sign-packs these;
    * [[rpReduce]] keeps the values as the reduced-space coordinates.
    * Returns (id, vec, p0..p{n-1}).
    *
    * Scale shape: posexplode the vector → `n` codegen'd long-sum
    * aggregates with map-side partials, one row per vector on the
    * shuffle, rather than `n` interpreted higher-order-function passes
    * per row. The plane table depends only on (pos, plane, seed) — dims ×
    * n values — so it is computed ONCE driver-side (bit-identical
    * doubles) and broadcast as literal arrays; the per-row work is an
    * array lookup instead of an md5 over row-varying input (which cost
    * |corpus| · dims · bits hashes — 2.2 s vs 0.9 s at sf0.1). The SQL
    * oracles still re-derive every plane from md5 arithmetically, so the
    * cross-engine check covers the whole derivation. */
  private def projections(df: DataFrame, idCol: String,
                          vecCol: String, n: Int, seed: Int,
                          keepCols: Seq[String] = Nil): DataFrame = {
    // one-row dim probe (sanctioned scalar gate); empty input → no rows,
    // any plane table works, use dim 0
    val dim = df.select(size(col(vecCol)).as("d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    def plane(pos: Int, p: Int): Double = {
      val hex = md.digest(s"${pos}_${p}_$seed".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 13)
      java.lang.Long.parseLong(hex, 16).toDouble / 2251799813685248.0 - 1.0
    }
    val projAggs = (0 until n).map { p =>
      val planes = typedLit((0 until dim).map(pos => plane(pos, p)))
      sum(floor(col("x") * element_at(planes, col("pos") + 1) * lit(1048576.0)
        + lit(0.5)).cast(LongType)).as(s"p$p")
    }
    // attribute columns ride the per-id group as first() — constant within
    // an id's exploded rows, so the carry is exact
    val keepAggs = keepCols.map(c => first(col(c)).as(c))
    df.select(col(idCol).as("id") +: col(vecCol).as("vec") +: keepCols.map(col): _*)
      .select(col("id") +: col("vec") +: keepCols.map(col) :+
        posexplode(col("vec")).as(Seq("pos", "x0")): _*)
      .select(col("id") +: col("vec") +: col("pos") +:
        col("x0").cast(DoubleType).as("x") +: keepCols.map(col): _*)
      .groupBy("id")
      .agg(first(col("vec")).as("vec"), projAggs ++ keepAggs: _*)
  }

  /** Random-projection (Johnson–Lindenstrauss) reduction: each vector is
    * projected onto `dimOut` seeded pseudo-random hyperplanes — the
    * [[rhpSignatures]] planes and integer-quantized terms, with the LONG
    * sums kept instead of sign-packed. Returns (id, vec, r: array<long>) —
    * an 8× smaller vector whose inner products approximate the originals'
    * (JL lemma, Johnson & Lindenstrauss 1984), so a reduced-space
    * shortlist prunes the candidate set before any full-width arithmetic
    * runs — plus any `keepCols` attribute columns denormalized onto the
    * reduced rows (the filtered-search carry, [[Ivf.assignPortable]]'s
    * keepCols contract for the RP family).
    *
    * Every reduced coordinate and so every reduced-space inner product is
    * exact integer arithmetic, order-independent under partial
    * aggregation and replayable in SQL. Component magnitudes are
    * ≤ dim·2^20 ≈ 2^26 (|x| ≤ 1 embeddings), so a dimOut-term dot stays
    * ≤ 2^56 — inside long range, but NOT exactly representable as double,
    * which is why ranking must compare the LONG, never a double cast. */
  def rpReduce(df: DataFrame, idCol: String, vecCol: String,
               dimOut: Int = 8, seed: Int = 42,
               keepCols: Seq[String] = Nil): DataFrame = {
    require(dimOut > 0, s"rpReduce requires dimOut > 0, got $dimOut")
    projections(df, idCol, vecCol, dimOut, seed, keepCols)
      .select(col("id") +: col("vec") +:
        array((0 until dimOut).map(p => col(s"p$p")): _*).as("r") +:
        keepCols.map(col): _*)
  }

  /** Shortlist + exact rerank over PRECOMPUTED (id, vec, r) frames.
    * Candidates are scored per query by the reduced-space inner product
    * (dimOut terms — 8× cheaper than a full-width dot; the unrolled sum
    * of codegen'd element_at products, since an aggregate/zip_with HOF
    * would run interpreted on every scored pair). The shortlist ranks by
    * row_number over that exact LONG score — the bounded-heap
    * `topk_desc` ranks doubles only, lossy past 2^53 (see [[rpReduce]]) —
    * and only the top `shortlist` pay the full-width rounded-cosine
    * rerank. The SQL oracles replay this exact formulation. */
  private def rpRerank(corpusRed: DataFrame, queriesRed: DataFrame,
                       k: Int, shortlist: Int, dimOut: Int): DataFrame = {
    val q = queriesRed.select(col("id").as("query_id"), col("vec").as("qvec"),
      col("r").as("qr"))
    val c = corpusRed.select(col("id").as("cand_id"), col("vec").as("cvec"),
      col("r").as("cr"))
    val rdot = (0 until dimOut).map(p =>
      element_at(col("qr"), p + 1) * element_at(col("cr"), p + 1))
      .reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rscore").desc, col("cand_id"))
    val cand = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("rscore", rdot)
      .withColumn("rrank", row_number().over(w))
      .filter(col("rrank") <= shortlist)
      .withColumn("cosine", round(cosine(col("qvec"), col("cvec")), 6))
    topKExplode(cand, "cosine", k)
  }

  /** JL-reduced ANN: [[rpReduce]] both sides, shortlist in the reduced
    * space, exact rerank to top-k. The whole pipeline replays in SQL, so
    * the result rows are hash-checked at any shortlist (`sim_rp_topk`);
    * `shortlist >= |corpus|` is the EXACTNESS mode (the lshTopK bits=0
    * analog): every candidate survives the shortlist, so the result is
    * provably identical to brute force while the whole RP plumbing still
    * runs (`sim_rp_exact`). */
  def rpTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             dimOut: Int = 8, shortlist: Int = 20,
             seed: Int = 42): DataFrame = {
    require(k > 0 && shortlist >= k,
      s"rpTopK requires shortlist >= k > 0, got k=$k shortlist=$shortlist")
    rpRerank(rpReduce(corpus, idCol, vecCol, dimOut, seed),
      rpReduce(queries, idCol, vecCol, dimOut, seed), k, shortlist, dimOut)
  }

  /** O(delta) incremental ingest into a stored RP reduced frame — the RP
    * member of the index-maintenance family (BM25 `appendDelta`, IVF
    * `appendToIndex`, IVF-PQ `appendToResidualIndex`): project ONLY the
    * delta under the build-time (dimOut, seed) and union. The projection
    * is per-vector, so merged ≡ rebuilt exactly (`sim_rp_merge` shares
    * the full-corpus probe oracle); the value at 100 TB is that the
    * corpus-sized projection pass — the expensive half — never re-runs. */
  def rpAppendReduced(reduced: DataFrame, delta: DataFrame,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      dimOut: Int = 8, seed: Int = 42,
                      keepCols: Seq[String] = Nil): DataFrame =
    reduced.unionByName(
      rpReduce(delta, idCol, vecCol, dimOut, seed, keepCols))

  /** O(removed) deletion from a stored RP reduced frame — the
    * [[rpAppendReduced]] compliance twin: anti-join the (id, vec, r)
    * rows against the broadcastable removal set. */
  def rpRemoveReduced(reduced: DataFrame, removedIds: DataFrame,
                      idCol: String = "vec_id"): DataFrame =
    reduced.join(broadcast(removedIds.select(col(idCol).as("id"))),
      Seq("id"), "left_anti")

  /** Probe a STORED random-projection index — the steady-state form that
    * completes the stored-probe family (LSH/PQ/IVF/IVF-PQ all have one):
    * `reduced` is the (id, vec, r) frame [[rpReduce]] produced,
    * written once to parquet; each probe only projects the QUERIES
    * (|queries|·dim work, nothing corpus-sized), ranks the reduced-space
    * shortlist by the exact LONG dot, and pays the full-width rerank on
    * the survivors. The corpus is never re-projected — at 100 TB the
    * projection pass is the expensive half, and this splits it off
    * exactly like [[graft.sim.Ivf]]'s build/probe seam. The projection
    * is identified by (dimOut, seed): probing with a different pair than
    * the build silently scores garbage, so callers persist those two
    * ints alongside the frame. Reduced coordinates are exact LONGs, so
    * the whole probe replays in SQL — hash-checkable even at a partial
    * shortlist. */
  def rpProbe(reduced: DataFrame, queries: DataFrame, k: Int,
              shortlist: Int = 20, dimOut: Int = 8, seed: Int = 42,
              idCol: String = "vec_id", vecCol: String = "embedding",
              filter: Option[Column] = None): DataFrame = {
    require(k > 0 && shortlist >= k,
      s"rpProbe requires shortlist >= k > 0, got k=$k shortlist=$shortlist")
    // the predicate lands on the stored reduced frame BEFORE the
    // shortlist ranking — shortlist survivors (and therefore the k
    // results) are MATCHING survivors, and on a stored layout the
    // equality rides the reduced frame's parquet scan as a data filter.
    // A post-shortlist filter would be wrong twice: it under-fills k AND
    // lets non-matching candidates crowd matching ones out of the
    // shortlist.
    rpRerank(filter.map(reduced.filter).getOrElse(reduced),
      rpReduce(queries, idCol, vecCol, dimOut, seed), k, shortlist, dimOut)
  }

  /** k-NN majority-vote classification: each query's k exact nearest
    * neighbors (self excluded, [[bruteForceTopKAgg]] ranking) vote with
    * their `labelCol`, ties breaking (count desc, label asc). Returns
    * (query_id, label, pred, hit) — truth, prediction, 0/1 hit; the mean
    * of `hit` is the k-NN accuracy. Deterministic end to end (rounded
    * cosines, integer votes, ordered argmax), so output AND quality are
    * SQL-replayable. The argmax window runs over ≤ |queries|·|labels|
    * vote rows, never the corpus; the corpus-sized work is the one
    * broadcast-queries scoring pass the top-k aggregate already bounds. */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    require(k > 0, s"knnClassify requires k > 0, got $k")
    // |queries|·k neighbor rows broadcast onto the corpus labels — the
    // label lookup never shuffles the corpus
    val nb = bruteForceTopKAgg(corpus, queries, k, idCol, vecCol)
    val votes = corpus
      .select(col(idCol).as("cand_id"), col(labelCol).as("nl"))
      .join(broadcast(nb.select(col("query_id"), col("cand_id"))),
        Seq("cand_id"))
      .groupBy(col("query_id"), col("nl")).agg(count(lit(1)).as("v"))
    val w = Window.partitionBy("query_id").orderBy(col("v").desc, col("nl"))
    val pred = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("nl").as("pred"))
    queries.select(col(idCol).as("query_id"), col(labelCol).as("label"))
      .join(pred, Seq("query_id"))
      .select(col("query_id"), col("label"), col("pred"),
        (col("label") === col("pred")).cast(IntegerType).as("hit"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998,
    * "The Use of MMR, Diversity-Based Reranking...", public): greedily
    * pick `k` corpus vectors balancing relevance to the query against
    * redundancy with what is already selected —
    *   score(d) = round(λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), 6)
    * where rel(d) and every pairwise sim are ROUND-6 cosines (rounding
    * before combination keeps every step exactly SQL-replayable; the
    * λ-scaling and subtraction are then single IEEE operations). Ties
    * break by cand_id; an empty selected set has redundancy 0. Returns
    * (rank, cand_id, score) — the diverse top-k a curation pipeline
    * wants where plain top-k returns k near-copies of one item.
    *
    * Scale shape: the relevance frame (one broadcast-query corpus pass,
    * persisted fixed-width rows) is scanned once per round with the ≤ k
    * selected vectors riding as broadcast literals; each round's argmax
    * is a TakeOrderedAndProject(1) bounded heap, never a global sort;
    * driver state is k vectors. O(k) corpus passes total — the standard
    * distributed MMR cost, k being small by definition. */
  def mmrSelect(corpus: DataFrame, query: DataFrame, k: Int,
                lambda: Double = 0.7, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"mmrSelect requires k > 0, got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1], got $lambda")
    val spark = corpus.sparkSession
    import spark.implicits._
    // order before limit(1): a multi-row query frame must still yield a
    // deterministic, SQL-replayable selection (lowest id wins)
    val q = query.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .orderBy(col("query_id")).limit(1)
    Residency.scoped { s =>
      val rel = s.persist(corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"))
        .join(broadcast(q), col("query_id") =!= col("cand_id"))
        .select(col("cand_id"), col("cvec"),
          round(cosine(col("qvec"), col("cvec")), 6).as("rel")))
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
      val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
      var rank = 0
      var exhausted = false
      while (rank < k && !exhausted) {
        rank += 1
        val redundancy =
          if (pickedVecs.isEmpty) lit(0.0)
          else pickedVecs.map(v => round(cosine(col("cvec"), typedLit(v)), 6))
            .reduce((a, b) => greatest(a, b))
        val remaining =
          if (picked.isEmpty) rel
          else rel.filter(!col("cand_id").isin(picked.toSeq.map(_._2): _*))
        val top = remaining
          .select(col("cand_id"), col("cvec"),
            round(lit(lambda) * col("rel") - lit(1.0 - lambda) * redundancy, 6)
              .as("score"))
          .orderBy(col("score").desc, col("cand_id"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          picked += ((rank, top(0).getAs[Long]("cand_id"),
            top(0).getAs[Double]("score")))
          pickedVecs += top(0).getAs[scala.collection.Seq[Float]]("cvec").toSeq
        }
      }
      picked.toSeq.toDF("rank", "cand_id", "score")
    }
  }

  /** One (band, bucket) struct per band of a `sig` column, exploded: band
    * b's bucket is the concatenation of its `bits / bands` sign bits. */
  private def bandBuckets(bits: Int, bands: Int): Column = {
    val rowsPerBand = bits / bands
    explode(transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        concat_ws("", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bucket"))))
  }

  /** LSH ANN over [[rhpSignatures]]: signatures split into `bands`;
    * candidate pairs share a band bucket; exact cosine rerank keeps top-k
    * per query. Recall is tunable via bits/bands; at 100 TB the bucket
    * join replaces the full cross product. Every step replays in SQL, so
    * the result rows are hash-checked at the production bits/bands
    * (`sim_lsh_ann`), and so is recall against brute force
    * (`sim_lsh_recall`).
    *
    * `bits = 0` is the EXACTNESS mode (the [[Ivf]] `nprobe = nlist`
    * analog): zero hyperplanes put every vector in one universal bucket,
    * so every pair is a candidate and the result is provably identical to
    * brute force — while the whole LSH plumbing (banding, bucket join,
    * candidate dedup, heap rerank) still runs (`sim_lsh_exact`). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              bits: Int = 16, bands: Int = 4, seed: Int = 42): DataFrame = {
    require(bits >= 0 && bands > 0 && bits % bands == 0,
      s"need bits >= 0 divisible by bands > 0; got bits=$bits bands=$bands")
    def banded(df: DataFrame, id: String, vec: String) =
      if (bits == 0)
        df.select(col(idCol).as(id), col(vecCol).as(vec),
          lit(0).as("band"), lit("").as("bucket"))
      else rhpSignatures(df, idCol, vecCol, bits, seed)
        .select(col("id").as(id), col("vec").as(vec), bandBuckets(bits, bands).as("bb"))
        .select(col(id), col(vec), col("bb.band"), col("bb.bucket"))
    val qb = banded(queries, "query_id", "qvec")
    val cb = banded(corpus, "cand_id", "cvec")
    val cand = cb.join(qb.hint("broadcast"),
        qb("band") === cb("band") && qb("bucket") === cb("bucket") &&
        col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("qvec"), col("cvec"))
      .dropDuplicates("query_id", "cand_id")
      // round BEFORE ranking, like bruteForceTopK: near-ties at double-ulp
      // level resolve to the deterministic cand_id tie-break
      .withColumn("cosine", round(cosine(col("qvec"), col("cvec")), 6))  // codegen'd
    // rerank via the bounded-heap aggregate (k rows per query per
    // partition on the shuffle); same (cosine desc, cand_id) tie-break
    topKExplode(cand, "cosine", k)
  }

  /** Overlap@k recall of an ANN top-k result against the exact top-k:
    * ONE row (k, n_queries, n_hits, mean_recall). Both inputs are
    * (query_id, cand_id, …) frames; n_queries comes from the EXACT side,
    * so a query the ANN lost entirely still counts k misses.
    * mean_recall = n_hits / (n_queries · k) rounded to 6 — an
    * all-integer ratio, hash-comparable cross-engine. This is the metric
    * that turns "recall is pinned by a ScalaTest floor" into a NUMBER the
    * oracle checks every round. */
  def recallAtK(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"recallAtK requires k > 0, got $k")
    val hits = ann.select(col("query_id"), col("cand_id"))
      .join(exact.select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"))
      .agg(count(lit(1)).as("n_hits"))
    val nq = exact.agg(countDistinct(col("query_id")).as("n_queries"))
    nq.crossJoin(hits)
      .select(lit(k).as("k"), col("n_queries"), col("n_hits"),
        // zero queries → recall undefined (null), not an ANSI
        // divide-by-zero crash on a filtered-to-empty exact side
        round(when(col("n_queries") > 0,
          col("n_hits").cast(DoubleType) / (col("n_queries") * lit(k))), 6)
          .as("mean_recall"))
  }

  /** Multi-k recall curve — [[recallAtK]] generalized to one frame of
    * (k, n_queries, n_hits, mean_recall) rows for every k in `ks`: a hit
    * for cutoff k is a (query, cand) pair ranked ≤ k on BOTH sides, so
    * the matched-pair frame is built ONCE (join on ids, keep
    * max(ann_rank, exact_rank)) and each pair contributes to every
    * cutoff ≥ that max — no per-k re-ranking, no re-scan. Both inputs
    * must carry at least max(ks) ranks. The curve is how an ANN
    * parameter sweep is actually read: recall@1 (is the single best hit
    * found) vs recall@10 (is the neighborhood found) diverge exactly
    * when the index recalls neighborhoods but misorders them. */
  def recallCurve(ann: DataFrame, exact: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0),
      s"recallCurve needs positive cutoffs, got $ks")
    val pairs = ann
      .select(col("query_id"), col("cand_id"), col("rank").as("arank"))
      .join(exact.select(col("query_id"), col("cand_id"),
        col("rank").as("erank")), Seq("query_id", "cand_id"))
      .select(greatest(col("arank"), col("erank")).as("m"))
    val hits = pairs
      .select(explode(typedLit(ks)).as("k"), col("m"))
      .filter(col("m") <= col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_hits"))
    val spark = ann.sparkSession
    import spark.implicits._
    ks.toDF("k")
      .crossJoin(exact.agg(countDistinct(col("query_id")).as("n_queries")))
      .join(hits, Seq("k"), "left")
      .select(col("k"), col("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(when(col("n_queries") > 0,
          coalesce(col("n_hits"), lit(0L)).cast(DoubleType) /
            (col("n_queries") * col("k"))), 6).as("mean_recall"))
  }

  /** Embedding near-dup pairs: all pairs with cosine ≥ threshold found via
    * LSH buckets + exact verification (the embedding member of the dedup
    * family).
    *
    * EAGER + caller unpersist: same bounded-residency contract as
    * `Dedup.minHashNearDups` — the pipeline runs at call time, the
    * corpus-sized signature cache is released before returning, and the
    * returned (pair-sized) frame is persisted; repeat callers in a
    * long-lived session should `unpersist()` it when done. For lazy
    * composition use [[rhpSignatures]], which persists nothing.
    *
    * maxBucketOccupancy: fail-fast gate shared with the Dedup LSH family —
    * a constant embedding column sends every row to one bucket per band
    * and the self-join goes O(n²); error out immediately instead of
    * launching a cluster-killing stage. `<= 0` disables. */
  def cosineNearDups(df: DataFrame, threshold: Double,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     bits: Int = 32, bands: Int = 4, seed: Int = 42,
                     maxBucketOccupancy: Long = 100000L): DataFrame = Residency.eager { s =>
    // lshTopK's band-config validation minus its bits = 0 exactness mode:
    // rowsPerBand = 0 would send every row to one empty bucket (a
    // misleading "degenerate corpus" guard failure on healthy data), and a
    // non-dividing bands count silently ignores the trailing signature bits
    require(bits > 0 && bands > 0 && bits % bands == 0,
      s"need bits > 0 divisible by bands > 0; got bits=$bits bands=$bands")
    // Default 8-bit band buckets: 2-bit buckets (the old 16/8 split) give
    // only 4 buckets/band → candidate pairs ~ n²/4 per band, a quadratic
    // blowup that showed up even at 1k vectors (12 s) and is fatal at
    // scale. 8-bit bands keep recall ~0.9 at cosine 0.95 while cutting
    // candidates by ~64×.
    // The signatures' one-row width probe runs before their pass, so it
    // reads the input through this cache (its first partition fills it)
    // instead of running the caller's lineage a second time; released as
    // soon as the signatures are materialized.
    val input = s.persist(df.select(col(idCol), col(vecCol)))
    // Persisted: both sides of the bucket self-join read this frame, which
    // without the persist evaluates the posexplode signature aggregate
    // (and the corpus scan) twice — plan-canonicalization reuse is not
    // dependable across AQE's per-consumer rewrites (see Dedup). Released
    // when the scope exits (bounded residency).
    val sigs = s.persist(rhpSignatures(input, idCol, vecCol, bits, seed)
      .withColumn("nrm", norm(col("vec"))))
    val banded = sigs
      .select(col("id"), col("vec"), col("nrm"), bandBuckets(bits, bands).as("bb"))
      .select(col("id"), col("vec"), col("nrm"), col("bb.band"), col("bb.bucket"))
    graft.util.Guards.checkBucketOccupancy(
      banded.select("band", "bucket"), Seq("band", "bucket"), maxBucketOccupancy,
      "cosineNearDups", "drop constant/zero embeddings or exact-dedup vectors first")
    s.release(input)  // the guard's pass materialized `sigs`
    val a = banded.alias("a"); val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.vec").as("va"), col("b.vec").as("vb"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Per-group mean embedding (centroids): the aggregate behind dataset
    * cartography, per-domain/language embedding drift monitoring, and
    * seeding coarse quantizers. Returns (groupCol, n_vecs,
    * centroid: array<double> rounded to 6 decimals).
    *
    * Scale shape: posexplode the vector → ONE codegen'd (group, pos)
    * avg/count aggregate with map-side partials — the shuffle carries
    * |groups| × dims fixed-width rows, never the corpus — then a tiny
    * second aggregate reassembles components into an array ordered by
    * position. No vector ever crosses the wire whole; compare a naive
    * `collect_list(embedding)`-then-average, which ships every vector to
    * one reducer per group. */
  def groupCentroids(df: DataFrame, groupCol: String,
                     vecCol: String = "embedding"): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos"))
      .agg(round(avg(col("x").cast(DoubleType)), 6).as("x"),
        count(lit(1)).as("c"))
      .groupBy(col(groupCol))
      .agg(max(col("c")).as("n_vecs"),
        transform(array_sort(collect_list(struct(col("pos"), col("x")))),
          e => e.getField("x")).as("centroid"))

  /** Outlier / mislabel detection (dataset-cartography style): each
    * vector's cosine to its OWN group centroid, keeping the `k` least
    * similar per group — the rows to audit when a label bucket is
    * suspected of contamination. Returns (groupCol, idCol, cosine, rank)
    * with rank 1 = most anomalous.
    *
    * Scale shape: centroids are |groups| rows — broadcast back onto the
    * corpus (map-only scoring with the codegen'd native cosine; the
    * corpus never shuffles for the join); the per-group bottom-k is a
    * group-keyed window. Ranking is on the ROUNDED score with an id
    * tie-break, so results are deterministic and engine-reproducible. */
  def centroidOutliers(df: DataFrame, groupCol: String, idCol: String,
                       k: Int, vecCol: String = "embedding"): DataFrame = {
    val cents = groupCentroids(df, groupCol, vecCol)
      .select(col(groupCol), col("centroid"))
    val scored = df.join(broadcast(cents), groupCol)
      .withColumn("cosine", round(cosine(col(vecCol), col("centroid")), 6))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("cosine").asc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(groupCol), col(idCol), col("cosine"), col("rank"))
  }
}
