package graft.sim

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorExprs

/** A built IVF index: `centroids` is the tiny (cell, cent) coarse-quantizer
  * frame (driver-side constants rendered as a literal frame — broadcast
  * wherever it is joined), `assigned` is the corpus with its cell
  * assignment and precomputed norm (cand_id, cvec, cell, cn).
  *
  * BOTH halves are plain DataFrames so the index persists as ordinary
  * tables: write `assigned` partitioned by `cell` (then a probe of
  * `nprobe` cells prunes partitions at the scan — the 100 TB layout) and
  * `centroids` as a one-file lookup; read them back and probe without
  * ever retraining. [[Ivf.probeTopK]] accepts the re-read frames
  * unchanged (round-trip pinned by IvfSpec). */
case class IvfIndex(centroids: DataFrame, assigned: DataFrame)

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to [[Similarity.lshTopK]], trading a small training step for
  * much better candidate selectivity on clustered embeddings:
  *
  *   1. coarse quantizer: k-means over the corpus (MLlib, seeded) → `nlist`
  *      centroid cells;
  *   2. corpus assignment: map-only `model.transform`, one cell id per
  *      vector — at 100 TB this is the partition key of the ANN index;
  *   3. query probing: each query scores the `nlist` centroids (driver-side
  *      constants, broadcast literal frame) and keeps the `nprobe` nearest
  *      cells;
  *   4. candidates = corpus ⋈ probes on cell id (shuffle on cell — bounded
  *      by nprobe/nlist of the corpus), exact cosine rerank keeps top-k.
  *
  * TRAIN ONCE, PROBE MANY: [[buildIndex]] runs steps 1–2 and returns a
  * storable [[IvfIndex]]; [[probeTopK]] runs steps 3–4 against it. A
  * production deployment trains nightly and serves probes all day —
  * [[ivfTopK]] (build + probe in one call) is the self-contained form the
  * registry oracle checks.
  *
  * `nprobe = nlist` degenerates to exact brute force (every cell probed) —
  * the property the recall test pins. */
object Ivf {

  /** Steps 1–2: train the coarse quantizer and assign every corpus vector
    * to its cell. One k-means fit + one map-only transform; no shuffle.
    * Store `assigned` partitioned by `cell` to make probes partition-prune. */
  def buildIndex(corpus: DataFrame, nlist: Int = 16,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 seed: Long = 42L): IvfIndex = {
    val spark = corpus.sparkSession
    val fv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"))
      .withColumn("__fv", array_to_vector(col("cvec")))
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("__fv").setPredictionCol("__cell")
      .fit(fv.select("__fv"))
    val assigned = model.transform(fv).select(
      col("cand_id"), col("cvec"), col("__cell").as("cell"),
      VectorExprs.norm(col("cvec")).as("cn"))
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }.toSeq
      .toDF("cell", "cent")
    IvfIndex(centroids, assigned)
  }

  /** Steps 3–4: probe the `nprobe` nearest cells per query and rerank
    * candidates exactly. The index frames may come straight from
    * [[buildIndex]] or from storage — no retraining either way.
    *
    * `filter` is the FILTERED-ANN hook ("nearest neighbors WHERE
    * lang = 'en'" — real retrieval serving is almost always
    * predicated): an optional predicate over the assigned frame's
    * attribute columns ([[assignPortable]]'s `keepCols` carries them),
    * applied to the candidate side BELOW the top-k — on a
    * cell-partitioned stored layout it reaches the probed cells' scan,
    * so the heap never sees a filtered-out candidate and k survivors
    * are k MATCHING survivors (post-filtering a plain top-k would
    * under-fill). */
  def probeTopK(index: IvfIndex, queries: DataFrame, k: Int,
                nprobe: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding",
                filter: Option[Column] = None): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qn", VectorExprs.norm(col("qvec")))
    // L2 distance² to each centroid: |q|² − 2q·c + |c|² (norm terms via the
    // codegen'd dot). Rank per query, probe the nprobe nearest cells.
    val scoredCells = q.crossJoin(broadcast(index.centroids))
      .withColumn("__dist2",
        VectorExprs.dot(col("qvec"), col("qvec"))
          - lit(2.0) * VectorExprs.dot(col("qvec"), col("cent"))
          + VectorExprs.dot(col("cent"), col("cent")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("__dist2"), col("cell"))
    val probes = scoredCells
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("qvec"), col("qn"), col("cell"))

    val assigned = filter.map(index.assigned.filter).getOrElse(index.assigned)
    val cand = assigned.join(probes, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", round(
        when(col("qn") > 0 && col("cn") > 0,
          VectorExprs.dot(col("qvec"), col("cvec")) / (col("qn") * col("cn")))
          .otherwise(lit(0.0)), 6))
    // exact rerank via the bounded-heap topk_desc aggregate: partial
    // map-side heaps cap the rerank shuffle at k rows per query per
    // partition; (cosine desc, cand_id) tie-break matches the window form
    cand.groupBy(col("query_id"))
      .agg(call_function("topk_desc", col("cosine"), col("cand_id"), lit(k)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.id").as("cand_id"), col("e.score").as("cosine"),
        (col("pos") + 1).cast(IntegerType).as("rank"))
  }

  /** Self-contained build + probe — the registry-oracle form. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              seed: Long = 42L): DataFrame =
    probeTopK(buildIndex(corpus, nlist, idCol, vecCol, seed),
      queries, k, nprobe, idCol, vecCol)

  /** PORTABLE IVF — the oracle bridge of the IVF family (`sim_ivf_recall`),
    * completing the recall triad with [[Similarity.lshTopK]] and
    * [[Pq.pqTopKPortable]]: the k-means coarse quantizer is replaced by a
    * deterministic id-strided centroid sample (k-means init with zero
    * Lloyd iterations), and BOTH the corpus assignment and the query probe
    * rank cells by the ROUNDED squared-L2 with a (dist, cell) tie-break —
    * every step replays exactly in SQL, so PARTIAL-probe
    * (nprobe < nlist) recall against brute force becomes a hash-checked
    * number rather than a ScalaTest floor. [[ivfTopK]] (trained) stays the
    * production form; the sampled assignment here pays one corpus groupBy
    * the trained form's map-only `model.transform` avoids — acceptable for
    * the metric query, not the serving path. */
  def ivfTopKPortable(corpus: DataFrame, queries: DataFrame, k: Int,
                      nlist: Int = 8, nprobe: Int = 2, stride: Int = 29,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = portableCentroids(corpus, nlist, stride, idCol, vecCol)
    probePortable(IvfIndex(cents, assignPortable(corpus, cents, idCol, vecCol)),
      queries, k, nprobe, idCol, vecCol)
  }

  /** Deterministic id-strided centroid table (k-means init with zero
    * Lloyd iterations) — the coarse quantizer of the PORTABLE IVF family,
    * extracted so build, probe and incremental append all share one
    * definition (and so the SQL oracle replays it from the table alone). */
  def portableCentroids(corpus: DataFrame, nlist: Int = 8, stride: Int = 29,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(nlist > 1, s"nlist must be > 1, got $nlist")
    require(stride > 0, s"stride must be > 0, got $stride")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sampled = corpus.filter(col(idCol) % stride === 0)
      .orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).as[Array[Float]].collect()
    require(sampled.length == nlist,
      s"corpus has only ${sampled.length} ids divisible by stride=$stride; " +
        s"need nlist=$nlist (lower stride or nlist)")
    sampled.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("cell", "cent")
  }

  /** Rounded squared-L2 to the row's `cent` column — the portable cell
    * ranking both assignment and probing order by (round-6 so the SQL
    * oracle replays it bit-for-bit). */
  private def portableDist2(v: Column): Column = round(
    VectorExprs.dot(v, v) - lit(2.0) * VectorExprs.dot(v, col("cent")) +
      VectorExprs.dot(col("cent"), col("cent")), 6)

  /** FROZEN-centroid assignment — the O(delta) kernel of both the
    * portable build and [[appendToIndex]]: each vector scores the
    * broadcast centroid table and keeps the (round-6 dist², cell)
    * minimum. Depends only on (vector, centroids), which is exactly what
    * makes the index incrementally maintainable: assigning a delta later
    * produces the same rows a full rebuild under the same centroids
    * would. Returns (cand_id, cvec, cell, cn) — [[probeTopK]]'s assigned
    * schema, so stored layouts serve either family.
    *
    * `keepCols` carries named ATTRIBUTE columns (language, date,
    * source…) through to the assigned frame — the storage half of
    * filtered ANN: a predicate over these columns composes with the
    * cell-partitioned layout at probe time ([[probePortable]]'s
    * `filter`). Functionally dependent on the id, so they ride the
    * groupBy as `first`. */
  def assignPortable(vectors: DataFrame, centroids: DataFrame,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     keepCols: Seq[String] = Nil): DataFrame = {
    val kept = keepCols.map(col)
    val aggs = first(col("cvec")).as("cvec") +:
      keepCols.map(c => first(col(c)).as(c))
    vectors.select(col(idCol).as("cand_id") +: col(vecCol).as("cvec") +: kept: _*)
      .crossJoin(broadcast(centroids))
      .select(col("cand_id") +: col("cvec") +:
        struct(portableDist2(col("cvec")).as("d"), col("cell").as("c")).as("__dc") +:
        kept: _*)
      .groupBy("cand_id")
      .agg(min(col("__dc")).getField("c").as("cell"), aggs: _*)
      .select(col("cand_id") +: col("cvec") +: col("cell") +:
        VectorExprs.norm(col("cvec")).as("cn") +: kept: _*)
  }

  /** MAP-ONLY frozen-centroid assignment — [[assignPortable]]'s kernel
    * with the centroid table folded into the EXPRESSION as literals: the
    * (≤ nlist)-row centroid frame is collected once (the sanctioned
    * small collect every probe already pays to broadcast it) and each
    * vector's cell is `least` over nlist (round-6 dist², cell) structs —
    * the same lexicographic minimum and tie-break as `min(struct(d, c))`
    * in the aggregate form, value-identical by construction.
    *
    * Why it exists: the aggregate form needs a crossJoin + groupBy,
    * which on a STREAM is a stateful aggregation over an unbounded key
    * space. This form is one codegen'd projection — no shuffle, no
    * state, no watermark — so it routes arriving documents to their
    * topic cells at INGEST (stream or batch): compose with a
    * `partitionBy("cell")` file sink for a streaming topic-sharded
    * landing zone, or with [[graft.ops.Ops.temperatureMix]] for on-arrival
    * semantic mixture control. The literal distances constant-fold at
    * plan time; per row the engine evaluates nlist dot products over the
    * already-loaded vector — the arithmetic a broadcast join would do,
    * without the join machinery. Returns (cand_id, cell). */
  def assignMapOnly(vectors: DataFrame, centroids: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val cents = collectCentroids(centroids)
    val best = mapOnlyBest(cents, col("__v"), col("__vv"))
    vectors
      .select(col(idCol).as("cand_id"), col(vecCol).as("__v"))
      .withColumn("__vv", VectorExprs.dot(col("__v"), col("__v")))
      .select(col("cand_id"), best.as("cell"))
  }

  /** [[assignMapOnly]] as an ATTACHABLE COLUMN — `withColumn("cell",
    * Ivf.mapOnlyCell(centroids, col("embedding")))` — for pipelines
    * that must keep their payload columns through routing (the
    * streaming curation shape: route → mix → gate in one stateless
    * projection chain). Same literal-folded arithmetic and tie-break as
    * the frame form; `dot(v, v)` is inlined per centroid alternative
    * (nlist extra dot products per row — the price of being a plain
    * Column with no projection to alias into). */
  def mapOnlyCell(centroids: DataFrame, vec: Column): Column = {
    val cents = collectCentroids(centroids)
    mapOnlyBest(cents, vec, VectorExprs.dot(vec, vec))
  }

  private def collectCentroids(centroids: DataFrame): Array[(Int, Array[Float])] = {
    val cents = centroids.select(col("cell"), col("cent")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "map-only assignment: empty centroid table")
    cents
  }

  private def mapOnlyBest(cents: Array[(Int, Array[Float])], v: Column,
                          vv: Column): Column = {
    val dcs = cents.map { case (cellId, cent) =>
      val c = typedLit(cent)
      struct(round(vv - lit(2.0) * VectorExprs.dot(v, c) +
        VectorExprs.dot(c, c), 6).as("d"), lit(cellId).as("c"))
    }
    // least() needs ≥ 2 arguments; a single-centroid table routes
    // everything to that cell (assignPortable's behavior on the same
    // table), not an AnalysisException
    if (dcs.length == 1) dcs.head.getField("c")
    else least(dcs.toIndexedSeq: _*).getField("c")
  }

  /** O(delta) incremental ingest into an IVF index — the ANN analog of
    * the BM25 family's `SearchService.appendDelta` and the MinHash
    * family's `incrementalNearDups`: the coarse quantizer is FROZEN
    * (train nightly, ingest all day — the standard IVF maintenance
    * model), delta vectors are assigned against the stored centroids
    * ([[assignPortable]]'s broadcast pass — the corpus is never
    * re-read), and the merged index is `base.assigned ∪ delta`. On a
    * cell-partitioned stored layout the delta appends as new files in
    * only the cells it lands in. For portable indexes merged ≡ rebuilt
    * EXACTLY (hash-certified by `sim_ivf_merge` against the full-corpus
    * oracle); for k-means-trained indexes the round-6 ranking can
    * differ from `model.transform` only at exact centroid-distance
    * ties (IvfSpec pins probe equivalence).
    *
    * PRECONDITION: delta ids are NEW (the [[graft.text.TextOps
    * .bm25MergeIndex]] contract) — an id on both sides would duplicate
    * its candidate rows. */
  def appendToIndex(index: IvfIndex, delta: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): IvfIndex = {
    // attribute columns (filtered-ANN keepCols) ride the append: the
    // delta must carry whatever extra columns the base assigned stores
    val extra = index.assigned.columns
      .filterNot(Set("cand_id", "cvec", "cell", "cn")).toSeq
    IvfIndex(index.centroids,
      index.assigned.unionByName(
        assignPortable(delta, index.centroids, idCol, vecCol,
          keepCols = extra)))
  }

  /** Cell-occupancy audit of an IVF index — the layout-health check a
    * partitioned ANN index needs operationally (a skewed cell is a
    * probe-latency outlier and a shuffle hot spot; quantizer drift under
    * months of [[appendToIndex]] ingest shows up here first): per cell,
    * its vector count plus the corpus total and the maximum occupancy,
    * so the balance factor `n_max · nlist / n_total` (ideal 1) is one
    * exact division away and a "retrain the quantizer" trigger is a
    * WHERE clause. Pure integer contract over only the thin `cell`
    * column — vectors are never read; on a PORTABLE assignment the whole
    * audit replays in SQL (`sim_ivf_cell_stats` is hash-green). */
  def cellStats(assigned: DataFrame): DataFrame = {
    val per = assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val tot = per.agg(sum(col("n_vecs")).as("n_total"),
      max(col("n_vecs")).as("n_max"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"), col("n_total"), col("n_max"))
  }

  /** O(removed) deletion from an IVF index — the compliance twin of
    * [[appendToIndex]] (takedown sweeps must not retrain or rebuild):
    * the assigned frame drops the removal set via an anti-join against
    * the broadcastable id set; centroids are untouched. Removed ≡
    * rebuilt-on-remainder trivially — assignment rows are per-vector. */
  def removeFromIndex(index: IvfIndex, removedIds: DataFrame,
                      idCol: String = "vec_id"): IvfIndex =
    IvfIndex(index.centroids,
      index.assigned.join(
        broadcast(removedIds.select(col(idCol).as("cand_id"))),
        Seq("cand_id"), "left_anti"))

  /** Portable probe over a built (or incrementally merged) index:
    * round-6 L2 cell ranking with (dist², cell) tie-break, candidates
    * from the `nprobe` probed cells, exact rounded-cosine rerank via the
    * bounded-heap top-k. The tail of [[ivfTopKPortable]], callable
    * against stored/merged frames. */
  def probePortable(index: IvfIndex, queries: DataFrame, k: Int,
                    nprobe: Int = 2,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    filter: Option[Column] = None): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(nprobe > 0, s"nprobe must be > 0, got $nprobe")
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("__d"), col("cell"))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(index.centroids))
      .withColumn("__d", portableDist2(col("qvec")))
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cell"))
    // filtered ANN: the attribute predicate lands on the candidate side
    // BELOW the top-k (and at the probed cells' scan on a stored
    // layout), so the k survivors are k MATCHING survivors
    val assigned = filter.map(index.assigned.filter).getOrElse(index.assigned)
    val cand = assigned.join(probes.hint("broadcast"), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", round(Similarity.cosine(col("qvec"), col("cvec")), 6))
    Similarity.topKExplode(cand, "cosine", k)
  }

  /** Quantizer RETRAIN + migration — the handler for the "balance factor
    * over threshold" trigger [[cellStats]] computes: months of
    * [[appendToIndex]] ingest under a frozen quantizer drift the data
    * distribution away from the centroids until probe latency skews
    * (one hot cell does all the work); the remedy is to retrain the
    * coarse quantizer on the CURRENT corpus and reassign. The corpus is
    * recovered from the index itself (the assigned frame carries every
    * vector), the new portable centroids are the deterministic strided
    * sample over it — now drawn from the drifted distribution — and the
    * reassignment is [[assignPortable]]'s one broadcast map pass; no
    * external corpus rescan. Retrained ≡ built-fresh-on-current-corpus
    * is hash-certified by `sim_ivf_retrain` (same SQL replay as
    * `sim_ivf_cell_stats`); IvfSpec pins that a deliberately drifted
    * index's balance factor DROPS after retrain. Attribute columns
    * (filtered-ANN `keepCols`) survive the migration. */
  def retrainIndex(index: IvfIndex, nlist: Int = 8,
                   stride: Int = 29): IvfIndex = {
    val extra = index.assigned.columns
      .filterNot(Set("cand_id", "cvec", "cell", "cn")).toSeq
    val corpus = index.assigned.select(
      col("cand_id").as("vec_id") +: col("cvec").as("embedding") +:
        extra.map(col): _*)
    val cents = portableCentroids(corpus, nlist, stride)
    IvfIndex(cents, assignPortable(corpus, cents, keepCols = extra))
  }

  /** The k-means-trained retrain — the production twin of
    * [[retrainIndex]] when oracle replay is not required: one MLlib fit
    * over the current corpus + one map-only reassignment. Attribute
    * columns (filtered-ANN `keepCols`) survive this path too — rejoined
    * by id after the rebuild (the k-means [[buildIndex]] carries no
    * extra columns), preserving the assigned-schema symmetry
    * [[retrainIndex]] keeps; dropping them would break every subsequent
    * `appendToIndex`/AnnService filter-column requirement. One keyed
    * join of two corpus-sized thin frames — same scale class as the
    * rebuild's own shuffle. */
  def retrainIndexKMeans(index: IvfIndex, nlist: Int = 16,
                         seed: Long = 42L): IvfIndex = {
    val extra = index.assigned.columns
      .filterNot(Set("cand_id", "cvec", "cell", "cn")).toSeq
    val rebuilt = buildIndex(index.assigned.select(col("cand_id").as("vec_id"),
      col("cvec").as("embedding")), nlist, "vec_id", "embedding", seed)
    if (extra.isEmpty) rebuilt
    else IvfIndex(rebuilt.centroids,
      rebuilt.assigned.join(
        index.assigned.select(col("cand_id") +: extra.map(col): _*),
        Seq("cand_id")))
  }

  /** The balance factor `n_max · nlist / n_total` of an index (ideal 1;
    * grows as ingest drifts away from the frozen quantizer) — the
    * scalar form of [[cellStats]] for the retrain trigger. One-row
    * collect over the thin cell column. */
  def balanceFactor(index: IvfIndex): Double =
    balanceFactorOf(index.centroids.count(), index.assigned)

  /** The scalar shared with the compressed tier
    * ([[IvfPq.balanceFactor]] — the codes schema carries `cell` too). */
  private[sim] def balanceFactorOf(nlist: Long, assigned: DataFrame): Double = {
    val r = cellStats(assigned)
      .select(col("n_total"), col("n_max")).limit(1).collect()(0)
    if (r.getLong(0) == 0L) 1.0
    else r.getLong(1).toDouble * nlist / r.getLong(0)
  }

  /** Wire the trigger to its handler: retrain iff the balance factor
    * exceeds `maxBalance`, otherwise return the index unchanged — the
    * call a nightly maintenance job makes unconditionally. */
  def retrainIfSkewed(index: IvfIndex, maxBalance: Double = 2.0,
                      nlist: Int = 8, stride: Int = 29): IvfIndex =
    if (balanceFactor(index) > maxBalance) retrainIndex(index, nlist, stride)
    else index

  /** Simplified (centroid-based) silhouette over the PORTABLE strided
    * quantizer — the cluster-quality metric as a hash-checkable number
    * per vector (Rousseeuw 1987's silhouette with the standard centroid
    * simplification: a = distance to the nearest centroid — the assigned
    * cell — and b = distance to the second-nearest, so no pairwise
    * point-to-point distances are ever computed). Returns
    * (vec_id, cell, a, b, sil) with sil = (b − a)/max(a, b) ∈ [−1, 1]
    * (0 when both distances are 0 — a point ON two coincident
    * centroids).
    *
    * Portability discipline: dist² is the round-6 dot composition the IVF
    * oracle already replays; the Euclidean distance is round-6 of sqrt —
    * correctly rounded in IEEE, so cross-engine safe (unlike ln) — with a
    * GREATEST(·, 0) guard because float cancellation can push a
    * mathematically-zero dist² a few ulp negative, and sqrt(−ε) is NaN;
    * the final ratio is deliberately UNROUNDED (identical round-6 inputs
    * ⇒ identical IEEE quotient; re-rounding could land on a half-grid
    * boundary where decimal rounding of the same double diverges).
    *
    * Scale shape: one broadcast of the nlist-row centroid table, one
    * map-side pass scoring nlist distances per vector, and a bounded
    * `sort_array(collect_list(...))` of nlist structs per vector under a
    * single groupBy — no window over the corpus, no pairwise join. */
  def silhouettePortable(corpus: DataFrame, nlist: Int = 8, stride: Int = 29,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    require(nlist > 1, s"nlist must be > 1, got $nlist")
    require(stride > 0, s"stride must be > 0, got $stride")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sampled = corpus.filter(col(idCol) % stride === 0)
      .orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).as[Array[Float]].collect()
    require(sampled.length == nlist,
      s"corpus has only ${sampled.length} ids divisible by stride=$stride; " +
        s"need nlist=$nlist (lower stride or nlist)")
    val cents = sampled.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("cell", "cent")
    val dist2 = round(
      VectorExprs.dot(col("v"), col("v")) -
        lit(2.0) * VectorExprs.dot(col("v"), col("cent")) +
        VectorExprs.dot(col("cent"), col("cent")), 6)
    val d = round(sqrt(greatest(dist2, lit(0.0))), 6)
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), struct(d.as("d"), col("cell").as("c")).as("dc"))
      .groupBy("vec_id")
      .agg(sort_array(collect_list(col("dc"))).as("ds"))
      .select(col("vec_id"),
        col("ds").getItem(0).getField("c").as("cell"),
        col("ds").getItem(0).getField("d").as("a"),
        col("ds").getItem(1).getField("d").as("b"))
      .select(col("vec_id"), col("cell"), col("a"), col("b"),
        when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)).as("sil"))
  }
}
