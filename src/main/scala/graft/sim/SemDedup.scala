package graft.sim

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorExprs
import graft.util.Residency

/** SemDeDup — Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication" (public): embedding-space
  * dedup that finds SEMANTIC duplicates (paraphrases, re-renders) exact
  * and token-level dedup can't see, at a cost far below all-pairs:
  *
  *   1. k-means the corpus into `nlist` cells (map-only assignment after a
  *      seeded fit — identical vectors always share a cell);
  *   2. candidate pairs are generated WITHIN cells only — the self-join is
  *      O(Σ cell²), not O(n²), and the same occupancy guard as the LSH
  *      family fails fast if a degenerate corpus collapses cells;
  *   3. pairs at exact cosine ≥ `threshold` become edges; connected
  *      components ([[graft.dedup.Dedup.duplicateClusters]]) turn them
  *      into duplicate groups (transitive, like every other member of the
  *      dedup family);
  *   4. keep rule: per group, the member with the LOWEST cosine to its
  *      cell centroid survives (the paper's "farthest from centroid" —
  *      keeps the least-typical exemplar), ties broken by lowest id.
  *
  * Returns every input id: (id, dup_group, centroid_cosine, keep). Cell
  * ids are deliberately NOT returned — they are k-means-dependent; the
  * keep/drop decision is defined by the exact-cosine threshold and is
  * deterministic for planted/exact duplicates regardless of clustering.
  *
  * EAGER + caller unpersist, like the rest of the near-dup family: the
  * pipeline runs at call time, corpus-sized intermediates (cell
  * assignments, component labels) are released before returning, and the
  * returned node-sized frame is persisted for the caller to `unpersist()`.
  *
  * 100 TB shape: fit on a sample (`trainFraction`), assignment and
  * centroid scoring are map-only over broadcast centroids, the pair join
  * shuffles on cell id (bounded by the guard), components run on the
  * pair-sized edge set, and no vector ever crosses the wire except inside
  * the cell-scoped join. */
object SemDedup {

  /** EMBEDDING-SPACE decontamination — the semantic member of the
    * decontamination family (the text tier catches exact/fuzzy/Bloom
    * n-gram overlap; paraphrased or reformatted eval leakage needs the
    * embedding): flag every corpus vector whose cosine against ANY
    * reference (eval-set) vector clears `threshold`, reporting the best
    * match. Blocking is the portable IVF machinery —
    * [[Ivf.portableCentroids]] trained on the REFERENCE (it is the small,
    * stable side), reference vectors assigned to their cell, each corpus
    * vector probing its `nprobe` nearest cells — so candidate pairs are
    * cell-scoped, never the cross product, and the whole pipeline
    * (round-6 cell ranking, cell join, round-6 cosine, (cosine desc, id)
    * argmax) replays exactly in SQL: the `emb_decontaminate` face is
    * hash-green INCLUDING its blocking approximation.
    *
    * Scale shape: reference side reduces to cell-keyed rows once
    * (eval sets are thousands of rows — broadcastable); the corpus is
    * scanned once, scores only its probed cells' reference rows, and
    * reduces per vector with one max-struct aggregate — no window over
    * the corpus, no shuffle of raw reference vectors per candidate.
    * Returns (vec_id, contaminated 0/1, match_id, match_cosine) — one
    * row per corpus vector; unmatched rows carry null match columns. */
  def semanticDecontaminate(corpus: DataFrame, reference: DataFrame,
                            threshold: Double, nlist: Int = 8,
                            stride: Int = 29, nprobe: Int = 2,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(threshold >= -1 && threshold <= 1,
      s"threshold must be a cosine in [-1, 1], got $threshold")
    require(nprobe > 0, s"nprobe must be > 0, got $nprobe")
    val cents = Ivf.portableCentroids(reference, nlist, stride, idCol, vecCol)
    val ref = Ivf.assignPortable(reference, cents, idCol, vecCol)
      .select(col("cand_id").as("ref_id"), col("cvec").as("rvec"), col("cell"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qid")).orderBy(col("__d"), col("cell"))
    val probes = corpus
      .select(col(idCol).as("__qid"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("__d", round(
        VectorExprs.dot(col("qvec"), col("qvec")) -
          lit(2.0) * VectorExprs.dot(col("qvec"), col("cent")) +
          VectorExprs.dot(col("cent"), col("cent")), 6))
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select(col("__qid"), col("qvec"), col("cell"))
    val best = probes.join(ref.hint("broadcast"), Seq("cell"))
      .withColumn("__cos",
        round(graft.sim.Similarity.cosine(col("qvec"), col("rvec")), 6))
      .filter(col("__cos") >= threshold)
      .groupBy(col("__qid"))
      .agg(max(struct(col("__cos").as("c"), (-col("ref_id")).as("negid")))
        .as("__m"))
      .select(col("__qid").as("vec_id"),
        (-col("__m.negid")).as("match_id"), col("__m.c").as("match_cosine"))
    corpus.select(col(idCol).as("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("match_id").isNotNull.cast(IntegerType).as("contaminated"),
        col("match_id"), col("match_cosine"))
  }

  def semanticDedup(df: DataFrame, threshold: Double,
                    nlist: Int = 16,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    trainFraction: Double = 1.0, seed: Long = 42L,
                    maxCellOccupancy: Long = 100000L): DataFrame = Residency.eager { s =>
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    // the id rides as a Long; a silent cast would turn string ids into
    // nulls and report every duplicate as unique with no error
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"semanticDedup needs a numeric id column; '$idCol' is " +
        s"${df.schema(idCol).dataType.simpleString} — map ids to longs first")
    val spark = df.sparkSession
    import spark.implicits._

    val fv = df.select(col(idCol).cast(LongType).as("id"), col(vecCol).as("vec"))
      .withColumn("__fv", array_to_vector(col("vec")))
    val train = if (trainFraction < 1.0)
      fv.select("__fv").sample(withReplacement = false, trainFraction, seed)
    else fv.select("__fv")
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("__fv").setPredictionCol("__cell")
      .fit(train)
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      .toSeq.toDF("__cell", "__cent")

    // Persisted: the cell self-join reads it twice, the centroid scoring
    // and the final join read it again — released before returning.
    val assigned = s.persist(model.transform(fv).drop("__fv")
      .join(broadcast(centroids), Seq("__cell"))
      .select(col("id"), col("vec"), col("__cell"),
        VectorExprs.norm(col("vec")).as("nrm"),
        round(VectorExprs.cosine(col("vec"), col("__cent")), 6).as("centroid_cosine")))

    graft.util.Guards.checkBucketOccupancy(
      assigned.select("__cell"), Seq("__cell"), maxCellOccupancy,
      "semanticDedup", "raise nlist (more, smaller cells) or pre-dedup exact copies")

    val a = assigned.alias("a"); val b = assigned.alias("b")
    val pairs = a.join(b, col("a.__cell") === col("b.__cell") &&
        col("a.id") < col("b.id"))
      .withColumn("__cos",
        when(col("a.nrm") > 0 && col("b.nrm") > 0,
          VectorExprs.dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
          .otherwise(lit(0.0)))
      .filter(col("__cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))

    // transitive duplicate groups; labels comes back persisted and is
    // released with the rest of the intermediates
    val labels = s.adopt(
      graft.dedup.Dedup.duplicateClusters(assigned.select("id"), "id", pairs))

    // keep rule: lowest (centroid_cosine, id) per group survives — the
    // least-typical exemplar, the paper's pruning direction
    val keepers = assigned.join(labels, Seq("id"))
      .groupBy(col("cluster").as("dup_group"))
      .agg(min(struct(col("centroid_cosine"), col("id"))).as("__m"))
      .select(col("dup_group"), col("__m.id").as("__keep_id"))
    assigned.join(labels, Seq("id"))
      .join(keepers, col("cluster") === col("dup_group"))
      .select(col("id"), col("dup_group"), col("centroid_cosine"),
        (col("id") === col("__keep_id")).as("keep"))
  }
}
