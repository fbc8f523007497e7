package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.{Ivf, IvfIndex, IvfPq, IvfPqIndex, Pq, PqIndex, Similarity}

/** Common contract every ANN serving backend exposes to
  * [[HttpQueryServer]]'s `/ann` route: a fixed index dimension, a request
  * cap, and a bounded top-k probe. Implementations differ only in the
  * stored layout they open and the score they rank by. */
trait AnnBackend {
  /** Vector dimension the stored index was built at. */
  def dim: Int
  /** Hard per-request cap on k (the HTTP layer clamps before calling). */
  def maxK: Int
  /** Top-k ids for the query vector: (cand_id, score, rank), rank 1..k. */
  def topK(vec: Seq[Float], k: Int): Seq[(Long, Double, Int)]
  /** FILTERED top-k — "nearest neighbors WHERE col = value", the form
    * real retrieval serving almost always needs. The default rejects
    * filters loudly (a backend that ignored the predicate would return
    * wrong results silently); all four stored-layout backends override
    * with a whitelisted-column equality pushed below the top-k
    * ([[AnnService]]/[[AnnPqService]] below the probed-cell scan,
    * [[AnnRpService]] below the shortlist, [[AnnFlatPqService]] before
    * the ADC scan). */
  def topK(vec: Seq[Float], k: Int,
           filter: Option[(String, String)]): Seq[(Long, Double, Int)] =
    filter match {
      case None => topK(vec, k)
      case Some((c, _)) => throw new IllegalArgumentException(
        s"this backend does not support filtered search (filter on '$c')")
    }
}

/** ANN serving surface over a STORED IVF index — the similarity-search
  * analog of [[QueryService]]: the cell-partitioned index is read once
  * from parquet (no retraining, no corpus rescan), each request carries a
  * raw query vector and pays only the `nprobe`-cell probe.
  *
  * Request safety mirrors the table endpoint's philosophy: the vector
  * must match the index dimension exactly, `k` is capped at `maxK`, and
  * the per-request `collect()` is bounded at k rows by construction.
  * Nothing from the request ever reaches SQL text — the vector enters the
  * plan as a typed literal column. */
final class AnnService(index: IvfIndex, val dim: Int, val maxK: Int = 100,
                       nprobe: Int = 4,
                       filterCols: Set[String] = Set.empty) extends AnnBackend {
  require(dim > 0, s"dim must be > 0, got $dim")
  require(maxK > 0, s"maxK must be > 0, got $maxK")
  require(nprobe > 0, s"nprobe must be > 0, got $nprobe")
  filterCols.foreach(c => require(index.assigned.columns.contains(c),
    s"filterable column '$c' is not in the stored index " +
      s"(carry it via assignPortable keepCols; found: " +
      s"${index.assigned.columns.mkString(", ")})"))

  /** Top-k ids for the query vector: (cand_id, cosine, rank), rank 1..k.
    * k above `maxK` is an error (the HTTP layer caps before calling). */
  def topK(vec: Seq[Float], k: Int): Seq[(Long, Double, Int)] =
    topK(vec, k, None)

  /** Filtered top-k: equality on a WHITELISTED attribute column, pushed
    * to the candidate side below the top-k (the [[Ivf.probeTopK]]
    * `filter` hook) — k survivors are k matching survivors, and on a
    * cell-partitioned layout the predicate rides the probed cells'
    * scan. The value is a typed literal, never SQL text (the registry-
    * whitelist discipline of the table route); comparison coercion
    * follows Spark's literal-to-column cast, so `"7"` matches an int 7. */
  override def topK(vec: Seq[Float], k: Int,
                    filter: Option[(String, String)]): Seq[(Long, Double, Int)] = {
    require(vec.length == dim,
      s"query vector has ${vec.length} dims; the index carries $dim")
    require(k > 0 && k <= maxK, s"k must be in [1, $maxK], got $k")
    val pred = filter.map { case (c, v) =>
      require(filterCols.contains(c),
        s"column '$c' is not filterable (whitelist: " +
          s"${if (filterCols.isEmpty) "<empty>" else filterCols.mkString(", ")})")
      col(c) === lit(v)
    }
    val spark = index.centroids.sparkSession
    import spark.implicits._
    val q = Seq((-1L, vec.toArray)).toDF("vec_id", "embedding")
    Ivf.probeTopK(index, q, k, nprobe, filter = pred)
      .orderBy(col("rank"))
      .select(col("cand_id"), col("cosine"), col("rank"))
      .as[(Long, Double, Int)].collect().toSeq
  }
}

object AnnService {
  /** Open a stored index layout (`root/centroids`, `root/assigned` — the
    * frames [[Ivf.buildIndex]] writes) and probe the dimension from one
    * centroid row (sanctioned single-row collect). `filterCols`
    * whitelists attribute columns for filtered search. */
  def overParquetDir(spark: SparkSession, root: String, maxK: Int = 100,
                     nprobe: Int = 4,
                     filterCols: Set[String] = Set.empty): AnnService = {
    val centroids = spark.read.parquet(s"$root/centroids")
    val assigned = spark.read.parquet(s"$root/assigned")
    val dim = centroids.select(size(col("cent")).as("d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    new AnnService(IvfIndex(centroids, assigned), dim, maxK, nprobe, filterCols)
  }

  /** Index-aware compaction of a stored IVF layout — the
    * [[SearchService.compactIndex]] twin for the vector tier: streamed
    * micro-batches leave one file per (batch, touched cell); this folds
    * them to `filesPerPartition` per cell with the `cell=` partitioning
    * (probe pruning) preserved. Uncommitted-batch orphans are scrubbed
    * first (their replay re-adds them — folding them would double-count)
    * and the `_ledger` survives, so committed batches stay
    * replay-skipped. */
  def compactIndex(spark: SparkSession, root: String,
                   filesPerPartition: Int = 1): Unit = {
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/assigned"))
    graft.io.Sinks.compactLayoutInPlace(spark, s"$root/assigned",
      Seq("cell"), filesPerPartition)
  }

  /** O(touched cells) STORED takedown — the GDPR sweep on the SERVING
    * layout, completing the vector tier's lifecycle symmetry with
    * [[NearDupService.removeFromIndex]] and the BM25 bucket rewrites:
    * a cell is not computable from an id (assignment is data-defined),
    * so finding the touched cells reads the layout's THIN
    * (cand_id, cell) columns once — but the REWRITE is only the
    * partitions that actually hold removed rows (≤ nlist collect;
    * untouched `cell=` dirs keep their physical files, spec-pinned).
    * Orphan scrub first: the rewrite is untagged, and folding an
    * uncommitted streamed batch in would double-count its replay. */
  def removeFromIndex(spark: SparkSession, root: String,
                      removedIds: DataFrame,
                      idCol: String = "vec_id"): Unit = {
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/assigned"))
    removeFromCellLayout(spark, s"$root/assigned", removedIds, idCol)
  }

  /** The shared cell-partitioned takedown kernel (IVF `assigned`,
    * residual IVF-PQ `codes` — both carry (cand_id, cell)). */
  private[serve] def removeFromCellLayout(spark: SparkSession, dir: String,
                                          removedIds: DataFrame,
                                          idCol: String): Unit = {
    // heal BOTH crash shapes BEFORE the touched-cell scan below: a
    // crashed compactLayoutInPlace leaves this dir mid-SWAP (root absent
    // or sparse-recreated, `-__old__` holding the full copy) — running
    // the takedown against the recreation and then folding `__old__`
    // back would resurrect every removed id; a crashed prior takedown
    // leaves parked partitions a REWRITE recovery restores
    graft.io.Sinks.recoverCrashedSwap(spark, dir)
    graft.io.Sinks.recoverCrashedRewrite(spark, dir)
    graft.util.Residency.scoped { s =>
      val ids = s.persist(removedIds.select(col(idCol).as("cand_id"))
        .dropDuplicates("cand_id"))
      val touched = spark.read.parquet(dir).select("cand_id", "cell")
        .join(broadcast(ids), Seq("cand_id"), "left_semi")
        .select("cell").distinct().collect().map(_.getInt(0)).sorted
      if (touched.nonEmpty) {
        val tl = touched.map(Int.box)
        val scan = spark.read.parquet(dir).filter(col("cell").isin(tl: _*))
        graft.io.Sinks.rewritePartitions(spark, dir, "cell", touched,
          scan.join(broadcast(ids), Seq("cand_id"), "left_anti"))
      }
    }
  }

  /** The unpartitioned-thin-layout takedown shared by the flat-PQ and
    * RP tiers: anti-join rewrite of the whole thin frame into a
    * versioned sibling, then the marker-fenced swap — O(layout) but
    * over thin rows (codes / 8-long reduced coordinates), a
    * maintenance-window pass. `layoutIdCol` is the id column the
    * stored frame itself carries ("cand_id" for PQ codes, "id" for RP
    * reduced rows). */
  private[serve] def removeFromThinLayout(spark: SparkSession,
                                          root: String, dir: String,
                                          removedIds: DataFrame,
                                          idCol: String,
                                          layoutIdCol: String): Unit = {
    // BOTH recovery scopes: the retrain family swaps the WHOLE root
    // (a crashed retrain leaves root absent with root-__old__ live),
    // this op swaps only the dataset dir — healing just the dir would
    // fail on the missing root, or worse, take down rows from a sparse
    // writer recreation that a later root recovery rolls back
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, dir)
    graft.streaming.BatchCommit.scrubUncommitted(spark, root, Seq(dir))
    val ids = removedIds.select(col(idCol).as(layoutIdCol))
      .dropDuplicates(layoutIdCol)
    val tmp = s"$dir-__takedown__"
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(tmp), true)
    spark.read.parquet(dir)
      .join(broadcast(ids), Seq(layoutIdCol), "left_anti")
      .write.parquet(tmp)
    graft.io.Sinks.swapDir(spark, dir, tmp)
  }

  /** Re-embedded document UPSERT on the stored layout — the
    * [[NearDupService.upsertDelta]] pattern for the vector tier: any
    * live rows for the batch's ids are removed (O(touched cells) — a
    * no-op for genuinely-new ids), then the new vectors are assigned
    * against the STORED (frozen) centroids and appended into only the
    * cells they land in. Attribute columns are taken from the stored
    * assigned schema, so a filtered-ANN layout keeps its whitelist
    * columns through the upsert (batch rows must carry them). */
  def upsertDelta(spark: SparkSession, root: String, batch: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Unit = {
    graft.util.Guards.requireUniqueIds(batch, idCol,
      "AnnService.upsertDelta")
    // heal-before-ANY-layout-read (the retrainIndex discipline), at BOTH
    // scopes: retrains swap the whole root, compactIndex swaps the
    // assigned dir — the schema read below would otherwise fail on a
    // crashed compaction (dir parked at -__old__) on every retry, or
    // silently capture a sparse writer-recreation's columns and drop the
    // layout's filtered-ANN attribute columns from the appended rows
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/assigned")
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/assigned"))
    // schema + quantizer read BEFORE the remove: a batch covering every
    // live id empties the layout, and reading afterwards would fail on
    // schema inference with the rows already gone and nothing appended
    val extra = spark.read.parquet(s"$root/assigned").columns
      .filterNot(Set("cand_id", "cvec", "cell", "cn")).toSeq
    val centroids = spark.read.parquet(s"$root/centroids")
    removeFromIndex(spark, root, batch.select(col(idCol)), idCol)
    val assigned = Ivf.assignPortable(batch, centroids, idCol, vecCol,
      keepCols = extra)
    graft.io.Sinks.onePerPartitionValue(assigned, Seq("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$root/assigned")
  }

  /** Quantizer retrain + migration of a STORED IVF layout — the
    * in-place form of [[Ivf.retrainIndex]] a nightly maintenance job
    * points at a layout root: the drifted index is opened, retrained on
    * the corpus it itself carries (portable strided centroids + the
    * one-broadcast-pass reassignment), the NEW layout — centroids plus
    * the `cell=`-partitioned assigned frame — is fully written to a
    * sibling version directory, and the two-rename swap puts it live.
    * The whole ROOT swaps at once (not just one dataset dir): a reader
    * can never pair new assignments with old centroids, which would
    * rank cells against the wrong geometry.
    *
    * Replay safety mirrors [[compactIndex]]: uncommitted-batch orphans
    * are scrubbed FIRST (folding them into the untagged retrained
    * rewrite would double-count their replay), and the `_ledger` is
    * carried into the new root — the retrained layout already holds
    * every committed batch's rows, so those batches must keep skipping
    * on replay. */
  def retrainIndex(spark: SparkSession, root: String,
                   nlist: Int = 8, stride: Int = 29): Unit = {
    // before ANY layout read, at BOTH scopes: a crashed compactIndex
    // leaves the assigned DIR mid-swap — retraining from a sparse
    // writer recreation and swapping the whole root live would be
    // permanent row loss
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/assigned")
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/assigned"))
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = rootP.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(root + "-__retraining__")
    f.delete(tmp, true) // a crashed previous attempt
    val retrained = Ivf.retrainIndex(
      IvfIndex(spark.read.parquet(s"$root/centroids"),
        spark.read.parquet(s"$root/assigned")), nlist, stride)
    retrained.centroids.write.parquet(s"$tmp/centroids")
    // one shuffle on the partition value co-locates each cell on one
    // task (compactLayout's mechanics), so the migrated layout lands
    // COMPACTED — one file per cell, not one per (task × cell); a
    // nightly job that just retrained need not also compact
    retrained.assigned.repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$tmp/assigned")
    val ledger = new org.apache.hadoop.fs.Path(s"$root/_ledger")
    if (f.exists(ledger))
      org.apache.hadoop.fs.FileUtil.copy(f, ledger, f,
        new org.apache.hadoop.fs.Path(s"$tmp/_ledger"), false, conf)
    graft.io.Sinks.swapDir(spark, root, tmp.toString)
  }

  /** Trigger wired to handler on the stored layout: retrain iff the
    * balance factor read from the thin `cell` column exceeds
    * `maxBalance`. Returns whether a migration happened — the nightly
    * job's unconditional call. */
  def retrainIndexIfSkewed(spark: SparkSession, root: String,
                           maxBalance: Double = 2.0,
                           nlist: Int = 8, stride: Int = 29): Boolean = {
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/assigned")
    val bf = Ivf.balanceFactor(IvfIndex(
      spark.read.parquet(s"$root/centroids"),
      spark.read.parquet(s"$root/assigned")))
    val fire = bf > maxBalance
    if (fire) retrainIndex(spark, root, nlist, stride)
    fire
  }
}

/** ANN serving over a STORED residual IVF-PQ index (IVFADC — the layout
  * [[IvfPq.buildResidualIndex]] writes): centroids + per-subspace
  * codebooks + the cell-partitioned CODE frame are opened once, and each
  * request pays only [[IvfPq.probeResidualTopK]] — nprobe cells of thin
  * PQ codes scanned, scored `q·centroid + ADC` from broadcast LUTs,
  * bounded-heap top-k. The raw corpus never participates: this is the
  * actual 100 TB serving format (coarse pruning × ~64× compression),
  * where [[AnnService]] still reads full-width vectors inside probed
  * cells.
  *
  * Same request-safety contract as the flat service: dimension checked
  * against the stored codebook geometry, k capped at `maxK`, per-request
  * collect bounded at k rows, the vector entering the plan only as a
  * typed literal. */
final class AnnPqService(index: IvfPqIndex, val dim: Int, val maxK: Int = 100,
                         nprobe: Int = 4,
                         filterCols: Set[String] = Set.empty) extends AnnBackend {
  require(dim > 0, s"dim must be > 0, got $dim")
  require(maxK > 0, s"maxK must be > 0, got $maxK")
  require(nprobe > 0, s"nprobe must be > 0, got $nprobe")
  filterCols.foreach(c => require(index.codes.columns.contains(c),
    s"filterable column '$c' is not in the stored code frame " +
      s"(denormalize it via buildResidualIndex keepCols; found: " +
      s"${index.codes.columns.mkString(", ")})"))

  /** Top-k ids for the query vector: (cand_id, score, rank), rank 1..k,
    * score = q·centroid(cell) + ADC(q, r̂) — inner product against the
    * reconstructed vector. */
  def topK(vec: Seq[Float], k: Int): Seq[(Long, Double, Int)] =
    topK(vec, k, None)

  /** Filtered top-k over the compressed layout: whitelisted equality on
    * an attribute column denormalized onto the thin code rows, applied
    * below the top-k — the [[AnnService]] contract at 64× compression. */
  override def topK(vec: Seq[Float], k: Int,
                    filter: Option[(String, String)]): Seq[(Long, Double, Int)] = {
    require(vec.length == dim,
      s"query vector has ${vec.length} dims; the index carries $dim")
    require(k > 0 && k <= maxK, s"k must be in [1, $maxK], got $k")
    val pred = filter.map { case (c, v) =>
      require(filterCols.contains(c),
        s"column '$c' is not filterable (whitelist: " +
          s"${if (filterCols.isEmpty) "<empty>" else filterCols.mkString(", ")})")
      col(c) === lit(v)
    }
    val spark = index.centroids.sparkSession
    import spark.implicits._
    val q = Seq((-1L, vec.toArray)).toDF("vec_id", "embedding")
    IvfPq.probeResidualTopK(index, q, k, nprobe, filter = pred)
      .orderBy(col("rank"))
      .select(col("cand_id"), col("score"), col("rank"))
      .as[(Long, Double, Int)].collect().toSeq
  }
}

/** ANN serving over a STORED flat-PQ index — the flat-PQ member of the
  * uniform [[AnnBackend]] tier:
  * codebooks + the encoded corpus (m small ints per vector, the 64×
  * compressed frame that IS the index) are opened once; each request
  * builds its per-query LUT from the broadcast codebooks and ADC-scans
  * the codes ([[Pq.probeTopK]]) — no coarse pruning, the whole (thin)
  * code frame streams per probe, which is the right trade below the
  * scale where [[AnnPqService]]'s cell partitioning pays. Same
  * request-safety envelope as the other backends. */
final class AnnFlatPqService(index: PqIndex, val dim: Int,
                             val maxK: Int = 100,
                             filterCols: Set[String] = Set.empty) extends AnnBackend {
  require(dim > 0, s"dim must be > 0, got $dim")
  require(maxK > 0, s"maxK must be > 0, got $maxK")
  filterCols.foreach(c => require(index.codes.columns.contains(c),
    s"filterable column '$c' is not in the stored code frame " +
      s"(denormalize it via Pq.buildIndex keepCols; found: " +
      s"${index.codes.columns.mkString(", ")})"))

  /** Top-k ids for the query vector: (cand_id, score, rank), rank 1..k,
    * score = ADC inner product against the reconstruction. */
  def topK(vec: Seq[Float], k: Int): Seq[(Long, Double, Int)] =
    topK(vec, k, None)

  /** Filtered top-k over the flat code frame: whitelisted equality on an
    * attribute column denormalized onto the code rows, applied before
    * the ADC scan — the [[AnnService]] contract; on flat PQ the
    * predicate also CUTS the per-probe scan (the whole code frame
    * streams per request, so every filtered-out row is scan work
    * saved). */
  override def topK(vec: Seq[Float], k: Int,
                    filter: Option[(String, String)]): Seq[(Long, Double, Int)] = {
    require(vec.length == dim,
      s"query vector has ${vec.length} dims; the index carries $dim")
    require(k > 0 && k <= maxK, s"k must be in [1, $maxK], got $k")
    val pred = filter.map { case (c, v) =>
      require(filterCols.contains(c),
        s"column '$c' is not filterable (whitelist: " +
          s"${if (filterCols.isEmpty) "<empty>" else filterCols.mkString(", ")})")
      col(c) === lit(v)
    }
    val spark = index.codebooks.sparkSession
    import spark.implicits._
    val q = Seq((-1L, vec.toArray)).toDF("vec_id", "embedding")
    Pq.probeTopK(index, q, k, filter = pred)
      .orderBy(col("rank"))
      .select(col("cand_id"), col("score"), col("rank"))
      .as[(Long, Double, Int)].collect().toSeq
  }
}

object AnnFlatPqService {
  /** Open a stored flat-PQ layout (`root/codebooks`, `root/codes` — the
    * frames [[Pq.buildIndex]] writes). The dimension is m·sub, both
    * recovered from the constant-sized codebook rows (sanctioned small
    * collect — the same frame every probe broadcasts). */
  def overParquetDir(spark: SparkSession, root: String, maxK: Int = 100,
                     filterCols: Set[String] = Set.empty): AnnFlatPqService = {
    val codebooks = spark.read.parquet(s"$root/codebooks")
    val codes = spark.read.parquet(s"$root/codes")
    val head = codebooks
      .agg((max(col("__j")) + 1).as("m"), first(size(col("__cent"))).as("sub"))
      .collect().headOption
    val dim = head.map(r => r.getAs[Int]("m") * r.getAs[Int]("sub")).getOrElse(0)
    new AnnFlatPqService(PqIndex(codebooks, codes), dim, maxK, filterCols)
  }

  /** Index-aware compaction of a stored flat-PQ layout — the
    * [[AnnRpService.compactIndex]] shape: the code frame is
    * unpartitioned (every probe ADC-scans the whole thin frame), so
    * compaction is the plain small-file fold with the versioned-dir
    * swap; uncommitted-batch orphans are scrubbed first and the
    * `_ledger` survives. */
  def compactIndex(spark: SparkSession, root: String,
                   targetFiles: Int = 1): Unit = {
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/codes"))
    graft.io.Sinks.compactParquetInPlace(spark, s"$root/codes", targetFiles)
  }

  /** STORED takedown on the flat-PQ layout — the thin-frame anti-join
    * rewrite (codes are unpartitioned; every probe ADC-scans the whole
    * thin frame). Codebooks untouched: a takedown must never retrain. */
  def removeFromIndex(spark: SparkSession, root: String,
                      removedIds: DataFrame,
                      idCol: String = "vec_id"): Unit =
    AnnService.removeFromThinLayout(spark, root, s"$root/codes",
      removedIds, idCol, layoutIdCol = "cand_id")

  /** Re-embedded document UPSERT on the stored flat-PQ layout — the
    * [[AnnService.upsertDelta]] pattern on the unpartitioned thin code
    * frame: live code rows for the batch's ids are removed (the
    * marker-fenced thin-layout rewrite — a no-op anti-join for
    * genuinely-new ids), the new vectors are encoded under the FROZEN
    * codebooks ([[Pq.encodeWithCodebooks]] — an upsert must never
    * retrain), and the thin rows append as one file per upsert batch.
    * Attribute columns come from the stored code schema (batch rows
    * must carry them). */
  def upsertDelta(spark: SparkSession, root: String, batch: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Unit = {
    graft.util.Guards.requireUniqueIds(batch, idCol,
      "AnnFlatPqService.upsertDelta")
    // heal-before-ANY-layout-read (root = retrain swaps, dir = takedown/
    // compaction swaps), then capture codebooks + attribute schema
    // BEFORE the remove (the empty-layout hazard)
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/codes")
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/codes"))
    val codebooks = spark.read.parquet(s"$root/codebooks")
    val extras = spark.read.parquet(s"$root/codes").columns
      .filterNot(c => c == "cand_id" || c.startsWith("__c")).toSeq
    removeFromIndex(spark, root, batch.select(col(idCol)), idCol)
    Pq.encodeWithCodebooks(batch, codebooks, idCol, vecCol,
        keepCols = extras)
      .coalesce(1).write.mode("append").parquet(s"$root/codes")
  }

  /** Codebook retrain + migration of a stored flat-PQ layout —
    * [[AnnPqService.retrainIndex]] without the coarse tier: live ids
    * from the stored codes, raw vectors from `rawStore`
    * ([[Pq.retrainIndex]]'s fail-fast live-slice), fresh codebooks +
    * re-encoded codes fully written to a sibling version directory,
    * whole-root swap (codes can never pair with stale codebooks).
    * Orphan scrub + ledger carry as in the other stored migrations;
    * the trigger this handles is [[Pq.meanDistortion]]. */
  def retrainIndex(spark: SparkSession, root: String, rawStore: DataFrame,
                   m: Int = 4, codebookSize: Int = 16, seed: Long = 42L,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Unit = {
    // before ANY layout read, at BOTH scopes (compactIndex swaps the
    // codes dir; retraining from a sparse recreation loses rows)
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/codes")
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/codes"))
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = rootP.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(root + "-__retraining__")
    f.delete(tmp, true) // a crashed previous attempt
    val retrained = Pq.retrainIndex(
      PqIndex(spark.read.parquet(s"$root/codebooks"),
        spark.read.parquet(s"$root/codes")),
      rawStore, m, codebookSize, trainFraction = 1.0, seed, idCol, vecCol)
    retrained.codebooks.write.parquet(s"$tmp/codebooks")
    retrained.codes.write.parquet(s"$tmp/codes")
    val ledger = new org.apache.hadoop.fs.Path(s"$root/_ledger")
    if (f.exists(ledger))
      org.apache.hadoop.fs.FileUtil.copy(f, ledger, f,
        new org.apache.hadoop.fs.Path(s"$tmp/_ledger"), false, conf)
    graft.io.Sinks.swapDir(spark, root, tmp.toString)
  }

  /** Trigger wired to handler on the stored flat-PQ layout: retrain iff
    * the mean per-vector squared reconstruction error read from the
    * layout + raw store exceeds `maxMeanSse` ([[Pq.meanDistortion]] —
    * the flat tier has no cell occupancy to skew; codebook distortion
    * is what drifts). Returns whether a migration happened. */
  def retrainIndexIfDistorted(spark: SparkSession, root: String,
                              rawStore: DataFrame, maxMeanSse: Double,
                              m: Int = 4, codebookSize: Int = 16,
                              seed: Long = 42L, idCol: String = "vec_id",
                              vecCol: String = "embedding"): Boolean = {
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/codes")
    val md = Pq.meanDistortion(
      PqIndex(spark.read.parquet(s"$root/codebooks"),
        spark.read.parquet(s"$root/codes")),
      rawStore, idCol, vecCol)
    val fire = md > maxMeanSse
    if (fire) retrainIndex(spark, root, rawStore, m, codebookSize, seed,
      idCol, vecCol)
    fire
  }
}

/** ANN serving over a STORED random-projection (JL) index — the RP
  * member of the uniform [[AnnBackend]] tier (flat IVF, residual
  * IVF-PQ, flat PQ, RP): the (id, vec, r) reduced frame
  * ([[Similarity.rpReduce]]'s output, written once) is opened
  * and each request projects ONLY the query vector, ranks the
  * reduced-space shortlist by the exact LONG dot over the stored
  * coordinates, and pays the full-width rerank on the `shortlist`
  * survivors — the corpus is never re-projected
  * ([[Similarity.rpProbe]], the `sim_rp_probe` layout).
  *
  * The projection is identified by (dimOut, seed): dimOut is recovered
  * from the stored `r` width, but `seed` cannot be — callers must pass
  * the build-time seed or the probe silently scores garbage (the
  * rpProbe contract). Same request-safety envelope as the other
  * backends: dimension checked, k capped, bounded collect, typed-literal
  * vector. */
final class AnnRpService(reduced: DataFrame, val dim: Int,
                         val maxK: Int = 100, shortlist: Int = 200,
                         dimOut: Int = 8, seed: Int = 42,
                         filterCols: Set[String] = Set.empty) extends AnnBackend {
  require(dim > 0, s"dim must be > 0, got $dim")
  require(maxK > 0, s"maxK must be > 0, got $maxK")
  require(shortlist >= maxK,
    s"shortlist must be >= maxK ($maxK), got $shortlist")
  require(dimOut > 0, s"dimOut must be > 0, got $dimOut")
  filterCols.foreach(c => require(reduced.columns.contains(c),
    s"filterable column '$c' is not in the stored reduced frame " +
      s"(carry it via rpReduce keepCols; found: " +
      s"${reduced.columns.mkString(", ")})"))

  /** Top-k ids for the query vector: (cand_id, cosine, rank), rank 1..k —
    * exact rounded cosine over the shortlist survivors. */
  def topK(vec: Seq[Float], k: Int): Seq[(Long, Double, Int)] =
    topK(vec, k, None)

  /** Filtered top-k over the reduced frame: whitelisted equality applied
    * BELOW the shortlist (matching candidates only enter the reduced-
    * space ranking — a post-shortlist filter would both under-fill k and
    * let non-matching rows crowd matching ones out), riding the stored
    * frame's parquet scan as a data filter. */
  override def topK(vec: Seq[Float], k: Int,
                    filter: Option[(String, String)]): Seq[(Long, Double, Int)] = {
    require(vec.length == dim,
      s"query vector has ${vec.length} dims; the index carries $dim")
    require(k > 0 && k <= maxK, s"k must be in [1, $maxK], got $k")
    val pred = filter.map { case (c, v) =>
      require(filterCols.contains(c),
        s"column '$c' is not filterable (whitelist: " +
          s"${if (filterCols.isEmpty) "<empty>" else filterCols.mkString(", ")})")
      col(c) === lit(v)
    }
    val spark = reduced.sparkSession
    import spark.implicits._
    val q = Seq((-1L, vec.toArray)).toDF("vec_id", "embedding")
    Similarity.rpProbe(reduced, q, k, shortlist, dimOut, seed,
        filter = pred)
      .orderBy(col("rank"))
      .select(col("cand_id"), col("cosine"), col("rank"))
      .as[(Long, Double, Int)].collect().toSeq
  }
}

object AnnRpService {
  /** Open a stored reduced-frame layout (`root/reduced` — the frame
    * `sim_rp_probe` writes). dim and dimOut come from one stored row
    * (sanctioned single-row collect); `seed` must be the build seed. */
  def overParquetDir(spark: SparkSession, root: String, maxK: Int = 100,
                     shortlist: Int = 200, seed: Int = 42,
                     filterCols: Set[String] = Set.empty): AnnRpService = {
    val reduced = spark.read.parquet(s"$root/reduced")
    val head = reduced
      .select(size(col("vec")).as("d"), size(col("r")).as("p")).limit(1)
      .collect().headOption
    new AnnRpService(reduced, head.map(_.getInt(0)).getOrElse(0), maxK,
      shortlist, head.map(_.getInt(1)).getOrElse(0), seed, filterCols)
  }

  /** Index-aware compaction of a stored RP layout — completes the
    * maintenance family across all four streamed index layouts (BM25,
    * IVF, IVF-PQ, RP): the reduced frame is unpartitioned (every probe
    * ranks the whole frame in reduced space), so compaction is the
    * plain small-file fold with the versioned-dir swap. Uncommitted-
    * batch orphans are scrubbed first and the `_ledger` survives — the
    * same replay contract as the partitioned tiers. */
  def compactIndex(spark: SparkSession, root: String,
                   targetFiles: Int = 1): Unit = {
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/reduced"))
    graft.io.Sinks.compactParquetInPlace(spark, s"$root/reduced", targetFiles)
  }

  /** STORED takedown on the RP layout: the reduced frame is
    * unpartitioned (probes rank the whole thin frame), so the delete is
    * an anti-join rewrite of the thin rows with the versioned-dir swap
    * — O(layout) but over 8-long reduced rows, a maintenance-window
    * pass, never probe-time. */
  def removeFromIndex(spark: SparkSession, root: String,
                      removedIds: DataFrame,
                      idCol: String = "vec_id"): Unit =
    AnnService.removeFromThinLayout(spark, root, s"$root/reduced",
      removedIds, idCol, layoutIdCol = "id")

  /** Re-embedded document UPSERT on the stored RP layout: live reduced
    * rows for the batch's ids are removed (the marker-fenced thin-layout
    * rewrite), the new vectors are projected under the layout's FROZEN
    * geometry — dimOut recovered from the stored `r` width, `seed`
    * passed by the caller (it is not recoverable from the layout; a
    * wrong seed would score garbage, the [[AnnRpService]] contract) —
    * and appended as one file per batch. The projection is a per-vector
    * function of (vector, dimOut, seed), so upserted ≡ rebuilt exactly
    * (`sim_rp_merge`'s guarantee). */
  def upsertDelta(spark: SparkSession, root: String, batch: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  seed: Int = 42): Unit = {
    graft.util.Guards.requireUniqueIds(batch, idCol,
      "AnnRpService.upsertDelta")
    // heal-before-ANY-layout-read, then capture the projection width +
    // attribute schema BEFORE the remove (the empty-layout hazard)
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/reduced")
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/reduced"))
    val reduced = spark.read.parquet(s"$root/reduced")
    val dimOut = reduced.select(size(col("r")).as("p")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    require(dimOut > 0, "AnnRpService.upsertDelta: the stored layout is " +
      "empty — the projection width is unrecoverable; rebuild instead")
    val extras = reduced.columns.filterNot(Set("id", "vec", "r")).toSeq
    removeFromIndex(spark, root, batch.select(col(idCol)), idCol)
    Similarity.rpReduce(batch, idCol, vecCol, dimOut, seed,
        keepCols = extras)
      .coalesce(1).write.mode("append").parquet(s"$root/reduced")
  }
}

object AnnPqService {
  /** Open a stored residual IVF-PQ layout (`root/centroids`,
    * `root/codebooks`, `root/codes` — `codes` partitioned by `cell` so a
    * partial probe prunes whole partitions at the scan). The dimension
    * comes from the coarse centroids (sanctioned single-row collect), the
    * same frame the probe broadcasts on every request. */
  def overParquetDir(spark: SparkSession, root: String, maxK: Int = 100,
                     nprobe: Int = 4,
                     filterCols: Set[String] = Set.empty): AnnPqService = {
    val centroids = spark.read.parquet(s"$root/centroids")
    val codebooks = spark.read.parquet(s"$root/codebooks")
    val codes = spark.read.parquet(s"$root/codes")
    val dim = centroids.select(size(col("cent")).as("d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    new AnnPqService(IvfPqIndex(centroids, codebooks, codes), dim, maxK,
      nprobe, filterCols)
  }

  /** Index-aware compaction of a stored residual IVF-PQ layout — the
    * [[AnnService.compactIndex]] shape over the thin code rows (the
    * quantizer artifacts are single-file and never need compaction). */
  def compactIndex(spark: SparkSession, root: String,
                   filesPerPartition: Int = 1): Unit = {
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/codes"))
    graft.io.Sinks.compactLayoutInPlace(spark, s"$root/codes",
      Seq("cell"), filesPerPartition)
  }

  /** O(touched cells) STORED takedown on the compressed serving layout
    * — [[AnnService.removeFromIndex]]'s shape over the thin `cell=`-
    * partitioned code rows (the quantizer artifacts are untouched: a
    * takedown must never retrain). */
  def removeFromIndex(spark: SparkSession, root: String,
                      removedIds: DataFrame,
                      idCol: String = "vec_id"): Unit = {
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/codes"))
    AnnService.removeFromCellLayout(spark, s"$root/codes", removedIds, idCol)
  }

  /** Re-embedded document UPSERT on the stored RESIDUAL (IVFADC) layout
    * — [[AnnService.upsertDelta]] at 64× compression, completing the
    * lifecycle symmetry for the actual 100 TB serving format: any live
    * code rows for the batch's ids are removed (O(touched cells) — a
    * no-op for genuinely-new ids), then the new vectors are assigned to
    * the FROZEN coarse cells, their residuals encoded under the FROZEN
    * codebooks ([[IvfPq.encodeDeltaResidual]] — an upsert must never
    * retrain), and the thin code rows append into only the cells they
    * land in. Attribute columns are taken from the stored code schema
    * (batch rows must carry them), so a filtered-ANN layout keeps its
    * whitelist columns through the upsert. */
  def upsertDelta(spark: SparkSession, root: String, batch: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Unit = {
    graft.util.Guards.requireUniqueIds(batch, idCol,
      "AnnPqService.upsertDelta")
    // heal-before-ANY-layout-read at BOTH scopes (retrains swap the
    // root, compactIndex swaps the codes dir), then capture quantizers +
    // code schema BEFORE the remove: a batch covering every live id
    // empties the layout, and the schema read would fail with the rows
    // gone and nothing appended. Only the code frame's SCHEMA is
    // consumed — encodeDeltaResidual never reads its rows, so the
    // captured listing going stale across the partition rewrite is
    // harmless.
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/codes")
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/codes"))
    val centroids = spark.read.parquet(s"$root/centroids")
    val codebooks = spark.read.parquet(s"$root/codebooks")
    val codesForSchema = spark.read.parquet(s"$root/codes")
    removeFromIndex(spark, root, batch.select(col(idCol)), idCol)
    val newCodes = IvfPq.encodeDeltaResidual(
      IvfPqIndex(centroids, codebooks, codesForSchema), batch, idCol, vecCol)
    graft.io.Sinks.onePerPartitionValue(newCodes, Seq("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$root/codes")
  }

  /** Quantizer retrain + migration of a STORED residual IVF-PQ layout —
    * [[AnnService.retrainIndex]]'s compressed twin, with the structural
    * difference the compression forces: PQ codes are lossy, so the raw
    * vectors come from `rawStore` (the store the IVFADC+R rerank tier
    * keeps next to the index) while the LIVE ID SET comes from the
    * stored codes ([[IvfPq.retrainResidualIndex]]'s semi-join +
    * fail-fast coverage guard). Both quantizers retrain; the new
    * centroids + codebooks + `cell=`-partitioned codes are fully
    * written to a sibling version directory and the whole root swaps at
    * once — codes encoded under new codebooks can never pair with old
    * quantizer artifacts. Orphan scrub + ledger carry as in the flat
    * form. */
  def retrainIndex(spark: SparkSession, root: String, rawStore: DataFrame,
                   nlist: Int = 16, m: Int = 4, codebookSize: Int = 16,
                   seed: Long = 42L, idCol: String = "vec_id",
                   vecCol: String = "embedding"): Unit = {
    // before ANY layout read, at BOTH scopes (compactIndex swaps the
    // codes dir; retraining from a sparse recreation loses rows)
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/codes")
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/codes"))
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = rootP.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(root + "-__retraining__")
    f.delete(tmp, true) // a crashed previous attempt
    val retrained = IvfPq.retrainResidualIndex(
      IvfPqIndex(spark.read.parquet(s"$root/centroids"),
        spark.read.parquet(s"$root/codebooks"),
        spark.read.parquet(s"$root/codes")),
      rawStore, nlist, m, codebookSize, trainFraction = 1.0, seed,
      idCol, vecCol)
    retrained.centroids.write.parquet(s"$tmp/centroids")
    retrained.codebooks.write.parquet(s"$tmp/codebooks")
    // cell-repartitioned write: the migrated layout lands compacted
    // (one file per cell — see AnnService.retrainIndex)
    retrained.codes.repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$tmp/codes")
    val ledger = new org.apache.hadoop.fs.Path(s"$root/_ledger")
    if (f.exists(ledger))
      org.apache.hadoop.fs.FileUtil.copy(f, ledger, f,
        new org.apache.hadoop.fs.Path(s"$tmp/_ledger"), false, conf)
    graft.io.Sinks.swapDir(spark, root, tmp.toString)
  }

  /** Trigger wired to handler on the stored residual layout — EITHER
    * health signal fires the one migration that fixes both: coarse-cell
    * occupancy skew ([[IvfPq.balanceFactor]], read from the thin cell
    * column alone) or residual-codebook distortion
    * ([[IvfPq.meanResidualDistortion]], measured against the raw store;
    * pass `maxMeanSse = Double.MaxValue` to skip the store pass on
    * nights occupancy alone should decide). Returns whether a
    * migration happened. */
  def retrainIndexIfUnhealthy(spark: SparkSession, root: String,
                              rawStore: DataFrame,
                              maxBalance: Double = 2.0,
                              maxMeanSse: Double = Double.MaxValue,
                              nlist: Int = 16, m: Int = 4,
                              codebookSize: Int = 16, seed: Long = 42L,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): Boolean = {
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/codes")
    def opened() = IvfPqIndex(
      spark.read.parquet(s"$root/centroids"),
      spark.read.parquet(s"$root/codebooks"),
      spark.read.parquet(s"$root/codes"))
    val fire = IvfPq.balanceFactor(opened()) > maxBalance ||
      (maxMeanSse != Double.MaxValue &&
        IvfPq.meanResidualDistortion(opened(), rawStore, idCol, vecCol)
          > maxMeanSse)
    if (fire) retrainIndex(spark, root, rawStore, nlist, m, codebookSize,
      seed, idCol, vecCol)
    fire
  }
}

/** Request-time ANN over a stored int8 scalar-quantized (SQ8) layout —
  * the 4× tier's serving face ([[graft.sim.Sq]] scaladoc): the thin
  * (cand_id, scale, q) frame is opened once; each probe quantizes the
  * query with the SAME symmetric expression and byte-dot-scans the
  * frame. No codebook, no LUT, no coarse pruning — the right trade
  * where recall must stay near-exact and the corpus fits a 4× scan.
  * Same request-safety envelope as the other backends. */
final class AnnSqService(index: graft.sim.SqIndex, val dim: Int,
                         val maxK: Int = 100,
                         filterCols: Set[String] = Set.empty) extends AnnBackend {
  require(dim > 0, s"dim must be > 0, got $dim")
  require(maxK > 0, s"maxK must be > 0, got $maxK")
  filterCols.foreach(c => require(index.quantized.columns.contains(c),
    s"filterable column '$c' is not in the stored quantized frame " +
      s"(carry it via Sq.buildIndex keepCols; found: " +
      s"${index.quantized.columns.mkString(", ")})"))

  /** Top-k ids for the query vector: (cand_id, score, rank), rank 1..k,
    * score = reconstructed inner product (scale·scale·Σ q·q, round 6). */
  def topK(vec: Seq[Float], k: Int): Seq[(Long, Double, Int)] =
    topK(vec, k, None)

  /** Filtered top-k: whitelisted equality on an attribute column
    * denormalized onto the quantized rows, applied BEFORE the byte-dot
    * scan — k survivors are k matching survivors, and every filtered
    * row is scan work saved (the flat-frame contract). */
  override def topK(vec: Seq[Float], k: Int,
                    filter: Option[(String, String)]): Seq[(Long, Double, Int)] = {
    require(vec.length == dim,
      s"query vector has ${vec.length} dims; the index carries $dim")
    require(k > 0 && k <= maxK, s"k must be in [1, $maxK], got $k")
    val pred = filter.map { case (c, v) =>
      require(filterCols.contains(c),
        s"column '$c' is not filterable (whitelist: " +
          s"${if (filterCols.isEmpty) "<empty>" else filterCols.mkString(", ")})")
      col(c) === lit(v)
    }
    val spark = index.quantized.sparkSession
    import spark.implicits._
    val q = Seq((-1L, vec.toArray)).toDF("vec_id", "embedding")
    // dim was probed ONCE at open/build time and the request vector
    // require-checked above — knownDim skips probeTopK's two one-row
    // collect jobs per request (they were pure duplication here)
    graft.sim.Sq.probeTopK(index, q, k, filter = pred,
      knownDim = Some(dim))
      .orderBy(col("rank"))
      .select(col("cand_id"), col("score"), col("rank"))
      .as[(Long, Double, Int)].collect().toSeq
  }
}

object AnnSqService {
  /** Open a stored SQ8 layout (`root/quantized` — the frame
    * [[graft.sim.Sq.buildIndex]] writes). The dimension comes from one
    * stored row's byte width (sanctioned single-row collect). */
  def overParquetDir(spark: SparkSession, root: String, maxK: Int = 100,
                     filterCols: Set[String] = Set.empty): AnnSqService = {
    val quantized = spark.read.parquet(s"$root/quantized")
    val dim = quantized.select(length(col("q")).cast("int").as("d"))
      .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(0)
    new AnnSqService(graft.sim.SqIndex(quantized), dim, maxK, filterCols)
  }

  /** Index-aware compaction — the [[AnnRpService.compactIndex]] shape:
    * the quantized frame is unpartitioned (every probe byte-dot-scans
    * it), so compaction is the plain small-file fold with the
    * versioned-dir swap; orphans scrubbed first, `_ledger` survives. */
  def compactIndex(spark: SparkSession, root: String,
                   targetFiles: Int = 1): Unit = {
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/quantized"))
    graft.io.Sinks.compactParquetInPlace(spark, s"$root/quantized",
      targetFiles)
  }

  /** STORED takedown — the thin-frame anti-join rewrite with the
    * marker-fenced swap ([[AnnService.removeFromThinLayout]]). Nothing
    * trained exists to drift: a takedown here is provably a no-op for
    * every surviving row. */
  def removeFromIndex(spark: SparkSession, root: String,
                      removedIds: DataFrame,
                      idCol: String = "vec_id"): Unit =
    AnnService.removeFromThinLayout(spark, root, s"$root/quantized",
      removedIds, idCol, layoutIdCol = "cand_id")

  /** Re-embedded document UPSERT: live quantized rows for the batch's
    * ids are removed (a no-op anti-join for genuinely-new ids), the new
    * vectors quantized — a per-vector function, so upserted ≡ rebuilt
    * EXACTLY, the strongest merge semantics in the family — and appended
    * as one file per batch. Attribute columns come from the stored
    * schema (batch rows must carry them). */
  def upsertDelta(spark: SparkSession, root: String, batch: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Unit = {
    graft.util.Guards.requireUniqueIds(batch, idCol,
      "AnnSqService.upsertDelta")
    // heal-before-ANY-layout-read, then capture the attribute schema
    // BEFORE the remove (the empty-layout hazard)
    graft.io.Sinks.recoverCrashedSwap(spark, root)
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/quantized")
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/quantized"))
    val extras = spark.read.parquet(s"$root/quantized").columns
      .filterNot(c => c == "cand_id" || c == "scale" || c == "q").toSeq
    val missing = extras.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"upsert batch is missing attribute column(s) ${missing.mkString(", ")} " +
        s"the layout denormalizes (batch has: ${batch.columns.mkString(", ")})")
    removeFromIndex(spark, root, batch.select(col(idCol)), idCol)
    graft.sim.Sq.quantize(batch, idCol, vecCol, keepCols = extras)
      .coalesce(1).write.mode("append").parquet(s"$root/quantized")
  }
}
