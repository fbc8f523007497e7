package graft.serve

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.util.Residency

/** STORED near-duplicate index — the MinHash-LSH family brought to the
  * same uniform stored-layout lifecycle as the ANN tiers
  * ([[AnnService]]…) and the BM25 tier ([[SearchService]]): build →
  * O(delta) append → O(removed) delete → replay-safe streaming ingest →
  * partition-preserving compaction → occupancy audit, all over ONE
  * on-disk layout every op understands.
  *
  * Layout under `root`:
  *   - `meta`        — one row (bands, rows_per_band, shingle_k,
  *                     groups). The index is SELF-DESCRIBING: probes and
  *                     appends read their banding AND partition-group
  *                     parameters from here, so neither the
  *                     mixed-width-index failure mode
  *                     ([[Dedup.requireIndexWidth]]) nor a mis-routed
  *                     append (rows hashed with a different group count
  *                     land in partitions no probe prunes to) can be
  *                     reached through this API at all.
  *   - `signatures`  — (id, sig: array<bigint>) partitioned by
  *                     `idgrp = pmod(xxhash64(id), groups)`; the
  *                     verification source and the recovery source for
  *                     deletes.
  *   - `buckets`     — (band, bucket, id) partitioned by
  *                     `bgrp = pmod(bucket, groups)`; the THIN banded
  *                     rows a probe joins against. Thin by design:
  *                     denormalizing the 64-long signature into every
  *                     band row would multiply index storage by `bands`
  *                     — at 100 TB the bucket rows must stay ~20 bytes.
  *   - `_ledger`     — [[graft.streaming.BatchCommit]] markers for the
  *                     streamed batches.
  *
  * Probe cost model (the reason this exists next to
  * [[Dedup.incrementalNearDups]], which scans the WHOLE signature index
  * per batch): the delta's bucket rows land in at most
  * `min(delta·bands, groups)` `bgrp` partitions, those values are
  * collected (≤ groups-row driver cost) and pushed as an `isin`
  * partition filter, so the stored bucket scan reads ONLY matching
  * partitions; candidate signatures are then fetched through the same
  * ≤ groups-value `idgrp` pruning on the signatures scan. A small delta
  * probes a large index touching a bounded fraction of it —
  * O(delta + matched partitions), never O(index).
  *
  * Reference analog: the refresh cadence of `dag1.py` (full
  * truncate-and-reload) re-expressed as an incremental stored index, the
  * same relationship [[SearchService.appendDelta]] has to its rebuild. */
object NearDupService {

  /** Default partition-group count: wide enough that a delta's
    * rewrite/append touches a small fraction of a big layout, small
    * enough that the driver-side collected group lists stay trivially
    * bounded. The ACTUAL count is pinned in the layout's `meta` (the
    * banding-parameter discipline): group hashing is baked into the
    * directory structure, so an append computed with a different count
    * would mis-route rows into partitions no probe prunes to. At 100 TB
    * the knob matters for TAKEDOWN granularity — a delete rewrites the
    * touched groups wholesale, so K removed ids rewrite ~min(K, groups)
    * / groups of the layout; size `groups` so one group's rewrite is an
    * acceptable maintenance unit (collects stay O(groups) rows). */
  private val DefaultGroups = 64

  /** Stored layout parameters (one meta row). `groups` defaults for
    * layouts written before it was recorded. */
  final case class NearDupMeta(bands: Int, rowsPerBand: Int,
                               shingleK: Int, groups: Int)

  /** Co-locate each partition value's rows on one task before a
    * `partitionBy` write, so every write below lands ONE file per group
    * per call instead of (tasks × groups) shards — round 13's build of a
    * 5,000-doc corpus left 6,295 files, the small-file pathology
    * [[graft.io.Sinks.compactLayout]] exists to repair, produced by the
    * BUILD. Explicit partition count: a bare `repartition(col)` is
    * AQE-coalescible, and coalescing would funnel several groups through
    * one task (still one file per group — but the explicit count also
    * keeps big builds from serializing on a few tasks). One shared
    * implementation with the staged micro-batch writers. */
  private def oneFilePerGroup(df: DataFrame, grpCol: String): DataFrame =
    graft.io.Sinks.onePerPartitionValue(df, Seq(grpCol))

  /** Fail-fast duplicate-id gate on DELTA ingest
    * ([[graft.util.Guards.requireUniqueIds]]): two rows with one id in
    * a batch would flow into [[Dedup.minHashSignatures]]' groupBy,
    * which UNIONS both versions' shingle sets — the stored signature
    * then matches NEITHER version and the guaranteed-recall
    * threshold-1.0 probe silently misses the doc. Full builds don't pay
    * this pass: a duplicated build id surfaces as `n_rows ≠ n_ids`
    * drift in [[bandStats]], the layout audit built for exactly that
    * class. */
  private def requireUniqueIds(df: DataFrame, idCol: String,
                               op: String): Unit =
    graft.util.Guards.requireUniqueIds(df, idCol, op)

  private def idGrp(id: Column, groups: Int): Column =
    pmod(xxhash64(id), lit(groups.toLong)).cast("int")
  private def bGrp(bucket: Column, groups: Int): Column =
    pmod(bucket, lit(groups.toLong)).cast("int")

  /** The banded (band, bucket, id, bgrp) rows of a signature frame —
    * shared by build, append, streaming ingest and the probe's delta
    * side, so all four hash buckets identically. */
  private def bucketRows(sigs: DataFrame, groups: Int): DataFrame =
    sigs.select(col("id"), col("__bb.band").as("band"),
        col("__bb.bucket").as("bucket"))
      .withColumn("bgrp", bGrp(col("bucket"), groups))

  private def withBands(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("id"),
      Dedup.bandBuckets(col("sig"), bands, rowsPerBand).as("__bb"))

  /** The stored layout's pinned parameters. Layouts written before the
    * group count was recorded read back with [[DefaultGroups]] — the
    * value every pre-recording build used. */
  def readMeta(spark: SparkSession, root: String): NearDupMeta = {
    val df = spark.read.parquet(s"$root/meta")
    val r = df.collect()(0)
    NearDupMeta(r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band"),
      r.getAs[Int]("shingle_k"),
      if (df.columns.contains("groups")) r.getAs[Int]("groups")
      else DefaultGroups)
  }

  /** Full build of the stored layout. The signature computation is
    * [[Dedup.minHashSignatures]] verbatim (shared construction — index
    * compatibility with the in-memory operators is by identity, not by
    * convention). */
  def buildIndex(df: DataFrame, textCol: String, idCol: String, root: String,
                 bands: Int = 16, rowsPerBand: Int = 4,
                 shingleK: Int = 5, groups: Int = DefaultGroups): Unit = {
    require(bands > 0 && rowsPerBand > 0,
      s"bands/rowsPerBand must be > 0, got $bands/$rowsPerBand")
    require(groups > 0, s"groups must be > 0, got $groups")
    val spark = df.sparkSession
    import spark.implicits._
    // Signatures are computed ONCE into a cache shared by both dataset
    // writes (guide §5/§6): the previous shape wrote signatures, then
    // READ THEM BACK from parquet to derive the bucket rows — a full
    // write→list→scan round trip of the signature dataset per build.
    // With the frame materialized first, the two writes are independent
    // jobs and run concurrently (guide §2.6); bucket values are
    // identical (same rows either way — the parquet round trip preserved
    // them bit-for-bit).
    Residency.scoped { s =>
      val sigs = s.persist(Dedup.minHashSignatures(df, textCol, idCol,
        bands * rowsPerBand, shingleK))
      sigs.queryExecution.toRdd.count() // materialize before the overlap
      graft.util.Parallel.par2(spark)(
        () => oneFilePerGroup(
            sigs.withColumn("idgrp", idGrp(col("id"), groups)), "idgrp")
          .write.mode("overwrite").partitionBy("idgrp")
          .parquet(s"$root/signatures"),
        () => oneFilePerGroup(bucketRows(withBands(sigs, bands, rowsPerBand),
            groups), "bgrp")
          .write.mode("overwrite").partitionBy("bgrp")
          .parquet(s"$root/buckets"))
    }
    Seq((bands, rowsPerBand, shingleK, groups))
      .toDF("bands", "rows_per_band", "shingle_k", "groups")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
  }

  /** O(delta + touched partitions) incremental ingest: delta signatures
    * APPEND as new files into only the `idgrp` partitions the delta's
    * ids hash to, delta bucket rows into only the `bgrp` partitions its
    * buckets hash to (dynamic partitionBy append — base files are never
    * rewritten, never read). Banding parameters come from the stored
    * meta, so an append can never widen or narrow the index.
    *
    * PRECONDITION (the [[SearchService.appendDelta]] posture): delta ids
    * are NEW — re-ingesting a live id leaves two signature rows for it
    * and the probe would report both. Use [[removeFromIndex]] first for
    * updates.
    *
    * Crash order: bucket rows are appended only AFTER the signature
    * append finished. [[removeFromIndex]] derives a removed id's bucket
    * partitions from its STORED signature, so a failure between the two
    * appends leaves signatures without buckets — which a takedown of the
    * batch ids clears — never bucket rows no takedown can find. */
  def appendDelta(df: DataFrame, textCol: String, idCol: String,
                  root: String): Unit = {
    val spark = df.sparkSession
    requireUniqueIds(df, idCol, "NearDupService.appendDelta")
    // heal a crashed compaction swap BEFORE appending: writing into a
    // sparse writer-recreated dir works (the fold-by-relative-path
    // recovery preserves appended files), but healing first keeps the
    // layout readable for the very next probe instead of deferring it
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/signatures")
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/buckets")
    val m = readMeta(spark, root)
    Residency.scoped { s =>
      // the signature cache is shared by both appends
      val sigs = s.persist(Dedup.minHashSignatures(df, textCol, idCol,
        m.bands * m.rowsPerBand, m.shingleK))
      oneFilePerGroup(sigs.withColumn("idgrp", idGrp(col("id"), m.groups)), "idgrp")
        .write.mode("append").partitionBy("idgrp")
        .parquet(s"$root/signatures")
      oneFilePerGroup(bucketRows(withBands(sigs, m.bands, m.rowsPerBand),
          m.groups), "bgrp")
        .write.mode("append").partitionBy("bgrp")
        .parquet(s"$root/buckets")
    }
  }

  /** Re-crawled-document UPSERT — the [[SearchService.upsertDelta]]
    * pattern for the near-dup tier: any existing signature/bucket rows
    * for the batch's ids are removed (O(touched partitions) — a no-op
    * rewrite for genuinely-new ids), then the batch appends as a normal
    * delta. Closes [[appendDelta]]'s NEW-ids precondition for the edited
    * -document case without the caller hand-sequencing the two steps
    * (mis-ordering them would leave two signature rows per edited id and
    * the probe would report both versions). */
  def upsertDelta(df: DataFrame, textCol: String, idCol: String,
                  root: String): Unit = {
    removeFromIndex(df.sparkSession, root, df.select(col(idCol)), idCol)
    appendDelta(df, textCol, idCol, root)
  }

  /** Signature-estimate probe of a new batch against the stored index —
    * value-identical to [[Dedup.incrementalNearDups]] over the same
    * corpus and parameters (spec-pinned), but paying only the matched
    * partitions of the stored layout instead of a full index scan:
    * returns (new_id, ref_id, est_jaccard), est = signature agreement
    * fraction, pairs with est ≥ threshold, self-pairs excluded. */
  def probe(spark: SparkSession, root: String, newBatch: DataFrame,
            textCol: String, idCol: String, threshold: Double = 0.7,
            maxBucketOccupancy: Long = 100000L): DataFrame = {
    require(threshold > 0, "probe requires a positive threshold")
    val m = readMeta(spark, root)
    val numHashes = m.bands * m.rowsPerBand
    Residency.scoped { s =>
      val deltaSigs = s.persist(Dedup.minHashSignatures(newBatch, textCol, idCol,
        numHashes, m.shingleK))
      val d = bucketRows(withBands(deltaSigs, m.bands, m.rowsPerBand),
          m.groups)
        .withColumnRenamed("id", "new_id")
      graft.util.Guards.checkBucketOccupancy(d, Seq("band", "bucket"),
        maxBucketOccupancy, "NearDupService.probe",
        "exact-dedup the batch first to collapse identical documents")
      // ≤ 64-row collect → static partition pruning on the stored scan
      val grps = d.select("bgrp").distinct()
        .collect().map(_.getInt(0)).sorted.map(Int.box)
      if (grps.isEmpty) deltaSigs.sparkSession.emptyDataFrame
        .select(lit(0L).as("new_id"), lit(0L).as("ref_id"),
          lit(0.0).as("est_jaccard")).limit(0)
      else {
        val refBuckets = spark.read.parquet(s"$root/buckets")
          .filter(col("bgrp").isin(grps: _*))
        graft.util.Guards.checkBucketOccupancy(refBuckets,
          Seq("band", "bucket"), maxBucketOccupancy,
          "NearDupService.probe(stored index)",
          "exact-dedup the corpus before indexing it")
        val cand = d.join(refBuckets.select(col("band"), col("bucket"),
              col("id").as("ref_id")),
            Seq("band", "bucket"))
          .select(col("new_id"), col("ref_id"))
          .dropDuplicates("new_id", "ref_id")
          .filter(col("new_id") =!= col("ref_id"))
          .withColumn("idgrp", idGrp(col("ref_id"), m.groups))
        // candidate idgrps are computable from ref_id — ≤ 64-row collect
        // prunes the signatures scan the same way
        val idgrps = cand.select("idgrp").distinct()
          .collect().map(_.getInt(0)).sorted.map(Int.box)
        val refSigs =
          if (idgrps.isEmpty)
            spark.read.parquet(s"$root/signatures").limit(0)
          else spark.read.parquet(s"$root/signatures")
            .filter(col("idgrp").isin(idgrps: _*))
        val agree = size(filter(zip_with(col("__dsig"), col("sig"),
          (x, y) => x === y), e => e))
        // pinned: materialized before the scope releases deltaSigs
        Residency.pin(cand.join(deltaSigs.select(col("id").as("new_id"),
            col("sig").as("__dsig")), Seq("new_id"))
          .join(refSigs.select(col("idgrp"), col("id").as("ref_id"),
            col("sig")), Seq("idgrp", "ref_id"))
          .withColumn("est_jaccard", round(
            agree.cast("double") / numHashes, 6))
          .filter(col("est_jaccard") >= threshold)
          .select(col("new_id"), col("ref_id"), col("est_jaccard")))
      }
    }
  }

  /** Exact-verified probe: LSH candidates from the stored buckets, then
    * EXACT shingle-Jaccard between the batch's text and the candidate
    * documents' text from `refDocs` (the document store — the index
    * holds signatures, not text). Returns (new_id, ref_id, jaccard) with
    * exact jaccard ≥ threshold. At `threshold = 1.0` recall is
    * GUARANTEED, not probabilistic: identical shingle sets have
    * identical signatures, so every band collides — the property the
    * hash-certified registry faces stand on.
    *
    * Verification is DISTRIBUTED ([[Dedup.verifyPairsJaccardSided]]):
    * only the candidate-referenced docs are shingled, intersections are
    * counted with a codegen'd hash join + aggregate, and shingles ride
    * the joins as 8-byte hashes. Round 13 shipped this step as a
    * per-pair interpreted [[Dedup.shingleJaccard]] expression — measured
    * 304 s for 15,875 candidate pairs on the sf0.1 corpus vs ~3 s for
    * the kernel, the exact anti-pattern `Dedup.scala`'s own perf
    * contracts warn about. Sided, not single-corpus: a probe batch id
    * may collide with a reference id while carrying different text. */
  def probeVerified(spark: SparkSession, root: String, newBatch: DataFrame,
                    refDocs: DataFrame, textCol: String, idCol: String,
                    threshold: Double = 0.7,
                    maxBucketOccupancy: Long = 100000L): DataFrame = {
    require(threshold > 0, "probeVerified requires a positive threshold")
    val m = readMeta(spark, root)
    // NOTE (r21 negative result): sharing ONE persisted exploded
    // (id, shingle-hash) frame between this signature build and the
    // verification kernel's batch side regressed every dd_index face
    // ~+1 s warm-median — caching the exploded rows breaks the
    // whole-stage-codegen fusion of explode → partial aggregate and the
    // cache write/read costs more than the second explosion it saves.
    // Both passes deliberately re-explode.
    Residency.scoped { s =>
      val deltaSigs = s.persist(Dedup.minHashSignatures(newBatch, textCol, idCol,
        m.bands * m.rowsPerBand, m.shingleK))
      val d = bucketRows(withBands(deltaSigs, m.bands, m.rowsPerBand),
          m.groups)
        .withColumnRenamed("id", "new_id")
      graft.util.Guards.checkBucketOccupancy(d, Seq("band", "bucket"),
        maxBucketOccupancy, "NearDupService.probeVerified",
        "exact-dedup the batch first to collapse identical documents")
      val grps = d.select("bgrp").distinct()
        .collect().map(_.getInt(0)).sorted.map(Int.box)
      val refBuckets = spark.read.parquet(s"$root/buckets")
        .filter(col("bgrp").isin(grps: _*))
      val cand = d.join(refBuckets.select(col("band"), col("bucket"),
            col("id").as("ref_id")), Seq("band", "bucket"))
        .select(col("new_id"), col("ref_id"))
        .dropDuplicates("new_id", "ref_id")
        .filter(col("new_id") =!= col("ref_id"))
      // the kernel materializes eagerly, releases its corpus-sized
      // persists itself, and hands back a persisted pair-sized frame;
      // the pin below materializes the projection through that cache,
      // after which the scope releases the kernel frame — this op keeps
      // its no-cached-frames-left-behind return contract
      val verified = s.adopt(Dedup.verifyPairsJaccardSided(cand, newBatch,
        refDocs, textCol, idCol, "new_id", "ref_id", m.shingleK))
      Residency.pin(verified
        .withColumn("jaccard", round(col("jaccard"), 6))
        .filter(col("jaccard") >= threshold)
        .select(col("new_id"), col("ref_id"), col("jaccard")))
    }
  }

  /** O(removed + touched partitions) takedown: the removed ids'
    * signatures are recovered from the PRUNED signatures scan (their
    * `idgrp`s are computable from the ids — ≤ 64-value partition
    * filter), their bucket rows re-derived with the stored banding, and
    * ONLY the touched `idgrp`/`bgrp` partitions are rewritten without
    * the removed rows (staging write + per-partition swap — untouched
    * partitions keep their physical files, spec-pinned). Uncommitted
    * streamed-batch orphans are scrubbed first: the rewrites are
    * untagged, and folding a partial batch in would double-count on its
    * replay. */
  def removeFromIndex(spark: SparkSession, root: String,
                      removedIds: DataFrame, idCol: String = "id"): Unit = {
    // heal BOTH crash shapes BEFORE the touched-partition scans below:
    // a crashed compactIndex leaves a dataset dir mid-SWAP (`-__old__`
    // holds the only full copy) — a takedown run against a sparse
    // writer recreation would be silently undone (removed ids
    // resurrected) when the next recovery folds `__old__` back; a
    // crashed prior takedown leaves parked partitions invisible to the
    // scans until a REWRITE recovery restores them
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/signatures")
    graft.io.Sinks.recoverCrashedSwap(spark, s"$root/buckets")
    graft.io.Sinks.recoverCrashedRewrite(spark, s"$root/signatures")
    graft.io.Sinks.recoverCrashedRewrite(spark, s"$root/buckets")
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/signatures", s"$root/buckets"))
    val m = readMeta(spark, root)
    Residency.scoped { s =>
      val ids = s.persist(removedIds.select(col(idCol).as("id")).dropDuplicates("id"))
      val idgrps = ids.select(idGrp(col("id"), m.groups).as("idgrp")).distinct()
        .collect().map(_.getInt(0)).sorted
      if (idgrps.nonEmpty) {
        val idgrpLit = idgrps.map(Int.box)
        val sigScan = spark.read.parquet(s"$root/signatures")
          .filter(col("idgrp").isin(idgrpLit: _*))
        // the removed rows' buckets — recovered, not guessed
        val removedSigs = sigScan.join(broadcast(ids), Seq("id"), "left_semi")
        val bgrps = bucketRows(withBands(removedSigs, m.bands, m.rowsPerBand),
            m.groups)
          .select("bgrp").distinct().collect().map(_.getInt(0)).sorted
        // The two dataset rewrites touch disjoint directories and both
        // read their touched sets from the PRE-REWRITE layout (bgrps was
        // derived above, before either rewrite) — independent job chains,
        // run concurrently (guide §2.6). Each keeps its own staging dir
        // and swap loop, so crash-recovery semantics are unchanged.
        val rewriteSigs = () => rewritePartitions(spark, s"$root/signatures",
          "idgrp", idgrps, sigScan.join(broadcast(ids), Seq("id"), "left_anti"))
        if (bgrps.nonEmpty) {
          val bgrpLit = bgrps.map(Int.box)
          val bScan = spark.read.parquet(s"$root/buckets")
            .filter(col("bgrp").isin(bgrpLit: _*))
          graft.util.Parallel.par2(spark)(
            rewriteSigs,
            () => rewritePartitions(spark, s"$root/buckets", "bgrp", bgrps,
              bScan.join(broadcast(ids), Seq("id"), "left_anti")))
        } else rewriteSigs()
      }
    }
  }

  private def rewritePartitions(spark: SparkSession, dir: String,
                                partCol: String, touched: Seq[Int],
                                replacement: DataFrame): Unit =
    graft.io.Sinks.rewritePartitions(spark, dir, partCol, touched,
      replacement)

  /** Index-aware compaction: both partitioned dirs fold to
    * `filesPerPartition` files per group WITH their partitioning (and
    * probe pruning) intact; the `_ledger` survives so pre-compaction
    * streamed batches keep skipping on replay. */
  def compactIndex(spark: SparkSession, root: String,
                   filesPerPartition: Int = 1): Unit = {
    graft.streaming.BatchCommit.scrubUncommitted(spark, root,
      Seq(s"$root/signatures", s"$root/buckets"))
    graft.io.Sinks.compactLayoutInPlace(spark, s"$root/signatures",
      Seq("idgrp"), filesPerPartition)
    graft.io.Sinks.compactLayoutInPlace(spark, s"$root/buckets",
      Seq("bgrp"), filesPerPartition)
  }

  /** One streamed micro-batch's staged layout write — the body of
    * [[graft.streaming.StreamOps.nearDupIngestStream]] (kept here so the
    * partition-group hashing stays private to the layout). Writes the
    * batch's signatures and bucket rows under `staging` with the SAME
    * partitioning as the live dirs and returns the move pairs for
    * [[graft.streaming.BatchCommit.runOnce]]. */
  private[graft] def writeStagedBatch(batch: DataFrame, textCol: String,
                                      idCol: String, staging: String,
                                      root: String, meta: NearDupMeta)
                                     : Seq[(String, String)] = {
    requireUniqueIds(batch, idCol, "NearDupService.writeStagedBatch")
    Residency.scoped { s =>
      val sigs = s.persist(Dedup.minHashSignatures(batch, textCol, idCol,
        meta.bands * meta.rowsPerBand, meta.shingleK))
      oneFilePerGroup(sigs.withColumn("idgrp",
          idGrp(col("id"), meta.groups)), "idgrp")
        .write.partitionBy("idgrp").parquet(s"$staging/signatures")
      oneFilePerGroup(bucketRows(withBands(sigs, meta.bands,
          meta.rowsPerBand), meta.groups), "bgrp")
        .write.partitionBy("bgrp").parquet(s"$staging/buckets")
    }
    Seq(s"$staging/signatures" -> s"$root/signatures",
      s"$staging/buckets" -> s"$root/buckets")
  }

  /** Per-band layout audit — integer sufficient statistics of the stored
    * layout (each live doc contributes exactly one bucket row per band,
    * so `n_rows` = `n_ids` = live corpus size in EVERY band; a drifted
    * band means a torn append or delete). One thin aggregate over the
    * (band, id) columns. */
  def bandStats(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/buckets")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("id")).as("n_ids"))

  /** Occupancy audit of the stored buckets — the [[Ivf.cellStats]]
    * analog: the worst (band, bucket) occupancy and the mean, the number
    * a nightly job reads to decide the corpus needs exact-dedup before
    * more ingest (nothing is trained here, so unlike the ANN tiers the
    * remedy is corpus hygiene, not retraining). */
  def bucketStats(spark: SparkSession, root: String): DataFrame = {
    val occ = spark.read.parquet(s"$root/buckets")
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("occ"))
    occ.agg(count(lit(1)).as("n_buckets"),
      sum(col("occ")).as("n_rows"),
      max(col("occ")).as("occ_max"),
      round(avg(col("occ")), 6).as("occ_avg"))
  }
}
