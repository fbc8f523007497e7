package graft.serve

import graft.SparkSpec
import graft.text.TextOps
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Incremental maintenance of the stored BM25 layout: appendDelta must
  * produce byte-for-byte the index a full rebuild would (postings row set
  * + stats), touch ONLY the delta's term buckets, and never rewrite a
  * base file — the O(delta + touched buckets) contract. */
class SearchIndexSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSet
    finally s.close()
  }

  test("appendDelta: merged ≡ rebuilt, base files untouched, " +
      "only delta-term buckets gain files") {
    val base = Seq((1L, "Apple banana apple"), (2L, "banana"))
      .toDF("doc_id", "text")
    val delta = Seq((3L, "cherry apple"), (4L, "")).toDF("doc_id", "text")
    val mergedRoot =
      java.nio.file.Files.createTempDirectory("idx_merged_").toString
    val rebuiltRoot =
      java.nio.file.Files.createTempDirectory("idx_rebuilt_").toString

    SearchService.buildIndex(base, "text", "doc_id", mergedRoot)
    val before = parquetFiles(s"$mergedRoot/postings")
    SearchService.appendDelta(delta, "text", "doc_id", mergedRoot)
    val after = parquetFiles(s"$mergedRoot/postings")

    // incrementality: every base file survives untouched; every NEW file
    // lives in a bucket of one of the delta's terms
    assert(before.subsetOf(after), "append rewrote base postings files")
    val newFiles = after -- before
    assert(newFiles.nonEmpty, "delta produced no postings files")
    val deltaBuckets = Seq("cherry", "apple").map(tm =>
      spark.range(1).select(TextOps.bm25Bucket(lit(tm))).first().getInt(0))
      .toSet
    assert(newFiles.forall(f =>
        deltaBuckets.exists(b => f.contains(s"bucket=$b/"))),
      s"delta files outside the delta's term buckets: $newFiles")

    // equivalence: merged index ≡ full from-scratch rebuild
    SearchService.buildIndex(base.unionByName(delta), "text", "doc_id",
      rebuiltRoot)
    def postingRows(root: String): Set[String] =
      spark.read.parquet(s"$root/postings")
        .select("term", "doc_id", "tf", "dl", "bucket")
        .collect().map(_.toString).toSet
    assert(postingRows(mergedRoot) === postingRows(rebuiltRoot))
    val mergedStats = spark.read.parquet(s"$mergedRoot/stats")
      .select("n_docs", "dl_sum").first()
    assert(mergedStats.getLong(0) === 4L) // the empty delta doc counts
    assert(mergedStats.getLong(1) === 6L) // 3 + 1 + 2 + 0
    assert(mergedStats ===
      spark.read.parquet(s"$rebuiltRoot/stats")
        .select("n_docs", "dl_sum").first())

    // serving: a SearchService over the MERGED layout ranks exactly like
    // one over the rebuild — and hits the post-delta doc
    val merged = SearchService.overParquetDir(spark, mergedRoot, maxK = 10)
    val rebuilt = SearchService.overParquetDir(spark, rebuiltRoot, maxK = 10)
    val hits = merged.topK(Seq("apple", "banana"), 3)
    assert(hits === rebuilt.topK(Seq("apple", "banana"), 3))
    assert(hits.map(_._1) === Seq(1L, 2L, 3L), hits.toString)
  }

  test("compactIndex: a streamed layout's many small files fold per " +
      "bucket, serving unchanged, stats canonicalize, ledger survives") {
    val root = java.nio.file.Files.createTempDirectory("idx_compact_").toString
    SearchService.buildIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", "doc_id", root)
    // five streamed micro-batches over overlapping vocabulary — every
    // touched bucket accumulates one file per batch
    val batches = (0 until 5).map(b =>
      Seq((10L * b + 1, "apple banana"), (10L * b + 2, s"cherry apple b$b"))
        .toDF("doc_id", "text"))
    batches.zipWithIndex.foreach { case (df, b) =>
      assert(graft.streaming.StreamOps.bm25IngestBatch(
        df, "text", "doc_id", root, batchId = b))
    }
    val svc0 = SearchService.overParquetDir(spark, root, maxK = 10)
    val before = svc0.topK(Seq("apple", "cherry"), 5)
    val filesBefore = parquetFiles(s"$root/postings").size
    assert(spark.read.parquet(s"$root/stats").count() === 6) // bootstrap + 5

    SearchService.compactIndex(spark, root)

    assert(parquetFiles(s"$root/postings").size < filesBefore)
    assert(spark.read.parquet(s"$root/stats").count() === 1)
    val svc1 = SearchService.overParquetDir(spark, root, maxK = 10)
    assert(svc1.topK(Seq("apple", "cherry"), 5) === before)
    // pruning survives: the bucket predicate is still a partition filter
    import org.apache.spark.sql.execution.FileSourceScanExec
    val b = spark.range(1)
      .select(TextOps.bm25Bucket(lit("apple"))).first().getInt(0)
    val q = spark.read.parquet(s"$root/postings")
      .filter(col("bucket") === b).select("doc_id")
    q.collect()
    val scans = allPlanNodes(q.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.head.partitionFilters
        .exists(_.references.exists(_.name == "bucket")),
      s"bucket pruning lost post-compaction: ${scans.head.partitionFilters}")
    // the ledger survives compaction: a replayed pre-compaction batch is
    // still recognized as committed and skipped — no double count
    assert(!graft.streaming.StreamOps.bm25IngestBatch(
      batches(2), "text", "doc_id", root, batchId = 2))
    assert(SearchService.overParquetDir(spark, root, maxK = 10)
      .topK(Seq("apple", "cherry"), 5) === before)
    // and post-compaction ingest continues normally
    assert(graft.streaming.StreamOps.bm25IngestBatch(
      Seq((991L, "durian apple")).toDF("doc_id", "text"),
      "text", "doc_id", root, batchId = 5))
    assert(SearchService.overParquetDir(spark, root, maxK = 10)
      .topK(Seq("durian"), 1).map(_._1) === Seq(991L))
  }

  test("upsertDelta: a served document's edit lands (new term hits, old " +
      "term released); untouched buckets keep their physical files; " +
      "upserted ≡ rebuilt-on-edited-corpus") {
    val docs = Seq((1L, "apple banana apple"), (2L, "banana kumquat"),
      (3L, "cherry apple")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("idx_upsert_").toString
    SearchService.buildIndex(docs, "text", "doc_id", root)
    val before = parquetFiles(s"$root/postings")
    // doc 2 edited: loses "kumquat", gains "durian"; doc 9 inserted
    val oldSlice = docs.filter(col("doc_id") === 2)
    val newSlice = Seq((2L, "banana durian"), (9L, "apple durian"))
      .toDF("doc_id", "text")
    SearchService.upsertDelta(newSlice, oldSlice, "text", "doc_id", root)

    // equivalence with a from-scratch rebuild of the edited corpus
    val edited = docs.filter(col("doc_id") =!= 2).unionByName(newSlice)
    val rebuiltRoot = java.nio.file.Files.createTempDirectory("idx_upsert_rb_").toString
    SearchService.buildIndex(edited, "text", "doc_id", rebuiltRoot)
    def postingRows(r: String): Set[String] =
      spark.read.parquet(s"$r/postings")
        .select("term", "doc_id", "tf", "dl", "bucket")
        .collect().map(_.toString).toSet
    assert(postingRows(root) === postingRows(rebuiltRoot))
    assert(SearchService.readStats(spark, root)
        .select("n_docs", "dl_sum").first() ===
      SearchService.readStats(spark, rebuiltRoot)
        .select("n_docs", "dl_sum").first())

    // O(touched buckets): files in buckets holding neither old nor new
    // rows of the upsert are the SAME physical files
    val touchedTerms = Seq("banana", "kumquat", "durian", "apple")
    val touched = touchedTerms.map(tm =>
      spark.range(1).select(TextOps.bm25Bucket(lit(tm))).first().getInt(0)).toSet
    val untouchedBefore = before.filterNot(f =>
      touched.exists(b => f.contains(s"bucket=$b/")))
    val after = parquetFiles(s"$root/postings")
    assert(untouchedBefore.nonEmpty, "fixture: want at least one untouched bucket")
    assert(untouchedBefore.subsetOf(after),
      s"upsert rewrote untouched buckets: ${untouchedBefore -- after}")

    // serving reflects the edit end to end
    val svc = SearchService.overParquetDir(spark, root, maxK = 10)
    assert(svc.topK(Seq("durian"), 5).map(_._1).toSet === Set(2L, 9L))
    assert(svc.topK(Seq("kumquat"), 5).isEmpty)
    val rb = SearchService.overParquetDir(spark, rebuiltRoot, maxK = 10)
    assert(svc.topK(Seq("apple", "banana"), 5) ===
      rb.topK(Seq("apple", "banana"), 5))
  }

  test("removeFromIndex: stored takedown ≡ rebuilt-on-remainder; untouched " +
      "buckets keep their files; empty removed docs adjust stats exactly") {
    val docs = Seq((1L, "apple banana apple"), (2L, "banana kumquat"),
      (3L, "cherry apple"), (4L, "")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("idx_td_").toString
    SearchService.buildIndex(docs, "text", "doc_id", root)
    val before = parquetFiles(s"$root/postings")
    // remove doc 2 (postings in banana/kumquat buckets) AND the EMPTY
    // doc 4 — no posting row carries its n_docs contribution, which is
    // why the takedown takes documents with text, not bare ids
    SearchService.removeFromIndex(docs.filter(col("doc_id").isin(2L, 4L)),
      "text", "doc_id", root)
    val rebuiltRoot = java.nio.file.Files.createTempDirectory("idx_td_rb_").toString
    SearchService.buildIndex(docs.filter(!col("doc_id").isin(2L, 4L)),
      "text", "doc_id", rebuiltRoot)
    def postingRows(r: String): Set[String] =
      spark.read.parquet(s"$r/postings")
        .select("term", "doc_id", "tf", "dl", "bucket")
        .collect().map(_.toString).toSet
    assert(postingRows(root) === postingRows(rebuiltRoot))
    assert(SearchService.readStats(spark, root)
        .select("n_docs", "dl_sum").first() ===
      SearchService.readStats(spark, rebuiltRoot)
        .select("n_docs", "dl_sum").first())
    // O(touched buckets): only doc 2's term buckets were rewritten
    val touched = Seq("banana", "kumquat").map(tm =>
      spark.range(1).select(TextOps.bm25Bucket(lit(tm))).first().getInt(0)).toSet
    val untouchedBefore = before.filterNot(f =>
      touched.exists(b => f.contains(s"bucket=$b/")))
    assert(untouchedBefore.nonEmpty &&
      untouchedBefore.subsetOf(parquetFiles(s"$root/postings")),
      "takedown must not rewrite buckets holding no removed rows")
    // serving: the removed doc is gone, survivors unchanged
    val svc = SearchService.overParquetDir(spark, root, maxK = 10)
    assert(svc.topK(Seq("kumquat"), 5).isEmpty)
    assert(svc.topK(Seq("apple"), 5).map(_._1).toSet === Set(1L, 3L))
    // a takedown list carrying one id twice is rejected loudly — the
    // postings anti-join would dedupe silently while the stats
    // subtraction counted both rows, corrupting n_docs/dl_sum
    val e = intercept[IllegalArgumentException] {
      SearchService.removeFromIndex(
        Seq((1L, "apple banana"), (1L, "apple banana")).toDF("doc_id", "text"),
        "text", "doc_id", root)
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("upsertDelta heals a crashed bucket rewrite (bucket parked aside) " +
      "before its touched-bucket scan — survivors are never lost") {
    val docs = Seq((1L, "apple banana"), (2L, "banana kumquat"),
      (3L, "cherry apple")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("idx_crash_").toString
    SearchService.buildIndex(docs, "text", "doc_id", root)
    // forge the mid-rewrite crash window: one live bucket parked aside
    val b = spark.range(1).select(TextOps.bm25Bucket(lit("apple")))
      .first().getInt(0)
    val aside = new java.io.File(s"$root/postings-__replaced__")
    aside.mkdirs()
    assert(new java.io.File(s"$root/postings/bucket=$b")
      .renameTo(new java.io.File(s"$root/postings-__replaced__/bucket=$b")))
    // an upsert touching a DIFFERENT term must first restore the parked
    // bucket, or its rows (including apple postings) stay invisible
    SearchService.upsertDelta(
      Seq((2L, "banana durian")).toDF("doc_id", "text"),
      docs.filter(col("doc_id") === 2), "text", "doc_id", root)
    assert(!aside.exists(), "aside dir cleaned after recovery")
    val svc = SearchService.overParquetDir(spark, root, maxK = 10)
    assert(svc.topK(Seq("apple"), 5).map(_._1).toSet === Set(1L, 3L),
      "the parked bucket's postings must be live again")
    assert(svc.topK(Seq("durian"), 5).map(_._1).toSet === Set(2L))
  }

  test("maintenance ops drop UNCOMMITTED-batch orphans: a batch crashed " +
      "mid-append then compacted cannot double-count on replay") {
    val root = java.nio.file.Files.createTempDirectory("idx_orphan_").toString
    SearchService.buildIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", "doc_id", root)
    val b0 = Seq((1L, "apple banana")).toDF("doc_id", "text")
    val b1 = Seq((2L, "cherry apple")).toDF("doc_id", "text")
    assert(graft.streaming.StreamOps.bm25IngestBatch(
      b0, "text", "doc_id", root, batchId = 0))
    assert(graft.streaming.StreamOps.bm25IngestBatch(
      b1, "text", "doc_id", root, batchId = 1))
    // crash window: batch 1's data files are in place, marker missing
    assert(new java.io.File(s"$root/_ledger/batch-1").delete())
    // the maintenance op must NOT fold the uncommitted files into its
    // untagged rewrite — the replay below re-adds the whole batch
    SearchService.compactIndex(spark, root)
    assert(graft.streaming.StreamOps.bm25IngestBatch(
      b1, "text", "doc_id", root, batchId = 1))
    val rebuilt = java.nio.file.Files.createTempDirectory("idx_orphan_rb_").toString
    SearchService.buildIndex(b0.unionByName(b1), "text", "doc_id", rebuilt)
    def postingRows(r: String): Seq[String] = // Seq: duplicates must surface
      spark.read.parquet(s"$r/postings")
        .select("term", "doc_id", "tf", "dl", "bucket")
        .collect().map(_.toString).toSeq.sorted
    assert(postingRows(root) === postingRows(rebuilt))
    assert(SearchService.readStats(spark, root)
        .select("n_docs", "dl_sum").first() ===
      SearchService.readStats(spark, rebuilt)
        .select("n_docs", "dl_sum").first())
    // upsertDelta applies the same scrub (same double-count mechanism)
    assert(new java.io.File(s"$root/_ledger/batch-1").delete())
    SearchService.upsertDelta(
      Seq((1L, "apple durian")).toDF("doc_id", "text"),
      b0, "text", "doc_id", root)
    assert(graft.streaming.StreamOps.bm25IngestBatch(
      b1, "text", "doc_id", root, batchId = 1))
    val edited = Seq((1L, "apple durian"), (2L, "cherry apple"))
      .toDF("doc_id", "text")
    val rebuilt2 = java.nio.file.Files.createTempDirectory("idx_orphan_rb2_").toString
    SearchService.buildIndex(edited, "text", "doc_id", rebuilt2)
    assert(postingRows(root) === postingRows(rebuilt2))
  }

  test("AnnService/AnnPqService compactIndex: streamed small files fold " +
      "per cell, probes unchanged, uncommitted orphans dropped") {
    import graft.sim.{Ivf, IvfIndex}
    val dim = 8
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val seed = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("ann_compact_").toString
    val cents = Ivf.portableCentroids(seed, nlist = 4, stride = 13)
    cents.write.parquet(s"$root/centroids")
    Ivf.assignPortable(seed, cents)
      .write.partitionBy("cell").parquet(s"$root/assigned")
    (0 until 4).foreach { b =>
      assert(graft.streaming.StreamOps.ivfIngestBatch(
        Seq((100L + b, vec(100 + b))).toDF("vec_id", "embedding"),
        cents, root, batchId = b))
    }
    // batch 3 loses its marker: crashed mid-append, must not be folded
    assert(new java.io.File(s"$root/_ledger/batch-3").delete())
    val filesBefore = parquetFiles(s"$root/assigned").size
    AnnService.compactIndex(spark, root)
    assert(parquetFiles(s"$root/assigned").size < filesBefore)
    assert(graft.streaming.StreamOps.ivfIngestBatch(
      Seq((103L, vec(103))).toDF("vec_id", "embedding"),
      cents, root, batchId = 3))
    val expect = seed.unionByName(
      (0 until 4).map(b => (100L + b, vec(100 + b)))
        .toDF("vec_id", "embedding"))
    assert(spark.read.parquet(s"$root/assigned")
        .select("cand_id", "cell").collect().map(_.toString).toSeq.sorted ===
      Ivf.assignPortable(expect, cents)
        .select("cand_id", "cell").collect().map(_.toString).toSeq.sorted)
    // serving over the compacted layout still finds an exact twin
    val planted = Ivf.assignPortable(
      Seq((9007L, vec(7))).toDF("vec_id", "embedding"), cents)
    planted.write.mode("append").partitionBy("cell").parquet(s"$root/assigned")
    val hits = AnnService.overParquetDir(spark, root, maxK = 5, nprobe = 4)
      .topK(vec(7).toIndexedSeq, 2)
    // both exact copies at cosine 1.0, (score desc, cand_id) tie-break
    assert(hits.map(_._1).toSet === Set(7L, 9007L), hits.toString)
  }

  test("AnnRpService.compactIndex: streamed small files fold, probes " +
      "unchanged, uncommitted orphans dropped, replay completes the batch") {
    val dim = 8
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val seed = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("rp_compact_").toString
    graft.sim.Similarity.rpReduce(seed, "vec_id", "embedding",
        dimOut = 8, seed = 42)
      .write.parquet(s"$root/reduced")
    (0 until 4).foreach { b =>
      assert(graft.streaming.StreamOps.rpIngestBatch(
        Seq((100L + b, vec(100 + b))).toDF("vec_id", "embedding"),
        root, batchId = b, dimOut = 8, seed = 42))
    }
    // batch 3 crashed mid-append: data present, marker missing
    assert(new java.io.File(s"$root/_ledger/batch-3").delete())
    val filesBefore = parquetFiles(s"$root/reduced").size
    AnnRpService.compactIndex(spark, root)
    assert(parquetFiles(s"$root/reduced").size < filesBefore)
    // replay completes the scrubbed batch (same id, marker was missing)
    assert(graft.streaming.StreamOps.rpIngestBatch(
      Seq((103L, vec(103))).toDF("vec_id", "embedding"),
      root, batchId = 3, dimOut = 8, seed = 42))
    val expect = graft.sim.Similarity.rpReduce(
      seed.unionByName((0 until 4).map(b => (100L + b, vec(100 + b)))
        .toDF("vec_id", "embedding")), "vec_id", "embedding",
      dimOut = 8, seed = 42)
    assert(spark.read.parquet(s"$root/reduced")
        .select("id", "r").collect().map(_.toString).toSeq.sorted ===
      expect.select("id", "r").collect().map(_.toString).toSeq.sorted)
    // serving over the compacted layout finds a freshly planted twin
    graft.sim.Similarity.rpReduce(
        Seq((9007L, vec(7))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dimOut = 8, seed = 42)
      .write.mode("append").parquet(s"$root/reduced")
    val hits = AnnRpService.overParquetDir(spark, root, maxK = 5,
      shortlist = 50, seed = 42).topK(vec(7).toIndexedSeq, 2)
    assert(hits.map(_._1).toSet === Set(7L, 9007L), hits.toString)
  }

  test("AnnService.retrainIndex: stored-layout migration — balance factor " +
      "drops, orphans scrubbed, ledger survives, pruning layout intact") {
    import graft.sim.{Ivf, IvfIndex}
    // two clusters: even ids near 0, odd ids near +100 (the drift
    // source). The quantizer trains on the EVEN slice (stride 13 over
    // evens samples 0, 26, 52, 78 — all in the 0-cluster).
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      val anchor = if (i % 2 == 0) 0f else 100f
      Array.fill(8)(anchor + rnd.nextGaussian().toFloat)
    }
    val base = (0 until 80 by 2).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("ann_retrain_").toString
    val cents0 = Ivf.portableCentroids(base, nlist = 4, stride = 13)
    cents0.write.parquet(s"$root/centroids")
    Ivf.assignPortable(base, cents0)
      .write.partitionBy("cell").parquet(s"$root/assigned")
    // the odd cluster streams in under the frozen quantizer: 4 batches
    // of 10, all crowding the +cluster's nearest cell
    val odds = (1 until 80 by 2).toVector
    odds.grouped(10).zipWithIndex.foreach { case (ids, b) =>
      assert(graft.streaming.StreamOps.ivfIngestBatch(
        ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
        cents0, root, batchId = b))
    }
    // batch 3 crashed mid-append: data present, marker missing — the
    // migration must scrub it, not fold it into the retrained layout
    assert(new java.io.File(s"$root/_ledger/batch-3").delete())
    def opened() = IvfIndex(spark.read.parquet(s"$root/centroids"),
      spark.read.parquet(s"$root/assigned"))
    val bfBefore = Ivf.balanceFactor(opened())
    assert(bfBefore >= 2.0, s"fixture should be skewed, got $bfBefore")
    // below-threshold trigger is a no-op (no swap, same files)
    val filesBefore = parquetFiles(s"$root/assigned")
    assert(!AnnService.retrainIndexIfSkewed(spark, root,
      maxBalance = bfBefore + 1, nlist = 4, stride = 13))
    assert(parquetFiles(s"$root/assigned") === filesBefore)
    // the real migration: stride 13 over ALL live ids samples
    // 0, 13, 26, 39 — both clusters represented — so occupancy rebalances
    assert(AnnService.retrainIndexIfSkewed(spark, root, maxBalance = 2.0,
      nlist = 4, stride = 13))
    assert(Ivf.balanceFactor(opened()) < bfBefore)
    // the retrained layout holds exactly the committed live set: base +
    // batches 0-2 (batch 3 was an orphan and must be gone)
    val newCents = spark.read.parquet(s"$root/centroids")
    val live = (0 until 80 by 2) ++ odds.take(30)
    assert(spark.read.parquet(s"$root/assigned")
        .select("cand_id", "cell").collect().map(_.toString).toSeq.sorted ===
      Ivf.assignPortable(
          live.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
          newCents)
        .select("cand_id", "cell").collect().map(_.toString).toSeq.sorted)
    // ledger survived: committed batch 2 still skips on replay…
    assert(!graft.streaming.StreamOps.ivfIngestBatch(
      odds.slice(20, 30).map(i => (i.toLong, vec(i)))
        .toDF("vec_id", "embedding"),
      newCents, root, batchId = 2))
    // …while the scrubbed batch 3 re-delivers in full, assigned under
    // the NEW quantizer (the restarted stream re-pins from the layout)
    assert(graft.streaming.StreamOps.ivfIngestBatch(
      odds.slice(30, 40).map(i => (i.toLong, vec(i)))
        .toDF("vec_id", "embedding"),
      newCents, root, batchId = 3))
    // cell= partitioning (probe pruning) intact, serving end to end
    assert(parquetFiles(s"$root/assigned")
      .forall(_.contains("cell=")))
    val hits = AnnService.overParquetDir(spark, root, maxK = 5, nprobe = 4)
      .topK(vec(7).toIndexedSeq, 1)
    assert(hits.map(_._1) === Seq(7L), hits.toString)
  }

  test("AnnPqService.retrainIndex: stored compressed-layout migration — " +
      "both quantizers retrain, live set from codes, layout swaps whole") {
    import graft.sim.IvfPq
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      val anchor = if (i % 2 == 0) 0f else 100f
      Array.fill(8)(anchor + rnd.nextGaussian().toFloat)
    }
    val corpus = (0 until 80).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val base = corpus.filter(col("vec_id") % 2 === 0)
    val root = java.nio.file.Files.createTempDirectory("annpq_retrain_").toString
    val idx0 = IvfPq.buildResidualIndex(base, nlist = 4, m = 4,
      codebookSize = 8)
    idx0.centroids.write.parquet(s"$root/centroids")
    idx0.codebooks.write.parquet(s"$root/codebooks")
    idx0.codes.write.partitionBy("cell").parquet(s"$root/codes")
    // odd cluster streams in under frozen quantizers
    (1 until 80 by 2).grouped(20).zipWithIndex.foreach { case (ids, b) =>
      assert(graft.streaming.StreamOps.ivfPqIngestBatch(
        ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
        idx0.centroids, idx0.codebooks, root, batchId = b))
    }
    def openedPq() = graft.sim.IvfPqIndex(
      spark.read.parquet(s"$root/centroids"),
      spark.read.parquet(s"$root/codebooks"),
      spark.read.parquet(s"$root/codes"))
    val bfBefore = IvfPq.balanceFactor(openedPq())
    assert(bfBefore > 1.5, s"fixture should be skewed, got $bfBefore")
    // healthy thresholds → no migration, files untouched
    val filesBefore = parquetFiles(s"$root/codes")
    assert(!AnnPqService.retrainIndexIfUnhealthy(spark, root, corpus,
      maxBalance = bfBefore + 1, nlist = 4, m = 4, codebookSize = 8))
    assert(parquetFiles(s"$root/codes") === filesBefore)
    // occupancy trigger fires the migration
    assert(AnnPqService.retrainIndexIfUnhealthy(spark, root, corpus,
      maxBalance = 1.5, nlist = 4, m = 4, codebookSize = 8))
    assert(IvfPq.balanceFactor(openedPq()) < bfBefore)
    // retrained stored layout ≡ fresh build on the same live corpus
    // (deterministic same-seed trainings), and the swap was whole-root:
    // codes pair with the NEW quantizer artifacts
    val fresh = IvfPq.buildResidualIndex(corpus, nlist = 4, m = 4,
      codebookSize = 8)
    def codeRows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.select("cand_id", "cell", "__c0", "__c1", "__c2", "__c3")
        .collect().map(_.toString).toSeq.sorted
    assert(codeRows(spark.read.parquet(s"$root/codes")) ===
      codeRows(fresh.codes))
    assert(parquetFiles(s"$root/codes").forall(_.contains("cell=")))
    // serving over the migrated layout ≡ the fresh build's probe (the
    // inner-product ranking itself is data-defined — what the migration
    // owes is equality with the rebuild)
    val hits = AnnPqService.overParquetDir(spark, root, maxK = 5,
      nprobe = 4).topK(vec(6).toIndexedSeq, 3)
    val expect = IvfPq.probeResidualTopK(fresh,
        Seq((-1L, vec(6))).toDF("vec_id", "embedding"), k = 3, nprobe = 4)
      .orderBy(col("rank"))
      .select("cand_id", "score", "rank")
      .as[(Long, Double, Int)].collect().toSeq
    assert(hits === expect, s"$hits vs $expect")
  }

  test("AnnFlatPqService lifecycle: streamed ingest, orphan scrub, " +
      "compaction, codebook-retrain migration — serving ≡ fresh build") {
    import graft.sim.{Pq, PqIndex}
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(8)(rnd.nextGaussian().toFloat)
    }
    val seed = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("pq_lifecycle_").toString
    val idx0 = Pq.buildIndex(seed, m = 4, codebookSize = 8)
    idx0.codebooks.write.parquet(s"$root/codebooks")
    idx0.codes.write.parquet(s"$root/codes")
    // 4 streamed micro-batches through the frozen codebooks
    (0 until 4).foreach { b =>
      assert(graft.streaming.StreamOps.pqIngestBatch(
        Seq((100L + b, vec(100 + b))).toDF("vec_id", "embedding"),
        idx0.codebooks, root, batchId = b))
    }
    // batch 3 crashed mid-append: data present, marker missing
    assert(new java.io.File(s"$root/_ledger/batch-3").delete())
    val filesBefore = parquetFiles(s"$root/codes").size
    AnnFlatPqService.compactIndex(spark, root)
    assert(parquetFiles(s"$root/codes").size < filesBefore)
    // replay completes the scrubbed batch; committed batch 2 still skips
    assert(graft.streaming.StreamOps.pqIngestBatch(
      Seq((103L, vec(103))).toDF("vec_id", "embedding"),
      idx0.codebooks, root, batchId = 3))
    assert(!graft.streaming.StreamOps.pqIngestBatch(
      Seq((102L, vec(102))).toDF("vec_id", "embedding"),
      idx0.codebooks, root, batchId = 2))
    val live = seed.unionByName(
      (0 until 4).map(b => (100L + b, vec(100 + b)))
        .toDF("vec_id", "embedding"))
    // streamed ≡ batch-append codes
    assert(spark.read.parquet(s"$root/codes")
        .collect().map(_.toString).toSeq.sorted ===
      Pq.encodeWithCodebooks(live, idx0.codebooks)
        .collect().map(_.toString).toSeq.sorted)
    // codebook-retrain migration: whole-root swap, ledger survives.
    // Distortion trigger: gaussian vectors quantize lossily, so any
    // positive threshold way above the data passes through while 0.0
    // fires the migration
    assert(!AnnFlatPqService.retrainIndexIfDistorted(spark, root, live,
      maxMeanSse = 1e9, m = 4, codebookSize = 8))
    assert(AnnFlatPqService.retrainIndexIfDistorted(spark, root, live,
      maxMeanSse = 0.0, m = 4, codebookSize = 8))
    val fresh = Pq.buildIndex(live, m = 4, codebookSize = 8)
    assert(!graft.streaming.StreamOps.pqIngestBatch(
      Seq((102L, vec(102))).toDF("vec_id", "embedding"),
      spark.read.parquet(s"$root/codebooks"), root, batchId = 2),
      "committed batches must keep skipping after the migration")
    // serving over the migrated layout ≡ the fresh build's probe
    val hits = AnnFlatPqService.overParquetDir(spark, root, maxK = 5)
      .topK(vec(6).toIndexedSeq, 3)
    val expect = Pq.probeTopK(fresh,
        Seq((-1L, vec(6))).toDF("vec_id", "embedding"), k = 3)
      .orderBy(col("rank"))
      .select("cand_id", "score", "rank")
      .as[(Long, Double, Int)].collect().toSeq
    assert(hits === expect, s"$hits vs $expect")
  }

  test("bm25RemoveIndex: removed ≡ rebuilt-on-remainder; an empty " +
      "removed doc still decrements n_docs") {
    import graft.text.TextOps
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "Apple banana apple"), (2L, "banana"),
      (3L, "cherry apple"), (4L, "")).toDF("doc_id", "text")
    // remove doc 3 AND the empty doc 4 — the empty doc has no postings
    // row, so only the handed-in document text can recover its stats
    val (p, st) = TextOps.bm25RemoveIndex(
      TextOps.bm25Postings(df, "text", "doc_id"),
      TextOps.bm25CorpusStats(df, "text"),
      df.filter(col("doc_id") >= 3), "text", "doc_id")
    val remainder = df.filter(col("doc_id") < 3)
    def rows(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.select("term", "doc_id", "tf", "dl").collect().map(_.toString).toSet
    assert(rows(p) === rows(TextOps.bm25Postings(remainder, "text", "doc_id")))
    val got = st.select("n_docs", "dl_sum").first()
    assert(got === TextOps.bm25CorpusStats(remainder, "text")
      .select("n_docs", "dl_sum").first())
    assert(got.getLong(0) === 2L && got.getLong(1) === 4L)
  }
}
