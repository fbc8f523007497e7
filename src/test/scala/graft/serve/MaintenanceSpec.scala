package graft.serve

import graft.SparkSpec
import graft.sim.{Ivf, IvfIndex, Pq}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The nightly orchestrator's contract: the retrain-vs-compact decision
  * per family, with the ordering knowledge (a migration lands an
  * already-compacted layout; compaction must not run twice) pinned. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Set[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSet
    finally s.close()
  }

  private def vec(i: Int, anchorOdd: Boolean = true): Array[Float] = {
    val rnd = new scala.util.Random(i)
    val anchor = if (anchorOdd && i % 2 != 0) 100f else 0f
    Array.fill(8)(anchor + rnd.nextGaussian().toFloat)
  }

  test("nightlyIvf: a skewed layout retrains (and lands compacted — no " +
      "second rewrite); a healthy fragmented layout compacts instead") {
    // skewed: quantizer trained on the even (0-anchored) slice, odd
    // (+100) vectors streamed in frozen
    val base = (0 until 80 by 2).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("mn_ivf_").toString
    val cents = Ivf.portableCentroids(base, nlist = 4, stride = 13)
    cents.write.parquet(s"$root/centroids")
    Ivf.assignPortable(base, cents)
      .write.partitionBy("cell").parquet(s"$root/assigned")
    (1 until 80 by 2).grouped(10).zipWithIndex.foreach { case (ids, b) =>
      assert(graft.streaming.StreamOps.ivfIngestBatch(
        ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
        cents, root, batchId = b))
    }
    def opened() = IvfIndex(spark.read.parquet(s"$root/centroids"),
      spark.read.parquet(s"$root/assigned"))
    assert(Ivf.balanceFactor(opened()) >= 2.0)
    assert(Maintenance.nightlyIvf(spark, root, maxBalance = 2.0,
      nlist = 4, stride = 13))
    assert(Ivf.balanceFactor(opened()) < 2.0)
    // the migration's cell-repartitioned write left ONE file per cell —
    // the compaction-skip is safe, not an operator footgun
    val byCell = parquetFiles(s"$root/assigned")
      .groupBy(f => f.split("/").reverse.find(_.startsWith("cell=")).get)
    assert(byCell.values.forall(_.size == 1), byCell.toString)

    // healthy: same data, quantizer sampled over everything — streamed
    // fragments but no skew, so the nightly compacts instead
    val all = (0 until 80).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root2 = java.nio.file.Files.createTempDirectory("mn_ivf2_").toString
    val cents2 = Ivf.portableCentroids(all, nlist = 4, stride = 13)
    cents2.write.parquet(s"$root2/centroids")
    Ivf.assignPortable(all.filter(col("vec_id") < 40), cents2)
      .write.partitionBy("cell").parquet(s"$root2/assigned")
    (40 until 80).grouped(10).zipWithIndex.foreach { case (ids, b) =>
      assert(graft.streaming.StreamOps.ivfIngestBatch(
        ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
        cents2, root2, batchId = b))
    }
    val centsBefore = spark.read.parquet(s"$root2/centroids")
      .collect().map(_.toString).toSet
    val filesBefore = parquetFiles(s"$root2/assigned").size
    assert(!Maintenance.nightlyIvf(spark, root2, maxBalance = 3.0,
      nlist = 4, stride = 13))
    assert(parquetFiles(s"$root2/assigned").size < filesBefore)
    assert(spark.read.parquet(s"$root2/centroids")
      .collect().map(_.toString).toSet === centsBefore,
      "a compact-only night must not touch the quantizer")
  }

  test("nightlyNearDup and nightlyIvfPq compact a healthy fragmented layout " +
      "without touching its identity artifacts") {
    import spark.implicits._
    // near-dup: build then fragment with three streamed batches
    val docs = (1 to 30).map(i =>
        (i.toLong, s"nightly corpus doc $i subject ${i % 5} filler ${i % 3}"))
      .toDF("doc_id", "text")
    val ndRoot = java.nio.file.Files.createTempDirectory("mn_nd_").toString
    NearDupService.buildIndex(docs.filter($"doc_id" <= 15), "text", "doc_id",
      ndRoot)
    (16 to 30).grouped(5).zipWithIndex.foreach { case (ids, b) =>
      assert(graft.streaming.StreamOps.nearDupIngestBatch(
        docs.filter($"doc_id".isin(ids.map(i => Long.box(i.toLong)): _*)),
        "text", "doc_id", ndRoot, batchId = b))
    }
    val metaBefore = NearDupService.readMeta(spark, ndRoot)
    val ndFilesBefore = parquetFiles(s"$ndRoot/signatures").size +
      parquetFiles(s"$ndRoot/buckets").size
    assert(!Maintenance.nightlyNearDup(spark, ndRoot))
    assert(parquetFiles(s"$ndRoot/signatures").size +
      parquetFiles(s"$ndRoot/buckets").size < ndFilesBefore)
    assert(NearDupService.readMeta(spark, ndRoot) === metaBefore,
      "compaction must not touch the layout identity")
    assert(NearDupService.bandStats(spark, ndRoot).collect()
      .forall(r => r.getAs[Long]("n_ids") === 30L))

    // residual IVF-PQ: healthy layout + streamed fragments → compacts,
    // quantizer artifacts byte-identical (retrain path is pinned in
    // SearchIndexSpec; this pins the composition's compact branch)
    val all = (0 until 60).map(i => (i.toLong, vec(i, anchorOdd = false)))
      .toDF("vec_id", "embedding")
    val pqRoot = java.nio.file.Files.createTempDirectory("mn_ivfpq_").toString
    val idx = graft.sim.IvfPq.buildResidualIndex(
      all.filter($"vec_id" < 40), nlist = 4, m = 4, codebookSize = 8)
    idx.centroids.write.parquet(s"$pqRoot/centroids")
    idx.codebooks.write.parquet(s"$pqRoot/codebooks")
    idx.codes.write.partitionBy("cell").parquet(s"$pqRoot/codes")
    (40 until 60).grouped(5).zipWithIndex.foreach { case (ids, b) =>
      assert(graft.streaming.StreamOps.ivfPqIngestBatch(
        ids.map(i => (i.toLong, vec(i, anchorOdd = false)))
          .toDF("vec_id", "embedding"),
        idx.centroids, idx.codebooks, pqRoot, batchId = b))
    }
    val qBefore = parquetFiles(s"$pqRoot/centroids") ++
      parquetFiles(s"$pqRoot/codebooks")
    val codeFilesBefore = parquetFiles(s"$pqRoot/codes").size
    assert(!Maintenance.nightlyIvfPq(spark, pqRoot, all,
      maxBalance = 1000.0, nlist = 4, m = 4, codebookSize = 8))
    assert(parquetFiles(s"$pqRoot/codes").size < codeFilesBefore)
    assert(parquetFiles(s"$pqRoot/centroids") ++
      parquetFiles(s"$pqRoot/codebooks") === qBefore,
      "a compact-only night must not touch the quantizers")
    assert(spark.read.parquet(s"$pqRoot/codes").count() === 60L)
  }

  test("retrainIndexIfSkewed heals a crash between a prior retrain's two " +
      "swap renames before reading the layout") {
    // build a healthy stored IVF layout, then forge the crashed-mid-swap
    // state a killed retrain leaves at the WHOLE-ROOT level: root absent,
    // root-__old__ = the full layout, pending marker present, plus a
    // stale half-written __retraining__ dir
    val all = (0 until 60).map(i => (i.toLong, vec(i, anchorOdd = false)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("mn_crash_").toString + "/idx"
    val cents = Ivf.portableCentroids(all, nlist = 4, stride = 13)
    cents.write.parquet(s"$root/centroids")
    Ivf.assignPortable(all, cents)
      .write.partitionBy("cell").parquet(s"$root/assigned")
    val rows = spark.read.parquet(s"$root/assigned").count()
    assert(new java.io.File(root).renameTo(new java.io.File(s"$root-__old__")))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root-__swap_pending__"))
    new java.io.File(s"$root-__retraining__").mkdirs()
    // the trigger wrapper reads centroids/assigned FIRST — without
    // entry-point recovery it would throw path-not-found (or worse,
    // derive the retrain from a sparse recreation)
    AnnService.retrainIndexIfSkewed(spark, root, maxBalance = 1000.0,
      nlist = 4, stride = 13)
    assert(spark.read.parquet(s"$root/assigned").count() === rows,
      "healed layout must carry the full pre-crash corpus")
    assert(!new java.io.File(s"$root-__old__").exists() &&
      !new java.io.File(s"$root-__swap_pending__").exists(),
      "crash leftovers must be cleaned after recovery")
    // and a real retrain over the healed layout still works end to end
    AnnService.retrainIndex(spark, root, nlist = 4, stride = 13)
    assert(spark.read.parquet(s"$root/assigned").count() === rows)
  }

  test("nightlyPq fires on distortion and compacts; nightlyRp and " +
      "nightlyBm25 compact only") {
    val corpus = (0 until 40).map(i => (i.toLong, vec(i, anchorOdd = false)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("mn_pq_").toString
    val idx = Pq.buildIndex(corpus, m = 4, codebookSize = 8)
    idx.codebooks.write.parquet(s"$root/codebooks")
    idx.codes.write.parquet(s"$root/codes")
    (0 until 3).foreach { b =>
      assert(graft.streaming.StreamOps.pqIngestBatch(
        Seq((100L + b, vec(100 + b, anchorOdd = false)))
          .toDF("vec_id", "embedding"),
        idx.codebooks, root, batchId = b))
    }
    val live = corpus.unionByName(
      (0 until 3).map(b => (100L + b, vec(100 + b, anchorOdd = false)))
        .toDF("vec_id", "embedding"))
    // gaussians quantize lossily → threshold 0 fires; huge passes
    assert(!Maintenance.nightlyPq(spark, root, live, maxMeanSse = 1e9,
      m = 4, codebookSize = 8))
    assert(Maintenance.nightlyPq(spark, root, live, maxMeanSse = 0.0,
      m = 4, codebookSize = 8))
    // compaction ran either way: codes folded to one file
    assert(parquetFiles(s"$root/codes").size === 1)

    val rpRoot = java.nio.file.Files.createTempDirectory("mn_rp_").toString
    graft.sim.Similarity.rpReduce(corpus, "vec_id", "embedding",
        dimOut = 8, seed = 42)
      .write.parquet(s"$rpRoot/reduced")
    (0 until 3).foreach { b =>
      assert(graft.streaming.StreamOps.rpIngestBatch(
        Seq((100L + b, vec(100 + b, anchorOdd = false)))
          .toDF("vec_id", "embedding"),
        rpRoot, batchId = b, dimOut = 8, seed = 42))
    }
    assert(!Maintenance.nightlyRp(spark, rpRoot))
    assert(parquetFiles(s"$rpRoot/reduced").size === 1)

    val bmRoot = java.nio.file.Files.createTempDirectory("mn_bm_").toString
    SearchService.buildIndex(
      Seq((1L, "apple banana"), (2L, "cherry apple"))
        .toDF("doc_id", "text"), "text", "doc_id", bmRoot)
    assert(graft.streaming.StreamOps.bm25IngestBatch(
      Seq((3L, "durian apple")).toDF("doc_id", "text"),
      "text", "doc_id", bmRoot, batchId = 0))
    assert(!Maintenance.nightlyBm25(spark, bmRoot))
    // a doc streamed before the nightly is still served after it
    val svc = SearchService.overParquetDir(spark, bmRoot)
    assert(svc.topK(Seq("durian"), 3).map(_._1).contains(3L))

    // SQ8: compact-only contract (nothing trained exists to drift), a
    // streamed vector survives the nightly and stays served
    val sqRoot = java.nio.file.Files.createTempDirectory("mn_sq_").toString
    graft.sim.Sq.quantize(corpus)
      .write.parquet(s"$sqRoot/quantized")
    (0 until 3).foreach { b =>
      assert(graft.streaming.StreamOps.sqIngestBatch(
        Seq((100L + b, vec(100 + b, anchorOdd = false)))
          .toDF("vec_id", "embedding"),
        sqRoot, batchId = b))
    }
    val servedBefore = AnnSqService.overParquetDir(spark, sqRoot, maxK = 5)
      .topK(vec(101, anchorOdd = false).toIndexedSeq, 1)
    assert(!Maintenance.nightlySq(spark, sqRoot))
    assert(parquetFiles(s"$sqRoot/quantized").size === 1)
    assert(AnnSqService.overParquetDir(spark, sqRoot, maxK = 5)
      .topK(vec(101, anchorOdd = false).toIndexedSeq, 1) === servedBefore)
  }

  test("nightlyGraph: full-recompute refresh from the current edges; a " +
      "graph edit is visible after the nightly, swap is serving-safe") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("mn_gr_").toString
    // star around 1: rank(1) dominates
    val before = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L)).toDF("s", "d")
    GraphRankService.buildPageRank(before, "s", "d", root)
    val top0 = GraphRankService.overParquetDir(spark, root).topK(1)
    assert(top0.head._1 === 1L)
    // edges move: the star re-centers on 9 — the nightly is the rebuild
    val after = Seq((2L, 9L), (3L, 9L), (4L, 9L), (9L, 2L)).toDF("s", "d")
    assert(!Maintenance.nightlyGraph(spark, root, after, "s", "d"))
    val top1 = GraphRankService.overParquetDir(spark, root).topK(1)
    assert(top1.head._1 === 9L)
    // HITS twin: scores follow the same rebuild-and-swap refresh
    GraphRankService.buildHits(before, "s", "d", root)
    assert(GraphRankService.overParquetDirHits(spark, root)
      .topAuthorities(1).head._1 === 1L)
    GraphRankService.refreshHits(spark, root, after, "s", "d")
    assert(GraphRankService.overParquetDirHits(spark, root)
      .topAuthorities(1).head._1 === 9L)
  }
}
