package graft.serve

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sim.{Ivf, Pq}
import scala.jdk.CollectionConverters._

/** Stored vector-tier takedown/upsert pins the oracles cannot see:
  * physical O(touched cells) behavior (untouched `cell=` partitions keep
  * their files), quantizer-artifact immutability, and the thin-layout
  * swap forms on the unpartitioned tiers. */
class AnnTakedownSpec extends SparkSpec {
  import spark.implicits._

  private def vec(i: Int): Array[Float] = {
    val rnd = new scala.util.Random(i)
    Array.fill(8)(rnd.nextGaussian().toFloat)
  }
  private def corpus(n: Int) = (0 until n).map(i => (i.toLong, vec(i)))
    .toDF("vec_id", "embedding")

  private def parquetFiles(dir: String): Set[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSet
    finally s.close()
  }

  private def buildIvf(root: String, n: Int): Unit = {
    val c = corpus(n)
    val cents = Ivf.portableCentroids(c, nlist = 4, stride = 13)
    cents.write.parquet(s"$root/centroids")
    graft.io.Sinks.onePerPartitionValue(Ivf.assignPortable(c, cents),
        Seq("cell"))
      .write.partitionBy("cell").parquet(s"$root/assigned")
  }

  test("stored IVF takedown rewrites ONLY the touched cells; survivors and " +
      "quantizer untouched") {
    val root = java.nio.file.Files.createTempDirectory("ann_td_").toString
    buildIvf(root, 60)
    val assigned = spark.read.parquet(s"$root/assigned")
    // pick the ids of ONE cell so the others must keep their files
    val victimCell = assigned.select("cell").limit(1).as[Int].head()
    val victims = assigned.filter($"cell" === victimCell)
      .select("cand_id").as[Long].collect().toSet
    assert(victims.nonEmpty && victims.size < 60)
    val before = parquetFiles(s"$root/assigned")
    val centsBefore = parquetFiles(s"$root/centroids")
    AnnService.removeFromIndex(spark, root,
      victims.toSeq.toDF("vec_id"), "vec_id")
    val after = spark.read.parquet(s"$root/assigned")
    assert(after.filter($"cand_id".isin(victims.toSeq.map(Long.box): _*))
      .count() === 0L, "removed ids must be gone")
    assert(after.count() === 60L - victims.size, "survivors intact")
    // untouched cells keep their PHYSICAL files (path identity)
    val untouched = before.filterNot(_.contains(s"cell=$victimCell"))
    assert(untouched.subsetOf(parquetFiles(s"$root/assigned")),
      "untouched cell partitions must keep their files")
    assert(parquetFiles(s"$root/centroids") === centsBefore,
      "a takedown must never touch the quantizer")
  }

  test("stored IVF upsert: re-embedded id served under its NEW vector, " +
      "exactly one row, frozen assignment") {
    val root = java.nio.file.Files.createTempDirectory("ann_up_").toString
    buildIvf(root, 40)
    // re-embed id 5 as id 6's vector (exact copy — the face's shape)
    val reEmb = Seq((5L, vec(6))).toDF("vec_id", "embedding")
    AnnService.upsertDelta(spark, root, reEmb)
    val assigned = spark.read.parquet(s"$root/assigned")
    assert(assigned.filter($"cand_id" === 5L).count() === 1L,
      "no stale row for the upserted id")
    // probing with id 6's vector must now hit BOTH 5 and 6 at cosine 1
    val svc = AnnService.overParquetDir(spark, root, maxK = 5, nprobe = 4)
    val top = svc.topK(vec(6).toSeq, 2).map(t => (t._1, t._2)).toMap
    assert(top.keySet === Set(5L, 6L), s"got $top")
    assert(top.values.forall(s => math.abs(s - 1.0) < 1e-6))
    // duplicate-id batches are rejected loudly
    val dup = Seq((7L, vec(1)), (7L, vec(2))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      AnnService.upsertDelta(spark, root, dup)
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("takedown heals a crashed COMPACTION swap (dir parked at __old__, " +
      "pending marker, sparse writer recreation) before removing — " +
      "removed ids cannot be resurrected by a later recovery") {
    val root = java.nio.file.Files.createTempDirectory("ann_swp_").toString
    buildIvf(root, 60)
    val cents = spark.read.parquet(s"$root/centroids")
    val victims = Seq(3L, 7L, 11L)
    // forge the crashed compactIndex window on the assigned dir: the
    // full copy parked at -__old__, the pending marker up, and an
    // append-mode writer having RECREATED the dir with two interim rows
    val dir = s"$root/assigned"
    assert(new java.io.File(dir).renameTo(new java.io.File(s"$dir-__old__")))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir-__swap_pending__"))
    val interim = Seq((1000L, vec(1000)), (1001L, vec(1001)))
      .toDF("vec_id", "embedding")
    graft.io.Sinks.onePerPartitionValue(
        Ivf.assignPortable(interim, cents), Seq("cell"))
      .write.partitionBy("cell").parquet(dir)
    // without dir-scope swap healing, the takedown would run against
    // the sparse recreation and the next recovery would fold __old__
    // back, silently resurrecting every removed id
    AnnService.removeFromIndex(spark, root, victims.toDF("vec_id"), "vec_id")
    val after = spark.read.parquet(dir)
    assert(after.filter($"cand_id".isin(victims.map(Long.box): _*))
      .count() === 0L, "removed ids must be gone from the HEALED layout")
    assert(after.count() === 60L + 2L - victims.size,
      "full corpus plus interim rows, minus the removed ids")
    assert(!new java.io.File(s"$dir-__old__").exists() &&
      !new java.io.File(s"$dir-__swap_pending__").exists(),
      "the crashed swap must be healed, not left for a later recovery")
  }

  test("upsertDelta heals a crashed compaction swap on the assigned dir " +
      "before its schema read — retries never deadlock on the missing dir") {
    val root = java.nio.file.Files.createTempDirectory("ann_upswp_").toString
    buildIvf(root, 40)
    val dir = s"$root/assigned"
    assert(new java.io.File(dir).renameTo(new java.io.File(s"$dir-__old__")))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir-__swap_pending__"))
    // without the dir-scope heal, the schema read throws on the missing
    // dir here — and on every retry, since nothing else heals it
    AnnService.upsertDelta(spark, root,
      Seq((5L, vec(6))).toDF("vec_id", "embedding"))
    val assigned = spark.read.parquet(dir)
    assert(assigned.count() === 40L)
    assert(assigned.filter($"cand_id" === 5L).count() === 1L)
    assert(!new java.io.File(s"$dir-__old__").exists() &&
      !new java.io.File(s"$dir-__swap_pending__").exists())
  }

  test("retrainIndex heals a crashed compaction swap on the assigned dir " +
      "before reading — a retrain can never train on a sparse recreation " +
      "and swap it live") {
    val root = java.nio.file.Files.createTempDirectory("ann_rtswp_").toString
    buildIvf(root, 60)
    val dir = s"$root/assigned"
    assert(new java.io.File(dir).renameTo(new java.io.File(s"$dir-__old__")))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir-__swap_pending__"))
    AnnService.retrainIndex(spark, root, nlist = 4, stride = 13)
    val after = spark.read.parquet(s"$root/assigned")
    assert(after.count() === 60L,
      "the retrained layout must carry the FULL healed corpus")
    assert(after.select("cand_id").distinct().count() === 60L)
  }

  test("takedown heals a crashed prior rewrite (partition parked aside, " +
      "live dir missing) before scanning for touched cells") {
    val root = java.nio.file.Files.createTempDirectory("ann_rec_").toString
    buildIvf(root, 60)
    val assigned = spark.read.parquet(s"$root/assigned")
    val total = assigned.count()
    // forge the crash window: one cell's live dir parked aside mid-swap
    val cell = assigned.select("cell").limit(1).as[Int].head()
    val aside = new java.io.File(s"$root/assigned-__replaced__")
    aside.mkdirs()
    assert(new java.io.File(s"$root/assigned/cell=$cell")
      .renameTo(new java.io.File(s"$root/assigned-__replaced__/cell=$cell")))
    // a takedown of an unrelated id must first restore the parked cell —
    // without recovery its rows (removed AND surviving) are invisible
    val someSurvivor = assigned.filter($"cell" =!= cell)
      .select("cand_id").limit(1).as[Long].head()
    AnnService.removeFromIndex(spark, root,
      Seq(someSurvivor).toDF("vec_id"), "vec_id")
    val after = spark.read.parquet(s"$root/assigned")
    assert(after.count() === total - 1,
      "parked cell restored; exactly the removed id gone")
    assert(!aside.exists(), "aside dir cleaned after recovery")
    assert(after.filter($"cell" === cell).count() > 0,
      "the previously parked cell's rows are live again")
  }

  test("upsertDelta covering EVERY live id rebuilds the layout instead of " +
      "destroying it") {
    val root = java.nio.file.Files.createTempDirectory("ann_full_").toString
    buildIvf(root, 60)
    // every id re-embedded at once (a full re-embedding migration)
    val reEmb = (0 until 60).map(i => (i.toLong, vec(i + 500)))
      .toDF("vec_id", "embedding")
    AnnService.upsertDelta(spark, root, reEmb)
    val assigned = spark.read.parquet(s"$root/assigned")
    assert(assigned.count() === 60L)
    assert(assigned.select("cand_id").as[Long].collect().toSet ===
      (0 until 60).map(_.toLong).toSet)
  }

  test("flat-PQ and RP thin-layout takedowns: removed gone, survivors and " +
      "quantizer artifacts intact") {
    val c = corpus(40)
    // flat PQ
    val pqRoot = java.nio.file.Files.createTempDirectory("pq_td_").toString
    val pq = Pq.buildIndex(c, m = 4, codebookSize = 8)
    pq.codebooks.write.parquet(s"$pqRoot/codebooks")
    pq.codes.write.parquet(s"$pqRoot/codes")
    val cbBefore = parquetFiles(s"$pqRoot/codebooks")
    AnnFlatPqService.removeFromIndex(spark, pqRoot,
      Seq(3L, 9L).toDF("vec_id"), "vec_id")
    val codes = spark.read.parquet(s"$pqRoot/codes")
    assert(codes.filter($"cand_id".isin(3L, 9L)).count() === 0L)
    assert(codes.count() === 38L)
    assert(parquetFiles(s"$pqRoot/codebooks") === cbBefore)
    // RP
    val rpRoot = java.nio.file.Files.createTempDirectory("rp_td_").toString
    graft.sim.Similarity.rpReduce(c, "vec_id", "embedding",
        dimOut = 4, seed = 42)
      .write.parquet(s"$rpRoot/reduced")
    AnnRpService.removeFromIndex(spark, rpRoot,
      Seq(3L, 9L).toDF("vec_id"), "vec_id")
    val reduced = spark.read.parquet(s"$rpRoot/reduced")
    assert(reduced.filter($"id".isin(3L, 9L)).count() === 0L)
    assert(reduced.count() === 38L)
    // no swap leftovers
    val siblings = new java.io.File(rpRoot).listFiles().map(_.getName).toSet
    assert(siblings === Set("reduced"), siblings.toString)
  }

  test("stored upserts on the PQ-coded tiers: exactly one fresh code row " +
      "per upserted id, quantizer artifacts byte-identical, duplicate " +
      "batches rejected") {
    val c = corpus(40)
    // residual IVF-PQ layout
    val resRoot = java.nio.file.Files.createTempDirectory("ivfpq_up_").toString
    val res = graft.sim.IvfPq.buildResidualIndex(c, nlist = 4, m = 4,
      codebookSize = 8)
    res.centroids.write.parquet(s"$resRoot/centroids")
    res.codebooks.write.parquet(s"$resRoot/codebooks")
    res.codes.write.partitionBy("cell").parquet(s"$resRoot/codes")
    val resQuantBefore = parquetFiles(s"$resRoot/centroids") ++
      parquetFiles(s"$resRoot/codebooks")
    AnnPqService.upsertDelta(spark, resRoot,
      Seq((5L, vec(6))).toDF("vec_id", "embedding"))
    val resCodes = spark.read.parquet(s"$resRoot/codes")
    assert(resCodes.filter($"cand_id" === 5L).count() === 1L,
      "no stale residual code row for the upserted id")
    assert(resCodes.count() === 40L)
    // the re-encoded row must equal id 6's codes + cell exactly (same
    // vector under the same frozen quantizers)
    val row5 = resCodes.filter($"cand_id" === 5L).drop("cand_id")
      .collect()(0).toSeq
    val row6 = resCodes.filter($"cand_id" === 6L).drop("cand_id")
      .collect()(0).toSeq
    assert(row5 === row6, s"frozen re-encode must match its source: $row5 vs $row6")
    assert(parquetFiles(s"$resRoot/centroids") ++
      parquetFiles(s"$resRoot/codebooks") === resQuantBefore,
      "an upsert must never retrain")
    intercept[IllegalArgumentException] {
      AnnPqService.upsertDelta(spark, resRoot,
        Seq((7L, vec(1)), (7L, vec(2))).toDF("vec_id", "embedding"))
    }

    // flat-PQ layout
    val pqRoot = java.nio.file.Files.createTempDirectory("pq_up_").toString
    val pq = Pq.buildIndex(c, m = 4, codebookSize = 8)
    pq.codebooks.write.parquet(s"$pqRoot/codebooks")
    pq.codes.write.parquet(s"$pqRoot/codes")
    val cbBefore = parquetFiles(s"$pqRoot/codebooks")
    AnnFlatPqService.upsertDelta(spark, pqRoot,
      Seq((5L, vec(6))).toDF("vec_id", "embedding"))
    val pqCodes = spark.read.parquet(s"$pqRoot/codes")
    assert(pqCodes.filter($"cand_id" === 5L).count() === 1L)
    assert(pqCodes.count() === 40L)
    assert(pqCodes.filter($"cand_id" === 5L).drop("cand_id").collect()(0).toSeq
      === pqCodes.filter($"cand_id" === 6L).drop("cand_id").collect()(0).toSeq)
    assert(parquetFiles(s"$pqRoot/codebooks") === cbBefore)
  }

  test("stored RP upsert: the upserted id's reduced row equals a fresh " +
      "projection of its NEW vector under the frozen geometry") {
    val c = corpus(40)
    val rpRoot = java.nio.file.Files.createTempDirectory("rp_up_").toString
    graft.sim.Similarity.rpReduce(c, "vec_id", "embedding",
        dimOut = 4, seed = 7)
      .write.parquet(s"$rpRoot/reduced")
    AnnRpService.upsertDelta(spark, rpRoot,
      Seq((5L, vec(6))).toDF("vec_id", "embedding"), seed = 7)
    val reduced = spark.read.parquet(s"$rpRoot/reduced")
    assert(reduced.filter($"id" === 5L).count() === 1L,
      "no stale reduced row for the upserted id")
    assert(reduced.count() === 40L)
    // dimOut recovered from the layout, seed passed: coordinates must be
    // the deterministic projection of the NEW vector
    val got = reduced.filter($"id" === 5L).select("r")
      .as[Seq[Long]].head()
    val want = graft.sim.Similarity.rpReduce(
        Seq((5L, vec(6))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dimOut = 4, seed = 7)
      .select("r").as[Seq[Long]].head()
    assert(got === want, s"frozen-geometry projection mismatch: $got vs $want")
    // a wrong-width layout cannot silently project: emptied layout refuses
    AnnRpService.removeFromIndex(spark, rpRoot,
      (0 until 40).map(_.toLong).toDF("vec_id"), "vec_id")
    val e = intercept[IllegalArgumentException] {
      AnnRpService.upsertDelta(spark, rpRoot,
        Seq((1L, vec(1))).toDF("vec_id", "embedding"), seed = 7)
    }
    assert(e.getMessage.contains("unrecoverable"))
  }
}
