package graft.serve

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Stored near-dup index lifecycle pins the registry's digest oracle
  * cannot see: physical file hygiene of the layout writers (the
  * small-file pathology a 100 TB ingest cadence multiplies), and
  * stale-signature removal on upsert (exact-verified probes read TEXT,
  * so a resurrected signature row is invisible to the hash-certified
  * faces — here the layout's rows are directly countable). */
class NearDupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int) = (1 to n)
    .map(i => (i.toLong, s"document number $i talks about topic ${i % 7} " +
      s"with filler content shared across the corpus body ${i % 3}"))
    .toDF("doc_id", "text")

  private def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  test("buildIndex + appendDelta land at most one file per touched partition group") {
    val root = java.nio.file.Files.createTempDirectory("graft_nd_files").toString
    NearDupService.buildIndex(corpus(200).filter($"doc_id" <= 150),
      "text", "doc_id", root)
    val sigGroups = new java.io.File(s"$root/signatures").listFiles()
      .count(_.getName.startsWith("idgrp="))
    val bGroups = new java.io.File(s"$root/buckets").listFiles()
      .count(_.getName.startsWith("bgrp="))
    assert(dataFiles(s"$root/signatures").size <= sigGroups,
      "build must land one signature file per idgrp")
    assert(dataFiles(s"$root/buckets").size <= bGroups,
      "build must land one bucket file per bgrp")
    NearDupService.appendDelta(corpus(200).filter($"doc_id" > 150),
      "text", "doc_id", root)
    // append adds at most one more file per touched group
    assert(dataFiles(s"$root/signatures").size <= 2 * 64)
    assert(dataFiles(s"$root/buckets").size <= 2 * 64)
  }

  test("upsertDelta replaces an edited (probed) document: no stale signature rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_nd_upsert").toString
    val docs = corpus(60)
    NearDupService.buildIndex(docs, "text", "doc_id", root)
    val edited = docs.filter($"doc_id" === 7L)
      .withColumn("text", concat($"text", lit(" freshly recrawled")))
    NearDupService.upsertDelta(edited, "text", "doc_id", root)
    // exactly ONE signature row and bands-many bucket rows for the id —
    // a missed removal leaves two signature rows and the probe would
    // report both versions
    val sigRows = spark.read.parquet(s"$root/signatures")
      .filter($"id" === 7L).count()
    assert(sigRows === 1L, s"expected 1 signature row for the upserted id, got $sigRows")
    val meta = NearDupService.readMeta(spark, root)
    val bRows = spark.read.parquet(s"$root/buckets")
      .filter($"id" === 7L).count()
    assert(bRows === meta.bands.toLong)
    // layout stays band-uniform (the bandStats invariant)
    val stats = NearDupService.bandStats(spark, root).collect()
    assert(stats.forall(r => r.getAs[Long]("n_rows") === 60L &&
      r.getAs[Long]("n_ids") === 60L))
    // the edited doc is served under its NEW text at guaranteed recall
    val probe = Seq((999L, edited.select("text").as[String].head()))
      .toDF("doc_id", "text")
    val hits = NearDupService.probeVerified(spark, root, probe,
      docs.filter($"doc_id" =!= 7L).unionByName(edited), "text", "doc_id",
      threshold = 1.0)
      .select("ref_id").as[Long].collect().toSet
    assert(hits === Set(7L), s"edited doc must match its new text only, got $hits")
  }

  test("appendDelta/upsertDelta reject a batch carrying the same id twice") {
    // two versions of one doc in a single batch would merge their
    // shingle sets into a signature matching NEITHER version — the
    // guard fails loudly instead
    val root = java.nio.file.Files.createTempDirectory("graft_nd_dup").toString
    NearDupService.buildIndex(corpus(10), "text", "doc_id", root)
    val twice = Seq((99L, "old crawl of the page"),
      (99L, "new crawl of the page")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      NearDupService.upsertDelta(twice, "text", "doc_id", root)
    }
    assert(e.getMessage.contains("duplicate"))
    assert(spark.read.parquet(s"$root/signatures")
      .filter($"id" === 99L).count() === 0L, "the rejected batch must not land")
    // a NULL id is named explicitly, never misreported as a duplicate
    val withNull = Seq((java.lang.Long.valueOf(98L), "fine"),
      (null.asInstanceOf[java.lang.Long], "null id"))
      .toDF("doc_id", "text")
    val en = intercept[IllegalArgumentException] {
      NearDupService.appendDelta(withNull, "text", "doc_id", root)
    }
    assert(en.getMessage.contains("NULL"), en.getMessage)
  }

  test("removeFromIndex heals a crashed compaction swap on a dataset dir " +
      "before its touched-partition scans") {
    val root = java.nio.file.Files.createTempDirectory("graft_nd_swp").toString
    val docs = corpus(20)
    NearDupService.buildIndex(docs, "text", "doc_id", root)
    // forge the crashed compactIndex window on the signatures dir: the
    // only full copy parked at -__old__ with the pending marker up —
    // without healing, the pruned signature scan fails on the missing
    // dir (or worse, runs against a sparse writer recreation whose
    // takedown a later recovery silently undoes)
    val dir = s"$root/signatures"
    assert(new java.io.File(dir).renameTo(new java.io.File(s"$dir-__old__")))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir-__swap_pending__"))
    NearDupService.removeFromIndex(spark, root, Seq(3L, 9L).toDF("id"))
    val left = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(left === (1 to 20).map(_.toLong).toSet -- Set(3L, 9L),
      "healed layout minus exactly the removed ids")
    assert(spark.read.parquet(s"$root/buckets")
      .filter($"id".isin(3L, 9L)).count() === 0L,
      "bucket rows for the removed ids must be gone too")
    assert(!new java.io.File(s"$dir-__old__").exists() &&
      !new java.io.File(s"$dir-__swap_pending__").exists())
  }

  test("group count is pinned in meta: a non-default-groups layout appends, " +
      "removes and probes correctly; pre-recording meta defaults to 64") {
    val root = java.nio.file.Files.createTempDirectory("graft_nd_grp").toString
    val docs = corpus(50)
    NearDupService.buildIndex(docs.filter($"doc_id" <= 40), "text", "doc_id",
      root, groups = 8)
    assert(NearDupService.readMeta(spark, root).groups === 8)
    // every op below must hash with the STORED count, not the default —
    // a mis-routed append would land rows in partitions no probe prunes to
    NearDupService.appendDelta(docs.filter($"doc_id" > 40), "text", "doc_id", root)
    assert(new java.io.File(s"$root/signatures").listFiles()
      .count(_.getName.startsWith("idgrp=")) <= 8)
    val probe = docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000).as("doc_id"), $"text")
    val hits = NearDupService.probeVerified(spark, root, probe, docs,
      "text", "doc_id", threshold = 1.0)
      .select("new_id", "ref_id").as[(Long, Long)].collect().toSet
    assert(hits === docs.filter($"doc_id" % 10 === 0).select("doc_id")
      .as[Long].collect().map(i => (i + 1000, i)).toSet,
      "guaranteed recall must hold on the non-default-groups layout")
    NearDupService.removeFromIndex(spark, root,
      Seq(10L).toDF("doc_id"), "doc_id")
    val after = NearDupService.probeVerified(spark, root, probe, docs,
      "text", "doc_id", threshold = 1.0)
      .select("ref_id").as[Long].collect().toSet
    assert(!after.contains(10L) && after.contains(20L))
    // back-compat: a meta written before `groups` existed reads as 64
    val legacy = java.nio.file.Files.createTempDirectory("graft_nd_leg").toString
    Seq((16, 4, 5)).toDF("bands", "rows_per_band", "shingle_k")
      .coalesce(1).write.parquet(s"$legacy/meta")
    assert(NearDupService.readMeta(spark, legacy).groups === 64)
  }

  test("upsertDelta on a brand-new id behaves as a plain append") {
    val root = java.nio.file.Files.createTempDirectory("graft_nd_upnew").toString
    NearDupService.buildIndex(corpus(20), "text", "doc_id", root)
    NearDupService.upsertDelta(
      Seq((1000L, "entirely new content for the upserted id"))
        .toDF("doc_id", "text"), "text", "doc_id", root)
    assert(spark.read.parquet(s"$root/signatures")
      .filter($"id" === 1000L).count() === 1L)
    val stats = NearDupService.bandStats(spark, root).collect()
    assert(stats.forall(_.getAs[Long]("n_ids") === 21L))
  }

  test("appendDelta writes buckets only after signatures: a failed append " +
      "leaves state a takedown of the batch ids clears") {
    val root = java.nio.file.Files.createTempDirectory("graft_nd_order").toString
    val docs = corpus(80)
    NearDupService.buildIndex(docs.filter($"doc_id" <= 60), "text", "doc_id", root)
    val batch = docs.filter($"doc_id" > 60)
    def batchRows(ds: String): Long =
      spark.read.parquet(s"$root/$ds").filter($"id" > 60L).count()
    // a plain file in place of the dataset dir makes that append fail
    def failingAppendTo(ds: String): Unit = {
      val dir = new java.io.File(s"$root/$ds")
      val aside = new java.io.File(s"$root/$ds.aside")
      assert(dir.renameTo(aside) && dir.createNewFile())
      try intercept[Exception](NearDupService.appendDelta(batch, "text", "doc_id", root))
      finally assert(dir.delete() && aside.renameTo(dir))
    }
    // a failed signature append never reaches the bucket append
    failingAppendTo("signatures")
    assert(batchRows("buckets") === 0L, "bucket rows appended without their signatures")
    // a failed bucket append leaves signatures without buckets ...
    failingAppendTo("buckets")
    assert(batchRows("signatures") === 20L)
    assert(batchRows("buckets") === 0L)
    // ... which removeFromIndex finds from the stored signatures
    NearDupService.removeFromIndex(spark, root, batch.select("doc_id"), "doc_id")
    assert(batchRows("signatures") === 0L)
    assert(batchRows("buckets") === 0L)
  }
}
