package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The distributed exact-verification kernel ([[Dedup.verifyPairsJaccard]])
  * must be value-identical to the per-pair interpreted expression form
  * ([[Dedup.shingleJaccard]]) it replaces in every positive-threshold
  * consumer — pinned pairwise here so the interpreted form can never
  * silently drift from the kernel both LSH verifiers now route through. */
class VerifyPairsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact copy of 1
    (4L, "completely unrelated text with no overlap at all zzz"),
    (5L, "qq"),                                          // shorter than k
    (6L, "qq"),                                          // short exact copy
    (7L, "The  QUICK brown fox jumps over the lazy dog") // normalization twin of 1
  )

  private def allPairs(ids: Seq[Long]) =
    (for (a <- ids; b <- ids if a < b) yield (a, b)).toDF("id_a", "id_b")

  test("verifyPairsJaccard ≡ shingleJaccard on every positive-jaccard pair") {
    val df = docs.toDF("doc_id", "text")
    val pairs = allPairs(docs.map(_._1))
    val kernel = Dedup.verifyPairsJaccard(pairs, df, "text", "doc_id")
      .withColumn("jaccard", round(col("jaccard"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    try {
      val expr = pairs
        .join(df.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
        .join(df.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
        .withColumn("jaccard", round(Dedup.shingleJaccard(col("ta"), col("tb")), 6))
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
          -> r.getAs[Double]("jaccard")).toMap
      // every expression-positive pair is present with the identical value
      val positive = expr.filter(_._2 > 0)
      assert(positive.nonEmpty && positive.exists(_._2 < 1.0),
        "fixture must exercise partial overlaps, not just copies")
      positive.foreach { case (k, v) =>
        assert(kernel.get(k).contains(v), s"pair $k: kernel ${kernel.get(k)} != expr $v")
      }
      // zero-jaccard pairs are ABSENT from the kernel output, never wrong
      expr.filter(_._2 == 0.0).keys.foreach { k =>
        assert(!kernel.contains(k), s"zero-overlap pair $k must be absent")
      }
      // exact copies (incl. the short and the normalization twins) score 1.0
      assert(kernel((1L, 3L)) == 1.0 && kernel((5L, 6L)) == 1.0 &&
        kernel((1L, 7L)) == 1.0)
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("verifyPairsJaccardSided resolves colliding id spaces per side") {
    // id 1 exists on BOTH sides with DIFFERENT text — a single unioned
    // corpus would merge the two shingle sets; the sided kernel must not
    val aDocs = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val bDocs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val pairs = Seq((1L, 1L), (1L, 2L)).toDF("new_id", "ref_id")
    val out = Dedup.verifyPairsJaccardSided(pairs, aDocs, bDocs,
        "text", "doc_id", "new_id", "ref_id")
      .withColumn("jaccard", round(col("jaccard"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    try {
      val expected = Seq((1L, "alpha beta gamma delta epsilon"))
        .toDF("i", "ta").crossJoin(bDocs)
        .select(col("doc_id"),
          round(Dedup.shingleJaccard(col("ta"), col("text")), 6).as("j"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(out((1L, 2L)) == 1.0, "identical text across sides must score 1.0")
      assert(math.abs(out((1L, 1L)) - expected(1L)) < 1e-9 && out((1L, 1L)) < 1.0,
        "a-side text must come from aDocs, not the colliding bDocs id")
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("kernel drops null-text pairs and collapses duplicate input pairs") {
    val df = Seq((1L, "same exact text here"), (2L, "same exact text here"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.verifyPairsJaccard(pairs, df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    try {
      assert(out == Map((1L, 2L) -> 1.0),
        "null-text pairs absent; the duplicated pair appears once with jaccard 1.0")
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("kernel releases its corpus-sized persists (only the pair result stays cached)") {
    val df = docs.toDF("doc_id", "text")
    // BASELINE-RELATIVE: suites share one JVM session, and operators that
    // localCheckpoint (e.g. Graph.hitsInt in GraphSpec) leave executor-
    // side RDD blocks registered until GC — an absolute count here would
    // depend on suite ordering, not on this kernel's behavior
    val before = cachedIds
    val out = Dedup.verifyPairsJaccard(allPairs(docs.map(_._1)), df, "text", "doc_id")
    try {
      val added = cachedIds -- before
      assert(added.size == 1,
        s"expected only the returned pair frame cached, found ${added.size}")
      out.unpersist(blocking = true)
      assert((cachedIds -- before).isEmpty)
    } finally spark.sharedState.cacheManager.clearCache()
  }
}
