package graft.dedup

import graft.SparkSpec

/** Directed containment pairs — the asymmetric quote/subset measure. */
class ContainmentSpec extends SparkSpec {
  import spark.implicits._

  // doc 2 is a verbatim 6-token prefix QUOTE of doc 1 (with n = 2 grams
  // its gram set is a strict subset); doc 3 is unrelated; doc 4 overlaps
  // doc 1 partially.
  private def docs = Seq(
    (1L, "a b c d e f g h"),
    (2L, "a b c d e f"),
    (3L, "x y z w"),
    (4L, "e f g h q r")
  ).toDF("doc_id", "text")

  test("containment: quote ⊆ source scores 1.0 directed, source ⊄ quote") {
    val res = Dedup.containmentPairs(docs, "text", "doc_id",
        n = 2, threshold = 0.9)
    val out = res.as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    res.unpersist(blocking = true)
    // doc 2's five bigrams {ab,bc,cd,de,ef} all occur in doc 1's seven
    assert(out === Map((2L, 1L) -> 1.0))
  }

  test("containment: partial overlap scores |∩|/|a| exactly, both " +
      "directions, threshold prunes unrounded") {
    val res = Dedup.containmentPairs(docs, "text", "doc_id",
        n = 2, threshold = 0.4)
    val out = res.as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    res.unpersist(blocking = true)
    // doc 4 bigrams {ef,fg,gh,hq,qr} (5); shared with doc 1: ef,fg,gh → 3/5
    assert(out((4L, 1L)) === ((5L, 3L, 0.6)))
    // the asymmetry is visible: reverse direction is 3/7, rounded to 6
    assert(out((1L, 4L)) === ((7L, 3L, 0.428571)))
    // quote pair survives at any threshold; sizes exact
    assert(out((2L, 1L)) === ((5L, 5L, 1.0)))
    // unrelated doc 3 appears nowhere
    assert(!out.keys.exists(k => k._1 == 3L || k._2 == 3L))
    // a higher threshold prunes on the UNROUNDED ratio: 3/7 < 0.5 drops,
    // 3/5 and the quote survive
    val prunedRes = Dedup.containmentPairs(docs, "text", "doc_id",
        n = 2, threshold = 0.5)
    val pruned = prunedRes.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(pruned === Set((4L, 1L), (2L, 1L), (1L, 2L)))
    prunedRes.unpersist(blocking = true)
  }

  test("containment: shorter-than-n docs gram as whole text (family " +
      "convention); null text drops; guards") {
    val edge = Seq((1L, Option("a b")), (2L, Option("a b")),
      (3L, Option.empty[String])).toDF("doc_id", "text")
    val res = Dedup.containmentPairs(edge, "text", "doc_id",
        n = 5, threshold = 0.5)
    val out = res.as[(Long, Long, Long, Long, Double)].collect().toSet
    res.unpersist(blocking = true)
    // both docs are one identical whole-text gram → mutual containment 1.0
    assert(out === Set((1L, 2L, 1L, 1L, 1.0), (2L, 1L, 1L, 1L, 1.0)))
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "text", "doc_id", n = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "text", "doc_id", threshold = 1.5)
    }
  }

  test("containment: no cached frames left behind (residency contract)") {
    // id-set delta, not global size — the global registry races the
    // async ContextCleaner and sibling suites (the ScanSpec flake class)
    val before = cachedIds
    val out = Dedup.containmentPairs(docs, "text", "doc_id", n = 2)
    val created = cachedIds -- before
    out.unpersist(blocking = true)
    assertReleased(created)
  }
}
