package graft

/** Session-wide cache-residency audit: a long-lived serving session
  * (QueryService, a bench loop) invoking the near-dup operators repeatedly
  * must return to its cache baseline once callers release the results —
  * no corpus-sized intermediate may survive an operator call (those are
  * released inside the operators via Caching.materializeAndRelease), and
  * the pair-sized results are bounded by the caller-unpersist contract. */
class ResidencySpec extends SparkSpec {

  // The registry queries that persist internally: the LSH families, the
  // iterative components resolver, and the cluster-scoped semantic dedup.
  private val names = Seq("dd_minhash_lsh", "dd_simhash", "emb_near_dup",
    "dd_components", "emb_semantic_dedup", "pipe_near_dedup")

  test("repeated near-dup query invocations return the session to its cache baseline") {
    val dir = "/root/testdata/sf0.001"
    def cachedIds = spark.sparkContext.getPersistentRDDs.keySet
    val before = cachedIds
    (1 to 2).foreach { _ =>        // twice: the long-lived-session shape
      names.foreach { n =>
        val out = SparkEntry.queries(n)(spark, dir)
        assert(out.count() > 0, s"$n returned no rows")
        // After the operator returns, at most the pair-sized result is new.
        assert((cachedIds -- before).size <= 1,
          s"$n left more than its result cached: ids ${cachedIds -- before}")
        out.unpersist(blocking = true)
      }
    }
    assert((cachedIds -- before).isEmpty,
      s"cache baseline not restored; leaked ids ${cachedIds -- before}")
  }

  test("profile() leaves no persisted RDD behind (long-form passes + association tabs)") {
    import spark.implicits._
    val d = (0 until 60).map(i => (i % 7, (i * 13 % 11).toDouble, s"c${i % 3}", s"t${i % 4}"))
      .toDF("a", "b", "s", "t")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val p = graft.profile.Profile.profile(d, "t", exact = true)
    graft.profile.Profile.profile(d, "t")
    assert(p.rows === 60 && p.phik.nonEmpty)
    assertReleased(spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }
}
