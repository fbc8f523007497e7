package graft

/** Session-wide cache-residency audit: a long-lived serving session
  * (QueryService, a bench loop) invoking the persisting operators
  * repeatedly must return to its cache baseline once callers release the
  * results — no intermediate may survive an operator call (those are
  * released inside the operators by their graft.util.Residency scope),
  * and the results are bounded by the caller-unpersist contract. */
class ResidencySpec extends SparkSpec {

  // The registry queries that persist internally, one or more per
  // operator family whose residency a scope manages: the LSH families,
  // the iterative components resolver, the cluster-scoped semantic
  // dedup, the fused median/MAD pair, the graph loops (which also pin
  // their rounds), the rank-map Spearman, the BPE trainer and φk.
  private val names = Seq("dd_minhash_lsh", "dd_simhash", "emb_near_dup",
    "dd_components", "emb_semantic_dedup", "pipe_near_dedup",
    "a19_mad_outliers", "a20_robust_stats", "gr_hits", "gr_bfs",
    "pr14_spearman", "txt_bpe_learn", "pr17_phik")

  test("repeated near-dup query invocations return the session to its cache baseline") {
    val dir = "/root/testdata/sf0.001"
    // Checkpoint pins are blocks the returned frame's lineage reads, not
    // cache entries: they live while a frame reads them and go with it.
    def unpinnedIds = spark.sparkContext.getPersistentRDDs.iterator
      .collect { case (id, rdd) if !rdd.isCheckpointed => id }.toSet
    val before = cachedIds
    (1 to 2).foreach { _ =>        // twice: the long-lived-session shape
      names.foreach { n =>
        val out = SparkEntry.queries(n)(spark, dir)
        assert(out.count() > 0, s"$n returned no rows")
        // After the operator returns, at most the pair-sized result is new.
        assert((unpinnedIds -- before).size <= 1,
          s"$n left more than its result cached: ids ${unpinnedIds -- before}")
        out.unpersist(blocking = true)
      }
    }
    assert((unpinnedIds -- before).isEmpty,
      s"cache baseline not restored; leaked ids ${unpinnedIds -- before}")
    // with every result released nothing reads the pins any more; the
    // session's registry holds them weakly, so a collection drops them
    val deadline = System.currentTimeMillis() + 30000L
    while ((cachedIds -- before).nonEmpty && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert((cachedIds -- before).isEmpty,
      s"pins outlived every frame reading them: ${cachedIds -- before}")
  }

  test("profile() leaves no persisted RDD behind (long-form passes + association tabs)") {
    import spark.implicits._
    val d = (0 until 60).map(i => (i % 7, (i * 13 % 11).toDouble, s"c${i % 3}", s"t${i % 4}"))
      .toDF("a", "b", "s", "t")
    val before = cachedIds
    val p = graft.profile.Profile.profile(d, "t", exact = true)
    graft.profile.Profile.profile(d, "t")
    assert(p.rows === 60 && p.phik.nonEmpty)
    assertReleased(cachedIds -- before)
  }

  /** Wait (bounded, as above) for a collection to drop every id in
    * `pins`: a pin lives while a frame reads it and goes with the last. */
  private def awaitCollected(pins: Set[Int]): Unit = {
    def live = cachedIds & pins
    val deadline = System.currentTimeMillis() + 30000L
    while (live.nonEmpty && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(live.isEmpty, s"pins outlived every frame reading them: $live")
  }

  private def fixtures(tag: String) =
    graft.pipeline.Fixtures.writeAll(java.nio.file.Files.createTempDirectory(tag))

  test("StateEconomics.build's pins go once its tables are dropped, and a refused build leaves none") {
    import graft.pipeline.StateEconomics
    val before = cachedIds
    var built = StateEconomics.build(spark, fixtures("graft_res_build"))
    val pins = cachedIds -- before
    assert(built.size === 11 && pins.size === 11, s"pins $pins")
    built = null
    awaitCollected(pins)

    // the negative fixture: a null Year the table_CPI gate refuses
    val in = fixtures("graft_res_refused")
    val mw = java.nio.file.Paths.get(in.minWageCsv)
    java.nio.file.Files.write(mw, (new String(java.nio.file.Files.readAllBytes(mw), "windows-1252") +
      "\n,Nowhere,1.0,1.0,1.15,8.55,34.8,,1.0,1.0,").getBytes("windows-1252"))
    val beforeRefused = cachedIds
    intercept[graft.quality.PrimaryKeyViolation](StateEconomics.build(spark, in))
    val refused = cachedIds -- beforeRefused
    assert(refused.nonEmpty, "the gate reads pins, so the refused build made some")
    awaitCollected(refused)
  }

  test("a missing input fails the concurrent source preparation with its reader's own exception") {
    import graft.pipeline.StateEconomics
    val in = fixtures("graft_res_missing")
    val before = cachedIds
    intercept[java.nio.file.NoSuchFileException](
      StateEconomics.build(spark, in.copy(unemploymentXlsx = in.unemploymentXlsx + ".missing")))
    intercept[java.nio.file.NoSuchFileException](
      StateEconomics.build(spark, in.copy(minWageCsv = in.minWageCsv + ".missing")))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      StateEconomics.build(spark, in.copy(schoolExpenseCsv = in.schoolExpenseCsv + ".missing")))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    // nothing is pinned before every source is prepared
    assert((cachedIds -- before).isEmpty)
  }
}
