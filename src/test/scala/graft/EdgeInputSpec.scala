package graft

import graft.SparkSpec
import graft.dedup.Dedup
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** Edge-input robustness: empty corpora and null text must not crash the
  * library surface. The exact behaviors asserted here ARE the contracts —
  * a caller feeding a filtered-to-empty frame or a crawl with null bodies
  * gets defined results, not exceptions. */
class EdgeInputSpec extends SparkSpec {
  import spark.implicits._

  private def empty = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("empty corpus: dedup family returns 0 rows, leaves no caches") {
    val before = cachedIds
    assert(Dedup.exactGroups(empty, "text", "doc_id").count() === 0)
    assert(Dedup.exactDedup(empty, "text", "doc_id").count() === 0)
    val mh = Dedup.minHashNearDups(empty, "text", "doc_id", threshold = 0.5)
    assert(mh.count() === 0); mh.unpersist(blocking = true)
    val sh = Dedup.simHashNearDups(empty, "text", "doc_id")
    assert(sh.count() === 0); sh.unpersist(blocking = true)
    val tj = Dedup.consecutiveTokenJaccardPairs(empty, "text", "doc_id", 0.5)
    assert(tj.count() === 0); tj.unpersist(blocking = true)
    assert((cachedIds -- before).isEmpty)
  }

  test("empty corpus: text analysis returns 0 rows; BPE learns no merges") {
    assert(TextOps.gopherSignals(empty, "text", "doc_id").count() === 0)
    assert(TextOps.ngramLmScore(empty, "text", "doc_id").count() === 0)
    assert(TextOps.heavyHitters(empty, "text", 5).count() === 0)
    assert(TextOps.repetitionSignals(empty, "text", "doc_id").count() === 0)
    assert(TextOps.removeBoilerplateLines(empty, "text", "doc_id").count() === 0)
    assert(TextOps.bpeMerges(empty, "text", numMerges = 3).count() === 0)
  }

  test("empty/degenerate inputs: round-7 operators stay defined") {
    val before = cachedIds
    // portable simhash over an empty corpus: 0 pairs, nothing cached
    val sh = Dedup.signatureNearDups(
      Dedup.simHashSignatures(empty, "text", "doc_id", Dedup.portableHash60, 60),
      maxDist = 0, maxBucketOccupancy = 100000L, "edge", "n/a")
    assert(sh.count() === 0); sh.unpersist(blocking = true)
    assert((cachedIds -- before).isEmpty)
    // minhash at threshold 1.0 with all-band agreement on an empty corpus
    val mh = Dedup.minHashNearDups(empty, "text", "doc_id",
      threshold = 1.0, minBandMatches = 16)
    assert(mh.count() === 0); mh.unpersist(blocking = true)
    // lshTopK exactness mode with an empty corpus / empty query set
    val emptyVec = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    assert(graft.sim.Similarity.lshTopK(emptyVec, vecs, k = 3, bits = 0, bands = 1)
      .count() === 0)
    assert(graft.sim.Similarity.lshTopK(vecs, emptyVec, k = 3, bits = 0, bands = 1)
      .count() === 0)
    // bpeSegment under an EMPTY merge table = plain character split
    val segs = Seq("abc").toDF("w")
      .select(TextOps.bpeSegment(col("w"), Seq.empty).as("s"))
      .as[Seq[String]].head()
    assert(segs === Seq("a", "b", "c"))
  }

  test("empty/degenerate inputs: round-9 operators stay defined") {
    val before = cachedIds
    val emptyVec = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val vecs = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(8)(d => (i * 8 + d).toFloat)))
      .toDF("vec_id", "embedding")
    // LSH at bits 16 and the JL shortlist: empty corpus / empty queries →
    // 0 rows, no crash (the projection's dim probe sees no row)
    assert(graft.sim.Similarity.lshTopK(emptyVec, vecs, k = 3, bits = 16).count() === 0)
    assert(graft.sim.Similarity.lshTopK(vecs, emptyVec, k = 3, bits = 16).count() === 0)
    assert(graft.sim.Similarity.rpTopK(emptyVec, vecs, k = 3).count() === 0)
    assert(graft.sim.Similarity.rpTopK(vecs, emptyVec, k = 3).count() === 0)
    // recallAtK with an empty ANN side: hits 0, n_queries from exact
    val exact = Seq((1L, 2L), (1L, 3L)).toDF("query_id", "cand_id")
    val emptyPairs = Seq.empty[(Long, Long)].toDF("query_id", "cand_id")
    val r = graft.sim.Similarity.recallAtK(emptyPairs, exact, k = 2)
      .as[(Int, Long, Long, Double)].head()
    assert(r === ((2, 1L, 0L, 0.0)))
    // and an empty EXACT side: 0 queries → recall undefined (null mean),
    // not an ANSI divide-by-zero (the bug this test originally caught)
    val r2 = graft.sim.Similarity.recallAtK(exact, emptyPairs, k = 2).collect()
    assert(r2.length === 1 && r2(0).getLong(1) === 0L && r2(0).isNullAt(3))
    // portable PQ: empty corpus fails the codebook-sample gate EXPLICITLY
    intercept[IllegalArgumentException] {
      graft.sim.Pq.pqTopKPortable(emptyVec, vecs, k = 3, m = 2, codebookSize = 4)
    }
    // frequentValues: empty frame → 0 rows; all-null column → 0 rows
    assert(graft.profile.Profile.frequentValues(empty, topN = 3).count() === 0)
    val allNull = Seq((1L, null: String), (2L, null: String)).toDF("id", "t")
    assert(graft.profile.Profile.frequentValues(allNull.select($"t"), topN = 3)
      .count() === 0)
    // OPH densification of an all-empty signature stays all-sentinel
    val sent = Seq((1L, Seq.fill(8)(Long.MaxValue))).toDF("id", "sig")
    val dsig = Dedup.densifyOPH(sent, numBins = 8)
      .as[(Long, Seq[Long])].head()._2
    assert(dsig.forall(_ === Long.MaxValue))
    // OPH-densified near-dup over an empty corpus: 0 rows, no caches left
    val mh = Dedup.minHashNearDups(empty, "text", "doc_id",
      threshold = 1.0, minBandMatches = 16, ophDensified = true)
    assert(mh.count() === 0); mh.unpersist(blocking = true)
    assert((cachedIds -- before).isEmpty)
  }

  test("empty/degenerate inputs: round-9 second-batch operators stay defined") {
    // fuzzyDecontaminate: empty corpus / empty benchmark → 0 rows
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    assert(Dedup.fuzzyDecontaminate(empty, "text", "doc_id",
      docs, "text", "doc_id").count() === 0)
    assert(Dedup.fuzzyDecontaminate(docs, "text", "doc_id",
      empty, "text", "doc_id").count() === 0)
    // shuffleShards: empty → 0 rows; all-null keys → 0 rows
    assert(graft.ops.Ops.shuffleShards(empty, "doc_id", 4).count() === 0)
    val nullKeys = Seq((null: java.lang.Long, "x")).toDF("doc_id", "text")
    assert(graft.ops.Ops.shuffleShards(nullKeys, "doc_id", 4).count() === 0)
    // scoreBuckets: empty → 0 rows; all-null scores → every row 'tail'
    val noScores = Seq((1L, null: java.lang.Double), (2L, null: java.lang.Double))
      .toDF("id", "s")
    assert(TextOps.scoreBuckets(noScores.limit(0), "s", "id").count() === 0)
    assert(TextOps.scoreBuckets(noScores, "s", "id")
      .select("bucket").as[String].collect().forall(_ === "tail"))
    // ksDrift: both sides empty → no row (not a crash)
    val emptyD = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(graft.quality.Quality.ksDrift(emptyD, emptyD, "v").count() === 0)
    // budgetSelect: empty → 0 rows; zero-token stratum → budget 0, all
    // rows surface with kept = (cum 0 <= 0) = true (zero-cost rows fit)
    assert(graft.ops.Ops.budgetSelect(
      Seq.empty[(Long, String, Long, Double)].toDF("id", "st", "n", "sc"),
      "st", "id", "n", "sc").count() === 0)
    val zeroTok = Seq((1L, "s", 0L, 0.5), (2L, "s", 0L, 0.4))
      .toDF("id", "st", "n", "sc")
    val zt = graft.ops.Ops.budgetSelect(zeroTok, "st", "id", "n", "sc")
      .select("kept").as[Boolean].collect()
    assert(zt.length === 2 && zt.forall(identity))
    // imageExactDups: empty and all-null payloads → 0 rows
    val nullPay = Seq((1L, null: Array[Byte])).toDF("id", "payload")
    val e1 = graft.multimodal.Multimodal.imageExactDups(nullPay, "id")
    assert(e1.count() === 0); e1.unpersist(blocking = true)
  }

  test("sampleFrames: corrupt containers and empty frames stay defined") {
    import graft.multimodal.Multimodal
    // truncated GIF: cut a real multi-frame payload in half — frames
    // decoded before the cut may survive; the row set is still defined
    // and the partition must not fail
    val whole = Multimodal.synthesizeGif(Seq(3L).toDF("id"), "id")
      .select("payload").as[Array[Byte]].head()
    val truncated = whole.take(whole.length / 2)
    val out = Multimodal.sampleFrames(
      Seq((1L, truncated), (2L, Array[Byte](1, 2, 3)),
        (3L, null.asInstanceOf[Array[Byte]]), (4L, whole))
        .toDF("id", "payload"))
    val byId = out.select("id", "frame_no").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.length).toMap
    assert(byId.getOrElse(2L, 0) === 0, "garbage bytes decode no frames")
    assert(byId.getOrElse(3L, 0) === 0, "null payload decodes no frames")
    assert(byId(4L) === 5, "intact payload decodes all frames")
  }

  test("null text: defined null-propagating results, no crash") {
    val df = Seq((1L, "real words here today"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // gopherSignals: a null body yields null counts but a FALSE flag (the
    // 0.0-defaulted ratios fail the rule bands) — null-body docs are
    // dropped by the standard `filter(passes)` gate with no null handling
    val g = TextOps.gopherSignals(df, "text", "doc_id").orderBy("doc_id").collect()
    assert(!g(1).isNullAt(0) && g(1).isNullAt(1) && !g(1).getBoolean(7),
      s"null text row: null n_words, passes=false: ${g(1)}")
    // ngramLmScore: a null body has no tokens → 0 bigrams, null score
    val lm = TextOps.ngramLmScore(df, "text", "doc_id").orderBy("doc_id")
      .as[(Long, Long, Option[Double])].collect()
    assert(lm(1) === ((2L, 0L, None)))
    // exact dedup: null-text rows share the null fingerprint GROUP — they
    // collapse to one representative, like SQL GROUP BY over null keys;
    // pre-filter nulls when that is not the intent
    val dd = Dedup.exactDedup(
      df.union(Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text")),
      "text", "doc_id")
    assert(dd.count() === 2)
    assert(dd.filter(col("text").isNull).select("doc_id").as[Long].head() === 2L)
  }

  test("empty/degenerate inputs: round-10 operators stay defined") {
    val before = cachedIds
    // winnowing: empty corpus → no fingerprints, no pairs, no caches
    assert(Dedup.winnowFingerprints(empty, "text", "doc_id").count() === 0)
    val wp = Dedup.winnowNearDups(empty, "text", "doc_id")
    assert(wp.count() === 0); wp.unpersist(blocking = true)
    // one-row corpus: fingerprints exist, but a self-pair never does
    val one = Seq((1L, "just one small document here")).toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(one, "text", "doc_id").count() > 0)
    val wp1 = Dedup.winnowNearDups(one, "text", "doc_id")
    assert(wp1.count() === 0); wp1.unpersist(blocking = true)
    // CMS over empty text corpus → zero probe rows, no crash
    assert(TextOps.cmsTermCounts(empty, "text").count() === 0)
    // bootstrap over an empty frame: zero replicas survive the nw > 0
    // filter, so the CI frame is empty rather than divide-by-zero
    val emptyNum = Seq.empty[(Long, Double)].toDF("k", "v")
    assert(graft.quality.Quality.bootstrapMeanCI(emptyNum, "k", "v",
      replicas = 5).count() === 0)
    // percent rank of an empty frame is an empty frame
    assert(graft.quality.Quality.groupPercentRank(emptyNum, "k", "v")
      .count() === 0)
    // merkle diff of two empty snapshots: no buckets at all
    assert(graft.ops.Ops.merkleDiff(emptyNum, emptyNum, "k", Seq("v"))
      .count() === 0)
    // MMR over an empty corpus returns an empty selection and releases
    // its relevance cache
    val emptyVec = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.sim.Similarity.mmrSelect(emptyVec,
      emptyVec.limit(1), k = 3).count() === 0)
    // kNN with an empty query set classifies nothing
    val corpusVec = Seq((1L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    assert(graft.sim.Similarity.knnClassify(corpusVec,
      corpusVec.filter(col("vec_id") < 0), k = 1).count() === 0)
    assert((cachedIds -- before).isEmpty,
      "edge paths must not leave cached frames behind")
  }

  test("empty/degenerate inputs: round-11 operators stay defined") {
    val emptyNamed = Seq.empty[(Long, String)].toDF("id", "name")
    // fuzzy join: empty either side → empty, no exception from the
    // prefix-rank windows or the frequency aggregate
    assert(graft.ops.Ops.fuzzyJoinEditDistance(emptyNamed, emptyNamed,
      "id", "id", "name", "name").count() === 0)
    val oneSide = Seq((1L, "abcdef")).toDF("id", "name")
    assert(graft.ops.Ops.fuzzyJoinEditDistance(oneSide, emptyNamed,
      "id", "id", "name", "name").count() === 0)
    // all strings below the q·(maxDist+1) length floor → defined empty
    val short = Seq((1L, "ab"), (2L, "cd")).toDF("id", "name")
    assert(graft.ops.Ops.fuzzyJoinEditDistance(short, short,
      "id", "id", "name", "name").count() === 0)
    // BM25 over an empty corpus and over terms absent from the corpus
    assert(TextOps.bm25Search(empty, "text", "doc_id", Seq("x"), 5).count() === 0)
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    assert(TextOps.bm25Search(docs, "text", "doc_id",
      Seq("nosuchterm"), 5).count() === 0)
    // lexicon gates on empty corpus; map-only face included
    assert(TextOps.lexiconScore(empty, "text", "doc_id",
      Map("a" -> 1L), 0L, 0L).count() === 0)
    assert(TextOps.lexiconScoreMapOnly(empty, "text", "doc_id",
      Map("a" -> 1L), 0L, 0L).count() === 0)
    // robust statistics: empty input and all-null values both yield
    // empty reports (no groups), not exceptions
    val emptyGv = Seq.empty[(String, Option[Double])].toDF("g", "v")
    assert(graft.quality.Quality.exactPercentiles(emptyGv, "g", "v",
      Seq(50)).count() === 0)
    val allNull = Seq(("a", Option.empty[Double])).toDF("g", "v")
    assert(graft.quality.Quality.madOutliers(allNull, "g", "v").count() === 0)
    // k-anonymity on empty input: empty audit, empty suppression
    val emptyQ = Seq.empty[(Long, String)].toDF("id", "zip")
    assert(graft.quality.Quality.kAnonymity(emptyQ, Seq("zip"), 2).count() === 0)
    assert(graft.quality.Quality.kAnonymitySuppress(emptyQ, Seq("zip"), 2)
      .count() === 0)
    // compression signal on empty corpus
    assert(graft.text.Compress.compressionSignals(empty, "text", "doc_id")
      .count() === 0)
    // hard negatives when every candidate shares the query's label
    val mono = Seq((1L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(graft.sim.Similarity.hardNegatives(mono,
      mono.filter(col("vec_id") === 1), k = 2).count() === 0)
  }

  test("empty/degenerate inputs: round-12 index-maintenance ops stay defined") {
    val docs = Seq((1L, "apple banana"), (2L, "banana")).toDF("doc_id", "text")
    val emptyDocs = docs.filter(col("doc_id") < 0)
    // merging an EMPTY delta changes nothing — postings and stats intact
    val (mp, ms) = TextOps.bm25MergeIndex(
      TextOps.bm25Postings(docs, "text", "doc_id"),
      TextOps.bm25CorpusStats(docs, "text"),
      TextOps.bm25Postings(emptyDocs, "text", "doc_id"),
      TextOps.bm25CorpusStats(emptyDocs, "text"))
    assert(mp.count() === 3)
    assert(ms.select("n_docs", "dl_sum").as[(Long, Long)].head() === ((2L, 3L)))
    // removing EVERY document leaves a valid empty index, stats (0, 0)
    val (rp, rs) = TextOps.bm25RemoveIndex(
      TextOps.bm25Postings(docs, "text", "doc_id"),
      TextOps.bm25CorpusStats(docs, "text"), docs, "text", "doc_id")
    assert(rp.count() === 0)
    assert(rs.select("n_docs", "dl_sum").as[(Long, Long)].head() === ((0L, 0L)))
    assert(TextOps.bm25QueryStatsFrom(rp, rs, Seq("apple")).count() === 0)
    // df histogram of an empty postings frame is empty, not an error
    assert(TextOps.bm25DfHistogram(
      TextOps.bm25Postings(emptyDocs, "text", "doc_id")).count() === 0)
    // vector removal of a non-member id is a no-op
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val cents = graft.sim.Ivf.portableCentroids(vecs, nlist = 2, stride = 1)
    val idx = graft.sim.IvfIndex(cents,
      graft.sim.Ivf.assignPortable(vecs, cents))
    assert(graft.sim.Ivf.removeFromIndex(idx,
      Seq(999L).toDF("vec_id")).assigned.count() === 2)
    // decontamination against an empty reference fails fast (no quantizer
    // can be trained), not silently-all-clean
    intercept[IllegalArgumentException] {
      graft.sim.SemDedup.semanticDecontaminate(vecs,
        vecs.filter(col("vec_id") < 0), threshold = 0.9, nlist = 2,
        stride = 1, nprobe = 1)
    }
    // audio fingerprint over an empty corpus: zero rows, no codec touch
    assert(graft.multimodal.Multimodal.audioFingerprint64(
      emptyDocs.select(col("doc_id"),
        col("text").cast(org.apache.spark.sql.types.BinaryType)
          .as("payload"))).count() === 0)
  }
}
