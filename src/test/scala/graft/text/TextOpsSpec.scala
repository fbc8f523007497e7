package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("dsirWeights: target-like docs outrank off-target, featureless docs defined") {
    val tgtVocab = "cat dog pet paw fur tail whisker collar leash bone"
    val offVocab = "bond yield swap rate hedge margin equity basis tenor spread"
    val raw = (
      (0L until 10L).map(i => (i, tgtVocab)) ++           // target-like
      (10L until 20L).map(i => (i, offVocab)) ++          // off-target
      Seq((20L, ""), (21L, "   "))                        // featureless
    ).toDF("doc_id", "text")
    val target = (0L until 5L).map(i => (i, tgtVocab)).toDF("doc_id", "text")
    val out = TextOps.dsirWeights(raw, target, "text", "doc_id")
      .as[(Long, Long, BigDecimal)].collect().map(r => r._1 -> r).toMap
    assert(out.size === 22, "one row per raw doc")
    // n_feats = tokens + bigrams = 2n-1
    assert(out(0L)._2 === 19L && out(10L)._2 === 19L)
    assert(out(20L) === ((20L, 0L, BigDecimal(0).setScale(6))))
    assert(out(21L)._2 === 0L)
    // every target-like doc strictly outweighs every off-target doc
    val tgtMin = (0L until 10L).map(out(_)._3).min
    val offMax = (10L until 20L).map(out(_)._3).max
    assert(tgtMin > offMax,
      s"target-like min $tgtMin must exceed off-target max $offMax")
    // decimal sum ⇒ partition-order independence: bit-identical weights
    // under a different physical layout
    val re = TextOps.dsirWeights(raw.repartition(7), target.repartition(3),
      "text", "doc_id").as[(Long, Long, BigDecimal)].collect()
      .map(r => r._1 -> r).toMap
    assert((0L until 22L).forall(i => re(i) === out(i)),
      "weights must not depend on partitioning")
  }

  test("dsirWeights plan: doc-bucket aggregate exchange reused for the corpus marginal, log-ratio table broadcast") {
    val raw = (0L until 40L).map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3}"))
      .toDF("doc_id", "text")
    val df = TextOps.dsirWeights(raw, raw.limit(10), "text", "doc_id")
    df.collect() // ReusedExchange only materializes in the final AQE plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"corpus marginal must reuse the (doc,bucket) aggregate exchange:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"log-ratio table must broadcast onto the doc-bucket counts:\n$plan")
  }

  test("tokenCount: whitespace runs, empty/blank → 0") {
    val out = Seq("one two  three", "", "   ", "single", "a\tb\nc")
      .toDF("t").select(TextOps.tokenCount(col("t")).as("n")).as[Long].collect()
    assert(out.sameElements(Array(3L, 0L, 0L, 1L, 3L)))
  }

  test("packSequences: hand-computed layout, boundary spans, zero-token rows") {
    // One shard, seqLen 4; token counts 3,5,4,0,2,7 → cum 3,8,12,12,14,21.
    def words(n: Int): String = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(3, 5, 4, 0, 2, 7).zipWithIndex
      .map { case (n, i) => (i.toLong, words(n)) }.toDF("doc_id", "text")
    val out = TextOps.packSequences(docs, "text", "doc_id", seqLen = 4, nShards = 1)
      .orderBy("id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (0L, 0L, 3L, 0L, 0L, 0L),   // tokens 0-2 in seq 0
      (1L, 0L, 5L, 0L, 3L, 1L),   // spans the seq-0/1 boundary
      (2L, 0L, 4L, 2L, 0L, 2L),   // exactly fills seq 2
      (3L, 0L, 0L, 3L, 0L, 3L),   // zero tokens: defined empty span
      (4L, 0L, 2L, 3L, 0L, 3L),
      (5L, 0L, 7L, 3L, 2L, 5L)))  // spans seqs 3..5
    // shards pack independently: per-doc layout depends only on the docs
    // in the SAME shard (doc 7 lands in shard 1 and must not shift shard 0)
    val twoShards = TextOps.packSequences(
      docs.union(Seq((7L, words(9))).toDF("doc_id", "text")),
      "text", "doc_id", seqLen = 4, nShards = 2)
    val even = twoShards.filter(col("shard") === 0).orderBy("id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(even === Seq(
      (0L, 0L, 3L, 0L, 0L, 0L),
      (2L, 0L, 4L, 0L, 3L, 1L),
      (4L, 0L, 2L, 1L, 3L, 2L)))
    intercept[IllegalArgumentException] {
      TextOps.packSequences(docs, "text", "doc_id", seqLen = 0)
    }
  }

  test("subwordCount: letter runs + digit runs + single punctuation") {
    val out = Seq("hello world", "abc123!?", "a,b").toDF("t")
      .select(TextOps.subwordCount(col("t")).as("n")).as[Long].collect()
    // "abc123!?" → abc, 123, !, ? = 4 ; "a,b" → a , b = 3
    assert(out.sameElements(Array(2L, 4L, 3L)))
  }

  test("charShingles: distinct k-grams of normalized text; short text → whole") {
    val out = Seq("abcde f", "ab").toDF("t")
      .select(TextOps.charShingles(col("t"), 3).as("s")).as[Seq[String]].collect()
    assert(out(0).toSet === Set("abc", "bcd", "cde", "de ", "e f"))
    assert(out(1) === Seq("ab"))
  }

  test("langId picks the marker-dominant language, und when none") {
    val out = Seq(
      "the cat and the dog is in that house with food",
      "der Hund ist nicht mit der Katze und das ist gut",
      "le chat et la maison dans les champs est une merveille",
      "el perro es en la casa que los gatos y las aves",
      "zzz qqq xxx").toDF("t")
      .select(TextOps.langId(col("t")).as("l")).as[String].collect()
    assert(out.sameElements(Array("en", "de", "fr", "es", "und")))
  }

  test("qualityScore stays in [0,1]; clean prose beats punctuation soup") {
    val rows = Seq(
      "This is a reasonably long and well formed english sentence about data pipelines and their operators.",
      "!!! ,,, ;;; ::: ??? ...",
      "").toDF("t").select(TextOps.qualityScore(col("t")).as("q")).as[Double].collect()
    assert(rows.forall(q => q >= 0.0 && q <= 1.0))
    assert(rows(0) > rows(1))
  }

  test("stopwordRatio: prose scores high, gibberish zero, empty safe") {
    val out = Seq(
      "the cat and the dog is in that house",  // 6 of 9 tokens are markers
      "zx qv wk pp",
      "").toDF("t")
      .select(TextOps.stopwordRatio(col("t")).as("r")).as[Double].collect()
    assert(math.abs(out(0) - 6.0 / 9) < 1e-6)
    assert(out(1) === 0.0 && out(2) === 0.0)
  }

  test("fingerprint is whitespace/case insensitive") {
    val fp = Seq("Hello   World", "hello world", "different").toDF("t")
      .select(TextOps.fingerprint(col("t")).as("f")).as[Long].collect()
    assert(fp(0) === fp(1))
    assert(fp(0) !== fp(2))
  }

  test("minShingleHash robust to a small tail edit, unlike fingerprint") {
    val base = "the quick brown fox jumps over the lazy dog repeatedly and often"
    val df = Seq((base, base + " x")).toDF("a", "b")
    val Array((mA, mB, fA, fB)) = df.select(
      TextOps.minShingleHash(col("a")).as("ma"),
      TextOps.minShingleHash(col("b")).as("mb"),
      TextOps.fingerprint(col("a")).as("fa"),
      TextOps.fingerprint(col("b")).as("fb"))
      .as[(Long, Long, Long, Long)].collect()
    assert(mA === mB)
    assert(fA !== fB)
  }

  test("redact: emails, urls, long digit runs → typed placeholders; short numbers kept") {
    val r = Seq("mail a.b+c@x-y.co.uk now",
        "see https://a.b/c?d=e#f end",
        "id 1234567890123 ok, year 2024 stays")
      .toDF("t").select(TextOps.redact(col("t"))).as[String].collect()
    assert(r(0) === "mail <EMAIL> now")
    assert(r(1) === "see <URL> end")
    assert(r(2) === "id <NUM> ok, year 2024 stays")
  }

  test("packByTokenBudget: concatenate-and-chop layout matches a sequential reference") {
    // docs with known token counts: doc i has (i % 7) + 1 tokens
    val docs = (0L until 40L).map(i =>
      (i, (0 until ((i % 7) + 1).toInt).map(j => s"w$j").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val out = TextOps.packByTokenBudget(df, "text", "doc_id",
      contextLen = 10, shards = 4)
      .select("id", "n_tokens", "shard", "pack_id")
      .as[(Long, Long, Long, Long)].collect()

    // sequential reference: per shard, running total in id order; a doc's
    // window is floor(cum_before / L)
    val expected = docs.groupBy(_._1 % 4).flatMap { case (shard, ds) =>
      var cum = 0L
      ds.sortBy(_._1).map { case (id, text) =>
        val n = text.split("\\s+").length.toLong
        val pack = shard * 1000000000L + cum / 10
        cum += n
        (id, n, shard, pack)
      }
    }.toSet
    assert(out.toSet === expected)
    // packs never cross shards, and per-shard pack ids are contiguous
    // from the shard base
    out.groupBy(_._3).foreach { case (shard, rows) =>
      assert(rows.forall(r => r._4 / 1000000000L === shard))
    }
  }

  test("packByTokenBudget plan: one shard-partitioned shuffle, no global window") {
    val df = (0L until 50L).map(i => (i, s"tok$i words here")).toDF("doc_id", "text")
    val plan = TextOps.packByTokenBudget(df, "text", "doc_id", 64, 8)
      .queryExecution.executedPlan.toString
    // exactly one Exchange (hash by shard for the window) — a global
    // unpartitioned window would show a SinglePartition exchange
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("SinglePartition"), s"global window leaked:\n$plan")
  }

  test("chunk: overlap windows cover the doc; short doc → one chunk") {
    val doc = ("x" * 500, 1L)
    val df = Seq(doc, ("short", 2L)).toDF("text", "doc_id")
    val chunks = TextOps.chunk(df, "text", "doc_id", size = 256, overlap = 32)
      .orderBy("doc_id", "chunk_no").as[(Long, Long, String)].collect()
    // 500 chars, stride 224 → ceil(468/224) = 3 chunks at 0/224/448
    val d1 = chunks.filter(_._1 == 1L)
    assert(d1.length === 3)
    assert(d1(0)._3.length === 256 && d1(1)._3.length === 256 && d1(2)._3.length === 52)
    // consecutive chunks overlap by exactly `overlap` chars
    assert(d1(0)._3.takeRight(32) === d1(1)._3.take(32))
    assert(chunks.filter(_._1 == 2L).map(_._3).toSeq === Seq("short"))
  }

  test("topWordRatio: boilerplate scores high, diverse text low, case-folded") {
    val df = Seq(
      (1L, "spam spam spam spam eggs"),       // 4/5
      (2L, "a b c d e"),                      // 1/5
      (3L, "The THE the"))                    // case-folded → 3/3
      .toDF("doc_id", "text")
    val r = TextOps.topWordRatio(df, "text", "doc_id")
      .orderBy("doc_id").select("top_word_ratio").as[Double].collect()
    assert(r(0) === 0.8 && r(1) === 0.2 && r(2) === 1.0)
  }

  test("extractDomains: hostnames lowercased, non-URL text ignored") {
    val out = Seq(
      "see https://Site.Example.ORG/path?q=1 and http://cdn.example.net/x",
      "no urls here", "ftp://not.matched/x")
      .toDF("t").select(TextOps.extractDomains(col("t")).as("d"))
      .as[Seq[String]].collect()
    assert(out(0) === Seq("site.example.org", "cdn.example.net"))
    assert(out(1).isEmpty && out(2).isEmpty)
  }

  test("removeBoilerplateLines: cross-doc repeated lines go, order kept, all-boiler doc → empty") {
    val df = Seq(
      (1L, "intro one\ncookie banner\nbody one"),
      (2L, "cookie banner\nbody two"),
      (3L, "body three\ncookie banner\noutro three"),
      (4L, "cookie banner")) // nothing survives
      .toDF("doc_id", "text")
    val out = TextOps.removeBoilerplateLines(df, "text", "doc_id", minCount = 3)
      .as[(Long, String)].collect().toMap
    assert(out === Map(
      1L -> "intro one\nbody one",
      2L -> "body two",
      3L -> "body three\noutro three",
      4L -> ""))
    // below the threshold nothing is removed
    val loose = TextOps.removeBoilerplateLines(df, "text", "doc_id", minCount = 5)
      .as[(Long, String)].collect().toMap
    assert(loose(1L) === "intro one\ncookie banner\nbody one")
  }

  test("heavyHitters: top-k by count, ties broken by term ascending") {
    val df = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "apple banana date date"),
      (3L, "Apple elder")) // case-folded
      .toDF("doc_id", "text")
    // counts: apple 4, banana 2, date 2, cherry 1, elder 1
    val top = TextOps.heavyHitters(df, "text", k = 3)
      .as[(String, Long)].collect()
    assert(top.toSeq === Seq(("apple", 4L), ("banana", 2L), ("date", 2L)))
    // k larger than vocab returns the whole vocab
    assert(TextOps.heavyHitters(df, "text", k = 100).count() === 5)
  }

  test("heavyHitters plan: TakeOrderedAndProject bounded heap, never a global Sort") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = TextOps.heavyHitters(df, "text", k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k should plan as a bounded heap:\n$plan")
    assert(!plan.contains("Sort "), s"no global sort should appear:\n$plan")
  }

  test("salientTerms: doc-specific terms outrank ubiquitous ones; rank ties by term") {
    // 'common' appears in every doc (df=3 → low idf); each doc has a
    // unique term (df=1 → high idf) that must rank first.
    val df = Seq(
      (1L, "common zebra zebra"),
      (2L, "common yak"),
      (3L, "common xerus common"))
      .toDF("doc_id", "text")
    val out = TextOps.salientTerms(df, "text", "doc_id", k = 2)
      .as[(Long, String, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    // idf(df=1) = (3-1+0.5)/1.5 = 5/3; idf(df=3) = 0.5/3.5 = 1/7
    assert(out(1L) === Seq(("zebra", 3.333333), ("common", 0.142857)))
    assert(out(2L) === Seq(("yak", 1.666667), ("common", 0.142857)))
    assert(out(3L) === Seq(("xerus", 1.666667), ("common", 0.285714)))
  }

  test("boilerplateRatio: corpus-repeated lines counted per doc, blanks " +
      "excluded, lineless docs report (0, 0, NULL)") {
    val docs = Seq(
      (1L, "unique one\ncopyright footer\n\nbody a"),
      (2L, "unique two\ncopyright footer\nbody b"),
      (3L, "copyright footer\nunique three"),
      (4L, "   \n\n"), // whitespace only → no countable lines
      (5L, "all original\nnothing shared"))
      .toDF("doc_id", "text")
    val out = TextOps.boilerplateRatio(docs, "text", "doc_id", minCount = 3)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((3L, 1L, Some(0.333333))), out(1L).toString)
    assert(out(2L) === ((3L, 1L, Some(0.333333))))
    assert(out(3L) === ((2L, 1L, Some(0.5))))
    assert(out(4L) === ((0L, 0L, None)), "blank-only doc has no lines")
    assert(out(5L) === ((2L, 0L, Some(0.0))))
  }

  test("clusterSalientTerms: cluster-specific terms outrank corpus-wide " +
      "stopwords; counts aggregate at the cluster level") {
    // 'the' appears in every cluster (cf=2 → idf 0.5/2.5); 'cat'/'dog'
    // are one-cluster terms (cf=1 → idf 1.5/1.5 = 1) whose cluster tf is
    // the SUM over the cluster's docs.
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"),
      (3L, "the dog sat"), (4L, "the dog ran"))
      .toDF("doc_id", "text")
    val clusters = Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1))
      .toDF("doc_id", "cell")
    val out = TextOps.clusterSalientTerms(docs, clusters, "text", "doc_id",
        k = 2)
      .as[(Int, String, Double, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    // K=2: score(cat, cell 0) = 2·(2−1+0.5)/1.5 = 2.0;
    // score(the) = 2·(2−2+0.5)/2.5 = 0.4; score(sat/ran) = 1·0.5/2.5 = 0.2
    assert(out(0) === Seq(("cat", 2.0), ("the", 0.4)))
    assert(out(1) === Seq(("dog", 2.0), ("the", 0.4)))
    // k bounds the per-cluster report; ties below break by term asc
    val k3 = TextOps.clusterSalientTerms(docs, clusters, "text", "doc_id",
        k = 3)
      .filter($"cell" === 0).orderBy($"rank")
      .as[(Int, String, Double, Int)].collect().map(_._2).toSeq
    assert(k3 === Seq("cat", "the", "ran"), s"tie at 0.2 breaks by term: $k3")
  }

  test("canonicalizeUrl: host case-folds, fragment/utm/trailing-slash drop, path case kept") {
    val cases = Seq(
      ("HTTPS://Example.COM/Path/?utm_source=x&id=1#frag",
        "https://example.com/Path/?id=1"),
      ("http://A.B.org/x/", "http://a.b.org/x"),
      ("https://h.io/p?utm_a=1&utm_b=2", "https://h.io/p"),
      ("https://h.io/p?id=9&utm_a=1", "https://h.io/p?id=9"),
      ("HTTP://H.IO", "http://h.io"),
      ("not a url at all", "not a url at all")) // schemeless passes through
    val out = cases.map(_._1).toDF("u")
      .select(TextOps.canonicalizeUrl(col("u")).as("c")).as[String].collect()
    cases.zip(out).foreach { case ((in, want), got) =>
      assert(got === want, s"canonicalizeUrl($in)")
    }
  }

  test("vocabulary + tokenizeToIds: dense frequency-ranked ids, OOV → 0, positions preserved") {
    val df = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry zzz")).toDF("doc_id", "text")
    // counts: apple 3; banana/cherry/zzz tie at 1 → term-ascending ids,
    // zzz falls off the size-3 vocab and encodes as OOV 0
    val vocab = TextOps.vocabulary(df, "text", 3).as[(String, Int)].collect().toMap
    assert(vocab === Map("apple" -> 1, "banana" -> 2, "cherry" -> 3))
    val ids = TextOps.tokenizeToIds(df, "text", "doc_id", 3)
      .orderBy("doc_id", "pos").as[(Long, Int, Int)].collect().toSeq
    assert(ids === Seq((1L, 0, 1), (1L, 1, 2), (1L, 2, 1),
      (2L, 0, 1), (2L, 1, 3), (2L, 2, 0)))
  }

  test("repetitionSignals: dup-word + bigram fractions; single-word doc → 0") {
    val df = Seq(
      (1L, "a a a b"),     // 4 words 2 distinct → dup_word 0.5;
                           // bigrams: "a a","a a","a b" → top 2/3, dup 2/3
      (2L, "w x y z"),     // all distinct, all bigrams unique → 0s
      (3L, "solo"))        // no bigrams → 0.0 bigram signals
      .toDF("doc_id", "text")
    val r = TextOps.repetitionSignals(df, "text", "doc_id")
      .orderBy("doc_id")
      .select("dup_word_frac", "top_bigram_frac", "dup_bigram_frac")
      .as[(Double, Double, Double)].collect()
    assert(r(0) === ((0.5, 0.666667, 0.666667)))
    assert(r(1) === ((0.0, 0.333333, 0.0)))  // 3 unique bigrams → top 1/3
    assert(r(2) === ((0.0, 0.0, 0.0)))
  }

  test("gopherSignals: prose passes; bullets, symbols, ellipses, numbers, empty all fail") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog near the riverbank today."),
      (2L, "- one\n- two\n- three\n- four"),
      (3L, "# # # header heavy markdown doc with tags # # #"),
      (4L, "to be continued...\nand then...\nthe end"),
      (5L, ""),
      (6L, "1 2 3 4 5 6 7 8 9 10 11 12")).toDF("doc_id", "text")
    val out = TextOps.gopherSignals(df, "text", "doc_id").orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(7), "clean prose should pass")
    assert(out(1L).getLong(1) === 13)                  // n_words
    assert(out(1L).getDouble(6) === 1.0)               // alpha_word_frac
    assert(out(1L).getDouble(3) === 0.0)               // symbol ratio
    assert(out(2L).getDouble(4) === 1.0)               // every line bulleted
    assert(!out(2L).getBoolean(7))
    assert(out(3L).getDouble(3) === 0.5)               // 6 '#' / 12 words
    assert(!out(3L).getBoolean(7))
    assert(out(4L).getDouble(5) === 0.666667)          // 2 of 3 lines end '…'
    assert(!out(4L).getBoolean(7))
    assert(out(5L).getLong(1) === 0L)                  // empty doc: all-zero row
    assert(!out(5L).getBoolean(7))
    assert(out(6L).getDouble(6) === 0.0)               // no alphabetic words
    assert(!out(6L).getBoolean(7))
  }

  test("gopherSignals plan: map-only — no Exchange anywhere") {
    val df = Seq((1L, "some text here")).toDF("doc_id", "text")
    val plan = TextOps.gopherSignals(df, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopherSignals must not shuffle:\n$plan")
  }

  test("stripHtml: script/style/comments/tags removed, entities decoded, &amp; last") {
    val in = "<html><head><style>p{x}</style><script>var j = 2 > 1;</script>" +
      "</head><body><!-- note --><p>Hello <b>world</b></p>&nbsp;Tom &amp; " +
      "Jerry say &quot;hi&quot; it&#39;s &lt;fine&gt; &amp;gt; stays</body></html>"
    val out = Seq(in).toDF("t").select(TextOps.stripHtml(col("t"))).as[String].head()
    assert(out === "Hello world Tom & Jerry say \"hi\" it's <fine> &gt; stays")
    // plain text passes through untouched (modulo whitespace collapse)
    val plain = Seq("no markup  here").toDF("t")
      .select(TextOps.stripHtml(col("t"))).as[String].head()
    assert(plain === "no markup here")
  }

  test("hashEmbed: deterministic signed bucket counts; empty text → zero vector") {
    val df = Seq((1L, "hello hello"), (2L, "")).toDF("doc_id", "text")
    val out = TextOps.hashEmbed(df, "text", "doc_id", dim = 64)
      .orderBy("doc_id").as[(Long, Seq[Double])].collect()
    // md5("hello") = 5d41402a…: bucket = ((5·16+13)·16+4)·16+1 = 23873 % 64
    // = 1; 5th hex char '4' is even → sign +1; two occurrences → +2
    assert(out(0)._2.length === 64)
    assert(out(0)._2(1) === 2.0)
    assert(out(0)._2.map(math.abs).sum === 2.0)
    assert(out(1)._2.forall(_ === 0.0))
  }

  test("sentences: terminator runs split, unterminated tail kept, positions stable") {
    val df = Seq(
      (1L, "First one. Second!? Third without end"),
      (2L, "..."),           // punctuation only → no sentences
      (3L, "one. two.  "))   // trailing blank tail filtered, positions keep gaps
      .toDF("doc_id", "text")
    val out = TextOps.sentences(df, "text", "doc_id")
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out === Seq(
      (1L, 0, "First one."), (1L, 1, "Second!?"), (1L, 2, "Third without end"),
      (3L, 0, "one."), (3L, 1, "two.")))
  }

  test("bpeMerges: classic corpus learns (es, est, lo, low); encoding segments lowest → low|est") {
    // Sennrich et al. running example: low×5 lower×2 newest×6 widest×3.
    // Hand-computed merge sequence:
    //   1. (e,s)  count 9 (ties (s,t) 9 → pair-ascending tie-break)
    //   2. (es,t) count 9
    //   3. (l,o)  count 7 (ties (o,w) 7)
    //   4. (lo,w) count 7
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val merges = TextOps.bpeMerges(df, "text", numMerges = 4)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(merges === Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "l", "o", 7L), (4, "lo", "w", 7L)))

    val segs = Seq("lowest").toDF("w")
      .select(TextOps.bpeSegment(col("w"),
        merges.map(m => (m._2, m._3))).as("s"))
      .as[Seq[String]].head()
    assert(segs === Seq("low", "est"))
  }

  test("bpeMergesBatched ≡ bpeMerges bit-identically at every batch width") {
    // The Sennrich corpus exercises the trim rule directly: (e,s) and
    // (s,t) tie at 9 sharing 's', so pass 1 must degrade to the
    // sequential top-1 rather than batch a tied overlap.
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val seqTable = TextOps.bpeMerges(df, "text", numMerges = 4)
      .as[(Int, String, String, Long)].collect().toSeq
    for (b <- Seq(1, 2, 8, 64)) {
      val bat = TextOps.bpeMergesBatched(df, "text", numMerges = 4, maxBatch = b)
        .as[(Int, String, String, Long)].collect().toSeq
      assert(bat === seqTable, s"maxBatch=$b diverged from sequential")
    }
  }

  test("stored tokenizer artifact: save/load round-trips a TRAINED table " +
      "and segments identically") {
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "text")
    val trained = TextOps.bpeMergesBatched(df, "text", numMerges = 4)
    val root = java.nio.file.Files.createTempDirectory("bpe_vocab_").toString
    TextOps.saveBpeMerges(trained, root)
    val loaded = TextOps.loadBpeMerges(spark, root)
    val inMem = trained.orderBy("merge_rank")
      .as[(Int, String, String, Long)].collect().toSeq.map(m => (m._2, m._3))
    assert(loaded === inMem)
    assert(loaded === Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    // segmentation under the loaded vocabulary ≡ under the in-memory one
    val segs = Seq("lowest").toDF("w")
      .select(TextOps.bpeSegment(col("w"), loaded).as("s"))
      .as[Seq[String]].head()
    assert(segs === Seq("low", "est"))
  }

  test("bpeMergesBatched ≡ bpeMerges on repeated-character runs " +
      "(pre-existing concat symbols)") {
    // With long single-character runs the same symbol string arises from
    // multiple factorizations — (a,a)→aa exists while (aa,aa) is still a
    // candidate — so a batched pass must refuse to batch a merge whose
    // output symbol already exists: applying it INCREASES pre-existing
    // pair counts (e.g. count(b, aa) grows by up to count(b, a)), which
    // the boundary-trim rule cannot bound. This corpus pins the
    // degrade-to-sequential behavior on that adversarial class.
    val words = Seq.fill(11)("aaaaaaaa") ++ Seq.fill(7)("baaab") ++
      Seq.fill(5)("aabaa") ++ Seq.fill(3)("caaaaac") ++ Seq.fill(2)("aa")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "text")
    val seqTable = TextOps.bpeMerges(df, "text", numMerges = 6)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(seqTable.nonEmpty)
    for (b <- Seq(2, 4, 64)) {
      val bat = TextOps.bpeMergesBatched(df, "text", numMerges = 6, maxBatch = b)
        .as[(Int, String, String, Long)].collect().toSeq
      assert(bat === seqTable, s"maxBatch=$b diverged on the repeated-run corpus")
    }
  }

  test("bpeMergesBatched ≡ bpeMerges on real text (12 merges, narrow batches)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val seqTable = TextOps.bpeMerges(docs, "text", numMerges = 12)
      .as[(Int, String, String, Long)].collect().toSeq
    val bat = TextOps.bpeMergesBatched(docs, "text", numMerges = 12, maxBatch = 4)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(bat === seqTable)
    assert(seqTable.length === 12)
  }

  test("bpe fertility arithmetic: segments per word under a fixed merge table") {
    // "low" → 1 segment; "newest" → n|e|w|est = 4 segments under the
    // Sennrich table — per-source fertility is the exact integer ratio.
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val df = Seq(("a", "low low"), ("b", "newest")).toDF("source", "text")
    val out = df.select(col("source"),
        explode(TextOps.tokens(lower(col("text")))).as("word"))
      .filter(col("word") =!= "")
      .select(col("source"),
        size(TextOps.bpeSegment(col("word"), merges)).cast("long").as("ns"))
      .groupBy("source")
      .agg(count(lit(1)).as("w"), sum(col("ns")).as("s"))
      .as[(String, Long, Long)].collect().toSet
    assert(out === Set(("a", 2L, 2L), ("b", 1L, 4L)))
  }

  test("lexiconScore: tf-weighted sums, no-hit docs keep bias, gate at threshold") {
    val docs = Seq(
      (1L, "good good bad"),     // 2·2 − 3 = 1 → kept at threshold 1
      (2L, "bad bad"),           // −6
      (3L, "neutral words only"),// no hits → bias 0
      (4L, "good")               // 2
    ).toDF("doc_id", "text")
    val out = TextOps.lexiconScore(docs, "text", "doc_id",
        Map("good" -> 2L, "bad" -> -3L), bias = 0L, threshold = 1L)
      .as[(Long, Long, Int)].collect().toSet
    assert(out === Set((1L, 1L, 1), (2L, -6L, 0), (3L, 0L, 0), (4L, 2L, 1)))
    // bias shifts every score, including no-hit docs
    val biased = TextOps.lexiconScore(docs, "text", "doc_id",
        Map("good" -> 2L, "bad" -> -3L), bias = 5L, threshold = 1L)
      .as[(Long, Long, Int)].collect().toSet
    assert(biased === Set((1L, 6L, 1), (2L, -1L, 0), (3L, 5L, 1), (4L, 7L, 1)))
    intercept[IllegalArgumentException] {
      TextOps.lexiconScore(docs, "text", "doc_id",
        Map.empty[String, Long], 0L, 0L)
    }
  }

  test("lexiconScoreMapOnly ≡ aggregate lexiconScore incl. metachar terms") {
    val docs = Seq(
      (1L, "good good bad"),
      (2L, "goodx good xgood"),          // substrings must NOT match
      (3L, "  good\tbad \n good  "),     // mixed whitespace, leading/trailing
      (4L, ""),
      (5L, "a+b a+b c.d"),               // regex metachars as lexicon terms
      (6L, "GOOD Bad gOOd"))             // case folding
      .toDF("doc_id", "text")
    val lex = Map("good" -> 2L, "bad" -> -3L, "a+b" -> 5L, "c.d" -> 7L)
    val agg = TextOps.lexiconScore(docs, "text", "doc_id", lex, 1L, 2L)
      .as[(Long, Long, Int)].collect().toSet
    val map = TextOps.lexiconScoreMapOnly(docs, "text", "doc_id", lex, 1L, 2L)
      .as[(Long, Long, Int)].collect().toSet
    assert(map === agg, s"map-only diverged:\n$map\n$agg")
    // spot-check the interesting rows: substrings excluded, metachars
    // literal ("c.d" must not match "cxd" — there is none here, but "a+b"
    // scores twice), case-folded
    val byId = map.map(r => (r._1, (r._2, r._3))).toMap
    assert(byId(2L) === ((3L, 1)))   // only the standalone "good" + bias
    assert(byId(3L) === ((2L, 1)))   // 2·2 − 3 + 1
    assert(byId(4L) === ((1L, 0)))   // bias only, below threshold 2
    assert(byId(5L) === ((18L, 1)))  // 2·5 + 7 + 1
    assert(byId(6L) === ((2L, 1)))   // case-insensitive
  }

  test("BM25: hand-computed scores, empty doc in N, bounded-heap ranks") {
    // N = 4 (incl. the empty doc), dl = 3,1,2,0 → avgdl = 1.5.
    // df(apple) = df(banana) = 2 → idf = ln(1 + 2.5/2.5) = ln 2 for both.
    val docs = Seq((1L, "Apple banana apple"), (2L, "banana"),
      (3L, "cherry apple"), (4L, "")).toDF("doc_id", "text")
    val out = TextOps.bm25Search(docs, "text", "doc_id",
        Seq("apple", "banana"), k = 3)
      .orderBy("rank").as[(Long, Double, Int)].collect().toSeq
    val ln2 = math.log(2.0)
    def w(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 1.5))
    val expected = Seq(
      (1L, ln2 * w(2, 3) + ln2 * w(1, 3)), // apple tf 2 + banana tf 1
      (2L, ln2 * w(1, 1)),
      (3L, ln2 * w(1, 2)))
    assert(out.map(_._1) === expected.map(_._1))
    assert(out.map(_._3) === Seq(1, 2, 3))
    out.zip(expected).foreach { case ((_, got, _), (_, exp)) =>
      assert(math.abs(got - exp) <= 1e-12 * math.max(1.0, exp.abs),
        s"score $got != hand-computed $exp")
    }
    // determinism: a second run reproduces bit-identically
    val again = TextOps.bm25Search(docs, "text", "doc_id",
        Seq("apple", "banana"), k = 3)
      .orderBy("rank").as[(Long, Double, Int)].collect().toSeq
    assert(again === out)
  }

  test("BM25 stored postings (term-bucket partitions) probe ≡ in-memory") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val terms = Seq("hash", "join", "dup")
    val inMem = TextOps.bm25Search(docs, "text", "doc_id", terms, k = 10)
      .as[(Long, Double, Int)].collect().toSeq.sortBy(_._3)
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_idx").toString
    TextOps.bm25Postings(docs, "text", "doc_id")
      .withColumn("bucket", TextOps.bm25Bucket(col("term")))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
    TextOps.bm25CorpusStats(docs, "text")
      .write.mode("overwrite").parquet(s"$dir/stats")
    val postings = spark.read.parquet(s"$dir/postings")
      .filter(terms.map(tm => col("bucket") === TextOps.bm25Bucket(lit(tm)))
        .reduce(_ || _))
      .drop("bucket")
    val stored = TextOps.bm25TopK(postings,
        spark.read.parquet(s"$dir/stats"), terms, k = 10)
      .as[(Long, Double, Int)].collect().toSeq.sortBy(_._3)
    assert(stored === inMem)
    assert(inMem.size === 10)
    intercept[IllegalArgumentException] {
      TextOps.bm25Search(docs, "text", "doc_id", Seq.empty, k = 5)
    }
  }

  test("bpeVocabulary + bpeTokenizeToIds: subword ids, OOV symbols → 0") {
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val train = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val merges = TextOps.bpeMerges(train, "text", numMerges = 4)
      .as[(Int, String, String, Long)].collect().map(m => (m._2, m._3)).toSeq
    // segmented corpus symbols: low(5): low | lower(2): low,e,r |
    // newest(6): n,e,w,est | widest(3): w,i,d,est
    val vocab = TextOps.bpeVocabulary(train, "text", merges)
      .as[(String, Long, Int)].collect().map(v => v._1 -> (v._2, v._3)).toMap
    assert(vocab("est") === ((9L, 1)))        // most frequent symbol
    assert(vocab("w")._1 === 9L)              // newest(6) + widest(3)
    assert(vocab("low")._1 === 7L)
    // encode an unseen doc AGAINST THE TRAIN VOCAB (inference shape):
    // 'h' was never in the training corpus → OOV
    val ids = TextOps.bpeTokenizeToIds(
        Seq((99L, "the lowest")).toDF("doc_id", "text"), "text", "doc_id",
        merges, TextOps.bpeVocabulary(train, "text", merges))
      .orderBy("word_pos", "seg_pos")
      .as[(Long, Int, Int, Int)].collect().toSeq
    // "the" → t,h,e ; "lowest" → low,est (merges apply)
    assert(ids.map(_._2).distinct === Seq(0, 1))
    assert(ids.count(_._2 == 0) === 3)
    assert(ids.filter(_._2 == 1).map(_._4) ===
      Seq(vocab("low")._2, vocab("est")._2))
    assert(ids.filter(_._2 == 0)(1)._4 === 0, "'h' is OOV → id 0")
  }

  test("bpe merge application is symbol-boundary anchored (suffix collision)") {
    // Hand-designed collision: "th"×10 + "the"×3 + "he"×6.
    //   merge 1: (t,h) 13  →  the = th|e, he = h|e
    //   merge 2: (h,e) 6   —  must NOT touch th|e (its pair is (th,e)!)
    //   merge 3: (th,e) 3  —  only exists if merge 2 left th|e intact
    // An unanchored pattern "h<sep>e" also matches inside "th<sep>e",
    // wrongly fusing "the" at merge 2 and erasing merge 3 entirely.
    val words = Seq.fill(10)("th") ++ Seq.fill(3)("the") ++ Seq.fill(6)("he")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val merges = TextOps.bpeMerges(df, "text", numMerges = 3)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(merges === Seq((1, "t", "h", 13L), (2, "h", "e", 6L), (3, "th", "e", 3L)))

    val table = Seq(("t", "h"), ("h", "e"))
    val segs = Seq("the", "he", "th").toDF("w")
      .select(TextOps.bpeSegment(col("w"), table).as("s")).as[Seq[String]].collect()
    assert(segs(0) === Seq("th", "e"), "merge (h,e) must not fire inside th|e")
    assert(segs(1) === Seq("he"))
    assert(segs(2) === Seq("th"))
  }

  test("bpe merge fuses adjacent repeats left-to-right in one pass") {
    // classic greedy order: a|a|a under (a,a) → aa|a, and a|a|a|a → aa|aa
    val segs = Seq("aaa", "aaaa").toDF("w")
      .select(TextOps.bpeSegment(col("w"), Seq(("a", "a"))).as("s"))
      .as[Seq[String]].collect()
    assert(segs(0) === Seq("aa", "a"))
    assert(segs(1) === Seq("aa", "aa"))
  }

  test("bpeMerges: stops below minPairCount and releases all caches") {
    val before = cachedIds
    val df = Seq((1L, "ab cd")).toDF("id", "text") // every pair count 1
    val merges = TextOps.bpeMerges(df, "text", numMerges = 5, minPairCount = 2L)
    assert(merges.count() === 0)
    val big = Seq.fill(3)((1L, "xy")).toDF("id", "text")
    assert(TextOps.bpeMerges(big, "text", numMerges = 5)
      .as[(Int, String, String, Long)].collect().toSeq === Seq((1, "x", "y", 3L)))
    assert((cachedIds -- before).isEmpty, "bpeMerges must leave nothing cached")
  }

  test("deflateRatio: boilerplate compresses low, noise high, empty → 1.0") {
    import graft.functions.VectorExprs
    val rnd = new scala.util.Random(3)
    val noise = (0 until 400).map(_ => rnd.nextPrintableChar()).mkString
    val rows = Seq(
      ("looped", "buy now! " * 100),
      ("prose", "The committee reviewed the quarterly results and proposed " +
        "several changes to the reporting process going forward."),
      ("noise", noise),
      ("empty", ""))
    val out = rows.toDF("kind", "text")
      .select(col("kind"), VectorExprs.deflateRatio(col("text")).as("r"))
      .as[(String, Double)].collect().toMap
    assert(out("looped") < 0.1, s"looped template should compress hard: ${out("looped")}")
    assert(out("prose") > out("looped"))
    assert(out("noise") > 0.5, s"near-random text barely compresses: ${out("noise")}")
    assert(out("empty") === 1.0)
  }

  test("ngramLmScore: add-one-smoothed bigram mean log-prob, short docs null") {
    val df = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x")).toDF("doc_id", "text")
    // corpus: C(a,b)=3 C(b,a)=1 C(b,c)=1; C(a·)=3 C(b·)=2; V=4
    // doc1 = (2·ln(4/7) + ln(1/3))/3 = −0.739281
    // doc2 = (ln(4/7) + ln(1/3))/2 = −0.829114
    val out = TextOps.ngramLmScore(df, "text", "doc_id").orderBy("doc_id")
      .as[(Long, Long, Option[Double])].collect()
    assert(out(0) === ((1L, 3L, Some(-0.739281))))
    assert(out(1) === ((2L, 2L, Some(-0.829114))))
    assert(out(2) === ((3L, 0L, None)))
  }

  test("scoreBuckets: tercile head/middle/tail with NULL → tail") {
    // scores 1..9: terciles at percentile(1/3)=3.667, (2/3)=6.333 →
    // head {7,8,9}, middle {4,5,6}, tail {1,2,3}; null joins tail
    val df = ((1 to 9).map(i => (i.toLong, Some(i.toDouble))) :+
      (10L, None: Option[Double])).toDF("id", "score")
    val out = TextOps.scoreBuckets(df, "score", "id")
      .as[(Long, Option[Double], String)].collect()
      .map(r => r._1 -> r._3).toMap
    assert((1L to 3L).forall(out(_) === "tail"))
    assert((4L to 6L).forall(out(_) === "middle"))
    assert((7L to 9L).forall(out(_) === "head"))
    assert(out(10L) === "tail")
  }

  // ---- DSIR integer layer: in-JVM exact replay of the whole pipeline ----

  /** Brute-force replay of the engine's hashed-feature extraction:
    * whitespace unigrams+bigrams over lower(trim(text)), bucket = first
    * four hex chars of md5 base-16 mod `buckets`. */
  private def dsirReplayBuckets(text: String, buckets: Int): Seq[Int] = {
    val ts = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val feats = ts ++ ts.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    feats.map { g =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      ((0 until 4).foldLeft(0L) { (a, i) =>
        a * 16 + "0123456789abcdef".indexOf(h(i))
      } % buckets).toInt
    }
  }

  private def dsirCorpus: (Seq[(Long, String)], Seq[(Long, String)]) = {
    val tgtVocab = "cat dog pet paw fur tail whisker collar leash bone"
    val offVocab = "bond yield swap rate hedge margin equity basis tenor spread"
    val raw =
      (0L until 10L).map(i => (i, tgtVocab)) ++
      (10L until 20L).map(i => (i, offVocab)) ++
      Seq((20L, ""), (21L, "   "))
    (raw, (0L until 5L).map(i => (i, tgtVocab)))
  }

  test("dsirStats: exact in-JVM replay of counts, cross-moments, and sign margin") {
    val (rawSeq, tgtSeq) = dsirCorpus
    val B = 1024
    val docB = rawSeq.flatMap { case (id, txt) =>
      dsirReplayBuckets(txt, B).map(b => (id, b))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cr = docB.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val ct = tgtSeq.flatMap { case (_, txt) => dsirReplayBuckets(txt, B) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (tr, tt) = (cr.values.sum, ct.values.sum)
    val expected = rawSeq.map { case (id, _) =>
      val mine = docB.collect { case ((d, b), c) if d == id => (b, c) }.toSeq
      val nf = mine.map(_._2).sum
      val sTgt = BigInt(mine.map { case (b, c) => c * ct.getOrElse(b, 0L) }.sum)
      val sRaw = BigInt(mine.map { case (b, c) => c * cr.getOrElse(b, 0L) }.sum)
      // linearized score: (tr+B)(s_tgt+nf) − (tt+B)(s_raw+nf)
      val margin = BigInt(tr + B) * (sTgt + nf) - BigInt(tt + B) * (sRaw + nf)
      id -> ((nf, sTgt, sRaw, margin))
    }.toMap

    val out = TextOps.dsirStats(rawSeq.toDF("doc_id", "text"),
        tgtSeq.toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Long, BigDecimal, BigDecimal, BigDecimal)].collect()
    assert(out.length === rawSeq.size, "one row per raw doc")
    out.foreach { case (id, nf, sTgt, sRaw, margin) =>
      val (enf, est, esr, em) = expected(id)
      assert(nf === enf, s"n_feats doc $id")
      assert(sTgt.toBigInt === est, s"s_tgt doc $id")
      assert(sRaw.toBigInt === esr, s"s_raw doc $id")
      assert(margin.toBigInt === em, s"margin doc $id")
    }
    // target-like docs must carry a strictly higher margin than
    // off-target docs (the property dsirSelect ranks on)
    val byId = out.map(r => r._1 -> r._5).toMap
    assert((0L until 10L).map(byId).min > (10L until 20L).map(byId).max)
    // featureless docs: all-zero row, not a dropped row
    assert(byId(20L) === BigDecimal(0) && byId(21L) === BigDecimal(0))
  }

  test("dsirStats: single feature pass via the doc-bucket persist, bounded residency") {
    // r20 optimization: the (doc, bucket) aggregate used to rely on
    // exchange reuse to serve its three consumers, but AQE stage
    // boundaries defeated the reuse on file-backed corpora (three full
    // feature passes measured per face). The aggregate is now persisted
    // for the operator's duration and released before return — pin the
    // residency contract: the RESULT is the only new cached frame, and
    // the annotated bucket table still broadcasts inside the cached plan.
    val before = cachedIds
    val raw = (0L until 40L).map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3}"))
      .toDF("doc_id", "text")
    val df = TextOps.dsirStats(raw, raw.limit(10), "text", "doc_id")
    assert(df.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE,
      "dsirStats result must be persisted (caller-unpersist contract)")
    assert((cachedIds -- before).size === 1,
      "the doc-bucket intermediate must be released before return — only " +
        "the result may stay cached")
    val inner = df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.toString
    }.mkString("\n")
    assert(inner.contains("BroadcastHashJoin"),
      s"annotated bucket table must broadcast onto the doc-bucket counts:\n$inner")
    df.unpersist(blocking = true)
    assert((cachedIds -- before).isEmpty, "unpersist must release the result")
  }

  test("dsirSelect: greedy budgeted selection replay — target-like kept, off-target dropped") {
    val (rawSeq, tgtSeq) = dsirCorpus
    val out = TextOps.dsirSelect(rawSeq.toDF("doc_id", "text"),
        tgtSeq.toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Long, BigDecimal, Long, Boolean)].collect()
    assert(out.length === rawSeq.size)
    // replay: order by (margin desc, doc_id), running n_feats, budget half
    val ordered = out.sortBy(r => (-r._3, r._1))
    val total = out.map(_._2).sum
    val budget = math.floor(0.5 * total.toDouble).toLong
    var cum = 0L
    ordered.foreach { case (id, nf, _, cumFeats, kept) =>
      cum += nf
      assert(cumFeats === cum, s"cum_feats doc $id")
      assert(kept === (cum <= budget), s"kept doc $id")
    }
    // the planted corpus is symmetric (10 target-like + 10 off-target
    // docs of equal length): the half budget keeps exactly the
    // target-like docs and drops every off-target doc
    val keptIds = out.filter(_._5).map(_._1).toSet
    assert((0L until 10L).forall(keptIds), s"target-like all kept: $keptIds")
    assert((10L until 20L).forall(i => !keptIds(i)), "off-target all dropped")
    // partition-independence: same result under a different layout
    val re = TextOps.dsirSelect(rawSeq.toDF("doc_id", "text").repartition(7),
        tgtSeq.toDF("doc_id", "text").repartition(3), "text", "doc_id")
      .as[(Long, Long, BigDecimal, Long, Boolean)].collect().sortBy(_._1)
    assert(re.sameElements(out.sortBy(_._1)),
      "selection must not depend on physical partitioning")
  }

  test("dsirResample: in-JVM Gumbel replay, seeded determinism, low-τ target enrichment") {
    val (rawSeq, tgtSeq) = dsirCorpus
    val rawDf = rawSeq.toDF("doc_id", "text")
    val tgtDf = tgtSeq.toDF("doc_id", "text")
    val k = 8
    val out = TextOps.dsirResample(rawDf, tgtDf, "text", "doc_id", k,
      temperature = 1.0, seed = 42L)
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    assert(out.length === k && out.map(_._3).toSeq === (1 to k))
    // replay: engine logw values + md5 uniform + key arithmetic
    val logw = TextOps.dsirWeights(rawDf, tgtDf, "text", "doc_id")
      .as[(Long, Long, BigDecimal)].collect().map(r => r._1 -> r._3.toDouble).toMap
    def key(id: Long): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"42:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val v = java.lang.Long.parseLong(h.take(13), 16)
      val u = (v + 0.5) / 4503599627370496.0
      logw(id) / 1.0 - math.log(-math.log(u))
    }
    val expected = rawSeq.map(_._1).map(id => (id, key(id)))
      .sortBy { case (id, s) => (-s, id) }.take(k)
    assert(out.map(_._1).toSeq === expected.map(_._1).toSeq,
      s"selection must replay the seeded Gumbel keys: got ${out.toSeq}")
    out.zip(expected).foreach { case ((_, gk, _), (_, ek)) =>
      assert(math.abs(gk - ek) < 1e-9)
    }
    // same seed → identical; different seed → a different draw
    val again = TextOps.dsirResample(rawDf, tgtDf, "text", "doc_id", k,
      temperature = 1.0, seed = 42L).as[(Long, Double, Int)].collect().sortBy(_._3)
    assert(again.toSeq === out.toSeq)
    val reseeded = TextOps.dsirResample(rawDf, tgtDf, "text", "doc_id", k,
      temperature = 1.0, seed = 7L).as[(Long, Double, Int)].collect().sortBy(_._3)
    assert(reseeded.map(_._1).toSeq !== out.map(_._1).toSeq)
    // τ → 0 sharpens toward pure top-weight: no off-target doc survives
    // (featureless docs carry logw = 0 — neutral, ABOVE the negative
    // target weights under smoothing — so the admissible set is
    // target-like ∪ featureless, never the strongly-negative off-target)
    val sharp = TextOps.dsirResample(rawDf, tgtDf, "text", "doc_id", k = 5,
      temperature = 0.001, seed = 42L).as[(Long, Double, Int)].collect()
    assert(sharp.forall(r => r._1 < 10L || r._1 >= 20L),
      s"low-temperature resampling must drop off-target docs: ${sharp.toSeq}")
  }

  test("dsirWeights: in-JVM ln replay (the analytic the hashed stats underpin)") {
    val (rawSeq, tgtSeq) = dsirCorpus
    val B = 1024
    val docB = rawSeq.flatMap { case (id, txt) =>
      dsirReplayBuckets(txt, B).map(b => (id, b))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cr = docB.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val ct = tgtSeq.flatMap { case (_, txt) => dsirReplayBuckets(txt, B) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (tr, tt) = (cr.values.sum, ct.values.sum)
    def lr(b: Int): BigDecimal = BigDecimal(
      math.log((ct.getOrElse(b, 0L) + 1).toDouble / (tt + B)) -
        math.log((cr.getOrElse(b, 0L) + 1).toDouble / (tr + B)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expected = rawSeq.map { case (id, _) =>
      id -> docB.collect { case ((d, b), c) if d == id => c * lr(b) }
        .foldLeft(BigDecimal(0))(_ + _).setScale(6)
    }.toMap
    val out = TextOps.dsirWeights(rawSeq.toDF("doc_id", "text"),
        tgtSeq.toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Long, BigDecimal)].collect()
    out.foreach { case (id, _, logw) =>
      assert(logw === expected(id), s"logw doc $id")
    }
  }

  test("scoreBuckets: boundary value at an exact threshold goes UP (>= semantics)") {
    // 4 values: percentile(2/3) of {1,2,3,4} = 3.0 exactly → 3 is head
    val df = Seq(1, 2, 3, 4).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
    val out = TextOps.scoreBuckets(df, "score", "id")
      .as[(Long, Double, String)].collect().map(r => r._1 -> r._3).toMap
    assert(out(3L) === "head" && out(4L) === "head")
    assert(out(2L) === "middle" && out(1L) === "tail")
  }

  test("cmsTermCounts: estimate >= exact for every probe (the CMS guarantee), exact top-k probed") {
    val df = (Seq.fill(7)("alpha beta") ++ Seq.fill(3)("beta gamma") ++
      Seq("delta")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = TextOps.cmsTermCounts(df, "text", depth = 4, width = 256,
        topK = 3)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // exact counts: beta 10, alpha 7, gamma 3, delta 1 → top-3 probed
    assert(out.keySet === Set("beta", "alpha", "gamma"))
    assert(out("beta")._1 === 10L && out("alpha")._1 === 7L &&
      out("gamma")._1 === 3L)
    out.foreach { case (term, (exact, est, over)) =>
      assert(est >= exact, s"CMS under-counted $term: est=$est exact=$exact")
      assert(over === est - exact)
      // 4 terms into 4×256 cells: total mass bounds any overcount
      assert(est <= 21L, s"$term est=$est exceeds total occurrence mass")
    }
  }

  test("cmsMergedCounts ≡ direct sketch over the union (cell sums are linear)") {
    val df = (Seq.fill(5)(("a", "alpha beta")) ++ Seq.fill(3)(("b", "beta gamma")) ++
      Seq.fill(2)(("c", "delta"))).zipWithIndex
      .map { case ((src, t), i) => (i.toLong, src, t) }.toDF("id", "source", "text")
    val merged = TextOps.cmsMergedCounts(df, "text", "source", Seq("a", "b"),
        depth = 4, width = 64, topK = 4)
      .as[(String, Long, Long, Long)].collect().toSet
    val direct = TextOps.cmsTermCounts(df.filter(col("source").isin("a", "b")),
        "text", depth = 4, width = 64, topK = 4)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(merged === direct, s"merge != direct:\n$merged\n$direct")
    // the 'c' group never entered the merged sketch
    assert(!merged.exists(_._1 == "delta"))
    intercept[IllegalArgumentException] {
      TextOps.cmsMergedCounts(df, "text", "source", Seq.empty)
    }
    // duplicated group mentions must not double-count cells — the law
    // holds for any caller input
    val dup = TextOps.cmsMergedCounts(df, "text", "source",
        Seq("a", "b", "a"), depth = 4, width = 64, topK = 4)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(dup === direct, s"dup groups broke merge ≡ direct:\n$dup\n$direct")
  }

  test("cmsTermCounts: depth-1 width-2 pigeonholes terms — estimate = bucket mass, still >= exact") {
    // Tiny sketch forces collisions deterministically: every estimate is
    // the full mass of its single bucket, so sum(est over probes) >= total
    // occurrences whenever both buckets are probed — the degenerate regime
    // the (depth, width) parameters exist to avoid.
    val df = Seq((1L, "a b c d a b a")).toDF("id", "text")
    val out = TextOps.cmsTermCounts(df, "text", depth = 1, width = 2,
        topK = 4)
      .as[(String, Long, Long, Long)].collect()
    assert(out.length === 4)
    out.foreach { case (term, exact, est, _) =>
      assert(est >= exact, s"$term est=$est < exact=$exact")
    }
    assert(out.map(_._3).sum >= 7L)
    intercept[IllegalArgumentException] {
      TextOps.cmsTermCounts(df, "text", width = 1)
    }
  }

  test("readabilitySignals: hand-computed counts and Flesch score; " +
      "empty and sentence-less docs yield NULL scores") {
    // "See spot run. Go!" → 4 words, 2 terminator runs, syllable groups:
    // see(1) spot(1) run(1) go(1) = 4
    val df = Seq((1L, "See spot run. Go!"), (2L, ""), (3L, "no terminator"))
      .toDF("doc_id", "text")
    val out = TextOps.readabilitySignals(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(out(1L)._1 === 4L && out(1L)._2 === 2L && out(1L)._3 === 4L)
    // 206.835 − 1.015·(4/2) − 84.6·(4/4) = 120.205
    assert(math.abs(out(1L)._4.get - 120.205) < 1e-9)
    assert(out(2L) === ((0L, 0L, 0L, None)))   // empty doc: all zero, NULL
    assert(out(3L)._2 === 0L && out(3L)._4 === None) // no sentences → NULL
  }

  test("cooccurrenceCounts: hand-computed window pairs — canonical order, " +
      "self-pairs excluded, case-folded") {
    // tokens a b c a; window 2 → (a,b)@0-1, (a,c)@0-2, (b,c)@1-2,
    // (b,a)@1-3 canonicalizes to (a,b), (c,a)@2-3 to (a,c); (a,a)@0-3 is
    // outside the window anyway
    val df = Seq((1L, "a B c A")).toDF("doc_id", "text")
    val out = TextOps.cooccurrenceCounts(df, "text", "doc_id", window = 2)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out === Map(("a", "b") -> 2L, ("a", "c") -> 2L, ("b", "c") -> 1L))
  }

  test("cooccurrenceCounts: identical-token pairs never count, window 1 " +
      "is adjacency, empty/blank docs contribute nothing") {
    val df = Seq((1L, "x x y"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    // window 2: (x,x)@0-1 excluded; (x,y)@0-2 and (x,y)@1-2 count
    val w2 = TextOps.cooccurrenceCounts(df, "text", "doc_id", window = 2)
      .as[(String, String, Long)].collect()
    assert(w2.toSeq === Seq(("x", "y", 2L)))
    // window 1: only the adjacent (x,y)@1-2 survives
    val w1 = TextOps.cooccurrenceCounts(df, "text", "doc_id", window = 1)
      .as[(String, String, Long)].collect()
    assert(w1.toSeq === Seq(("x", "y", 1L)))
    intercept[IllegalArgumentException] {
      TextOps.cooccurrenceCounts(df, "text", "doc_id", window = 0)
    }
  }
}
