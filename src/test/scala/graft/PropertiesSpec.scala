package graft

import graft.dedup.Dedup
import graft.expr.Exprs
import graft.ops.Ops
import graft.quality.Quality
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants (SURVEY.md §5): melt/pivot cell counts, dedup
  * idempotence, PK-gate safety after dedup, currency-parse round-trip,
  * surrogate-key density. Each property runs bounded Spark jobs on tiny
  * frames over the shared test session. */
object PropertiesSpec extends Properties("graft") {

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  propertyWithSeed("melt row count = non-null wide cells", None) = {
    val cellGen = Gen.option(Gen.choose(-1e6, 1e6))
    forAll(cellGen, cellGen, cellGen, cellGen) {
      (a: Option[Double], b: Option[Double], c: Option[Double], d: Option[Double]) =>
        val wide = Seq((1, a, b, c, d)).toDF("id", "2001", "2002", "2003", "2004")
        Ops.melt(wide, Seq("id"), "yr", "v").count() ==
          Seq(a, b, c, d).count(_.isDefined)
    }
  }

  propertyWithSeed("dedupKeys idempotent, one row per key", None) =
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 1000)))) {
      pairs: List[(Int, Int)] =>
        pairs.isEmpty || {
          val df = pairs.toDF("k", "v")
          val once = Ops.dedupKeys(df, Seq("k"), Seq(col("v")))
          val a = once.orderBy("k", "v").as[(Int, Int)].collect()
          val twice = Ops.dedupKeys(once, Seq("k"), Seq(col("v")))
            .orderBy("k", "v").as[(Int, Int)].collect()
          a.sameElements(twice) &&
            a.map(_._1).distinct.length == a.length &&
            a.length == pairs.map(_._1).distinct.length
        }
    }

  propertyWithSeed("checkPrimaryKey safe after dedupKeys on null-free keys", None) =
    forAll(Gen.listOfN(30, Gen.zip(Gen.choose(0, 8), Gen.alphaStr))) {
      rows: List[(Int, String)] =>
        rows.isEmpty || {
          val deduped = Ops.dedupKeys(rows.toDF("k", "v"), Seq("k"), Seq(col("v")))
          Quality.checkPrimaryKey(deduped, Seq("k"))
          true
        }
    }

  propertyWithSeed("currency format -> moneyToDouble round-trip", None) =
    forAll(Gen.choose(0.0, 9999999.0)) { amount: Double =>
      val rounded = math.round(amount * 100) / 100.0
      val parsed = Seq(rounded).toDF("x")
        .select(Exprs.moneyToDouble(concat(lit("$"), format_number(col("x"), 2))))
        .as[Double].head()
      math.abs(parsed - rounded) < 1e-9
    }

  propertyWithSeed("surrogate keys dense, 0-based, 1:1 with distinct keys", None) =
    forAll(Gen.listOfN(25, Gen.choose(0, 6))) { ks: List[Int] =>
      ks.isEmpty || {
        val out = Ops.surrogateKey(ks.map(Tuple1(_)).toDF("k"), Seq("k"), "id")
          .orderBy("id").as[(Int, Long)].collect()
        out.map(_._2).toSeq == out.indices.map(_.toLong).toSeq &&
          out.map(_._1).distinct.length == out.length &&
          out.length == ks.distinct.length
      }
    }

  propertyWithSeed("dedupKeysAgg ≡ window dedupKeys on unique tie-breaks", None) =
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 1000000)))) {
      pairs: List[(Int, Int)] =>
        val uniq = pairs.distinctBy(_._2) // unique tie-break values
        uniq.isEmpty || {
          val df = uniq.toDF("k", "v").repartition(3)
          val win = Ops.dedupKeys(df, Seq("k"), Seq(col("v")))
            .orderBy("k").as[(Int, Int)].collect()
          val agg = Ops.dedupKeysAgg(df, Seq("k"), Seq(col("v")))
            .orderBy("k").as[(Int, Int)].collect()
          win.sameElements(agg)
        }
    }

  propertyWithSeed("deterministicSplit: stable, total, and label-correct for any keys", None) =
    forAll(Gen.listOfN(40, Gen.choose(0L, 1000000L)), Gen.choose(0, 100)) {
      (ks: List[Long], trainPct: Int) =>
        ks.isEmpty || {
          val valPct = (100 - trainPct) / 2
          val df = ks.map(Tuple1(_)).toDF("k")
          val once = Ops.deterministicSplit(df, "k", trainPct, valPct)
            .orderBy("k").as[(Long, String)].collect()
          val again = Ops.deterministicSplit(df.repartition(3), "k", trainPct, valPct)
            .orderBy("k").as[(Long, String)].collect()
          once.sameElements(again) &&                       // run/partition stable
            once.length == ks.length &&                     // total: every row labeled
            once.forall(r => Set("train", "val", "test")(r._2)) &&
            (trainPct > 0 || once.forall(_._2 != "train"))  // 0% train → none
        }
    }

  propertyWithSeed("chunk is lossless: stride prefixes reassemble the document", None) =
    forAll(Gen.choose(1, 600), Gen.choose(0L, 1000L)) { (len: Int, seed: Long) =>
      val rnd = new scala.util.Random(seed)
      val txt = Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
      val chunks = graft.text.TextOps.chunk(
          Seq((1L, txt)).toDF("doc_id", "text"), "text", "doc_id",
          size = 64, overlap = 16)
        .orderBy("chunk_no").select("chunk").as[String].collect()
      val stride = 64 - 16
      val rebuilt = chunks.dropRight(1).map(_.take(stride)).mkString + chunks.last
      rebuilt == txt
    }

  propertyWithSeed("saltedJoin ≡ plain join for any key distribution", None) =
    forAll(Gen.listOfN(60, Gen.choose(0, 4)), Gen.choose(1, 8)) {
      (ks: List[Int], salts: Int) =>
        ks.isEmpty || {
          val large = ks.zipWithIndex.toDF("k", "v")
          val dim = Seq((0, "a"), (1, "b"), (2, "c")).toDF("k", "name")
          val plain = large.join(dim, Seq("k")).orderBy("v")
            .collect().map(_.toSeq).toSeq
          val salted = Ops.saltedJoin(large, dim, Seq("k"), salts).orderBy("v")
            .collect().map(_.toSeq).toSeq
          salted == plain
        }
    }

  propertyWithSeed("duplicateClusters ≡ union-find on random pair graphs", None) =
    forAll(Gen.choose(4, 16),
           Gen.listOfN(12, Gen.zip(Gen.choose(0, 15), Gen.choose(0, 15)))) {
      (n: Int, rawPairs: List[(Int, Int)]) =>
        val pairs = rawPairs.map { case (a, b) => (a.toLong % n, b.toLong % n) }
          .filter { case (a, b) => a != b }
        val nodes = (0L until n.toLong).toDF("id")
        val out = Dedup.duplicateClusters(nodes,
          "id", pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
            .toDF("id_a", "id_b"))
        val got = out.as[(Long, Long)].collect().toMap
        out.unpersist(blocking = true)

        // reference: sequential union-find with path compression
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = {
          var r = x; while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val roots = (0 until n).map(find)
        // canonical label = min member id per component
        val minOfRoot = (0 until n).groupBy(roots).map { case (r, ms) => r -> ms.min.toLong }
        val expected = (0 until n).map(i => i.toLong -> minOfRoot(roots(i))).toMap
        got == expected
    }

  propertyWithSeed("canonicalizeUrl is idempotent", None) = {
    val urlGen = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS")
      host <- Gen.oneOf("Example.COM", "a.b.ORG", "h.io")
      path <- Gen.oneOf("", "/x", "/X/y/", "/p/")
      q <- Gen.oneOf("", "?id=1", "?utm_s=1", "?utm_s=1&id=2", "?id=2&utm_m=x")
      frag <- Gen.oneOf("", "#f", "#Frag/part")
    } yield s"$scheme://$host$path$q$frag"
    forAll(urlGen) { u: String =>
      val once = Seq(u).toDF("u")
        .select(graft.text.TextOps.canonicalizeUrl(col("u"))).as[String].head()
      val twice = Seq(once).toDF("u")
        .select(graft.text.TextOps.canonicalizeUrl(col("u"))).as[String].head()
      once == twice
    }
  }

  propertyWithSeed("tokenizeToIds: ids bounded by vocab, row count = non-empty tokens", None) =
    forAll(Gen.listOfN(6, Gen.listOfN(5, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")))) {
      docs: List[List[String]] =>
        docs.isEmpty || {
          val df = docs.zipWithIndex
            .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
            .toDF("doc_id", "text")
          val vocabSize = 3
          val out = graft.text.TextOps.tokenizeToIds(df, "text", "doc_id", vocabSize)
            .as[(Long, Int, Int)].collect()
          out.length == docs.map(_.size).sum &&
            out.forall { case (_, _, id) => id >= 0 && id <= vocabSize }
        }
    }

  propertyWithSeed("bpeSegment never loses characters: segments concat back to the word", None) = {
    val wordGen = Gen.nonEmptyListOf(Gen.oneOf('l', 'o', 'w', 'e', 's', 't'))
      .map(_.mkString).map(_.take(12))
    forAll(Gen.listOfN(4, wordGen)) { words: List[String] =>
      words.isEmpty || {
        val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
          .toDF("id", "text")
        val merges = graft.text.TextOps.bpeMerges(df, "text", numMerges = 3,
            minPairCount = 1L)
          .as[(Int, String, String, Long)].collect()
          .map(m => (m._2, m._3)).toSeq
        val out = words.toDF("w")
          .select(concat_ws("", graft.text.TextOps.bpeSegment(col("w"), merges)))
          .as[String].collect()
        out.toSeq == words
      }
    }
  }

  propertyWithSeed("ngramLmScore: smoothed mean log-prob is never positive", None) = {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta")
    forAll(Gen.listOfN(5, Gen.listOfN(6, wordGen))) { docs: List[List[String]] =>
      docs.isEmpty || {
        val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
          .toDF("doc_id", "text")
        graft.text.TextOps.ngramLmScore(df, "text", "doc_id")
          .as[(Long, Long, Option[Double])].collect()
          .forall { case (_, n, s) => (n == 0 && s.isEmpty) || s.exists(_ <= 0.0) }
      }
    }
  }

  propertyWithSeed("bpeSegment ≡ classic greedy merge on symbol arrays", None) = {
    // Independent reference implementation of BPE merge application: fold
    // each merge over the symbol ARRAY, fusing adjacent (l, r) occurrences
    // left-to-right non-overlapping. The engine's anchored regexp form
    // must agree for ANY word and merge table — the unanchored form fails
    // this on suffix collisions (e.g. word "aba" after (a,b) under (b,a)).
    def refSegment(word: String, merges: Seq[(String, String)]): Vector[String] = {
      var syms = word.map(_.toString).toVector
      for ((l, r) <- merges) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val wordGen = Gen.choose(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))
    val symGen = Gen.oneOf("a", "b", "aa", "ab", "ba", "bb")
    val mergesGen = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.zip(symGen, symGen)))
    forAll(wordGen, mergesGen) { (word: String, merges: List[(String, String)]) =>
      val got = Seq(word).toDF("w")
        .select(graft.text.TextOps.bpeSegment(col("w"), merges).as("s"))
        .as[Seq[String]].head()
      got == refSegment(word, merges) && got.mkString == word
    }
  }

  propertyWithSeed("packSequences layout: contiguous, in-range offsets, ordered spans", None) = {
    val countsGen = Gen.listOfN(12, Gen.choose(0, 9))
    forAll(countsGen, Gen.choose(1, 6)) { (counts: List[Int], seqLen: Int) =>
      counts.isEmpty || {
        val docs = counts.zipWithIndex
          .map { case (n, i) => (i.toLong, Seq.fill(n)("w").mkString(" ")) }
          .toDF("doc_id", "text")
        val rows = graft.text.TextOps
          .packSequences(docs, "text", "doc_id", seqLen = seqLen, nShards = 2)
          .orderBy("shard", "id")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
        val perShard = rows.groupBy(_._2).values.forall { sh =>
          // positions are contiguous: each doc starts where the previous ended
          sh.sliding(2).forall {
            case Seq((_, _, n1, s1, o1, _), (_, _, _, s2, o2, _)) =>
              s2 * seqLen + o2 == s1 * seqLen + o1 + n1
            case _ => true
          }
        }
        perShard && rows.forall { case (_, _, n, s, o, e) =>
          o >= 0 && o < seqLen && e >= s && n >= 0 &&
            // a doc's last token lands in end_seq
            (n == 0 || e * seqLen <= s * seqLen + o + n - 1)
        }
      }
    }
  }

  propertyWithSeed("densifyOPH is idempotent and sentinel-free on non-empty signatures", None) = {
    val sigGen = Gen.listOfN(8,
      Gen.oneOf(Gen.const(Long.MaxValue), Gen.choose(Long.MinValue, Long.MaxValue - 1)))
    forAll(Gen.listOfN(4, sigGen)) { sigs: List[List[Long]] =>
      sigs.isEmpty || {
        val df = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "sig")
        val once = Dedup.densifyOPH(df, numBins = 8)
          .orderBy("id").as[(Long, Seq[Long])].collect().toSeq
        val twice = Dedup.densifyOPH(Dedup.densifyOPH(df, numBins = 8), numBins = 8)
          .orderBy("id").as[(Long, Seq[Long])].collect().toSeq
        once == twice && once.zip(sigs).forall { case ((_, d), raw) =>
          // any non-sentinel bin ⇒ the densified signature has no sentinels
          raw.forall(_ == Long.MaxValue) || d.forall(_ != Long.MaxValue)
        }
      }
    }
  }

  propertyWithSeed("portableHash60 stays in [0, 2^60) for arbitrary strings", None) =
    forAll(Gen.listOfN(8, Gen.asciiPrintableStr)) { ss: List[String] =>
      ss.isEmpty || {
        val hs = ss.toDF("t")
          .select(Dedup.portableHash60(col("t")).as("h")).as[Long].collect()
        hs.forall(h => h >= 0L && h < (1L << 60))
      }
    }

  propertyWithSeed("groupPercentRank ≡ window percent_rank on random grouped data", None) =
    forAll(Gen.listOfN(30, Gen.zip(Gen.choose(0, 3), Gen.choose(0, 8)))) {
      pairs: List[(Int, Int)] =>
        pairs.isEmpty || {
          val df = pairs.zipWithIndex
            .map { case ((g, v), i) => (i.toLong, s"g$g", v.toDouble) }
            .toDF("id", "g", "v")
          val scalable = Quality.groupPercentRank(df, "g", "v")
            .select("id", "pctile").as[(Long, Double)].collect().toMap
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("g").orderBy("v")
          val naive = df.withColumn("p", round(percent_rank().over(w), 6))
            .select("id", "p").as[(Long, Double)].collect().toMap
          scalable == naive
        }
    }

  propertyWithSeed("merkleDiff: equal inputs all 'same'; any single-row value change flips ≥ 1 bucket", None) =
    forAll(Gen.choose(5, 40), Gen.choose(0, 1000)) { (n: Int, delta: Int) =>
      val rows = (0 until n).map(i => (i.toLong, (i * 7 + 3).toLong))
      val a = rows.toDF("k", "v")
      val b = rows.map { case (k, v) =>
        (k, if (k == n / 2) v + delta + 1 else v) }.toDF("k", "v")
      val self = Ops.merkleDiff(a, a, "k", Seq("v"), buckets = 8)
        .select("status").as[String].collect()
      val mut = Ops.merkleDiff(a, b, "k", Seq("v"), buckets = 8)
        .select("status").as[String].collect()
      self.forall(_ == "same") && mut.count(_ == "changed") == 1
    }

  propertyWithSeed("winnowing detection law: a shared substring of length >= w+k-1 always pairs", None) =
    forAll(Gen.choose(0, 1000), Gen.alphaLowerStr.suchThat(_.length >= 20)) {
      (seed: Int, shared0: String) =>
        val shared = shared0.take(40)
        // guarantee >= w+k-1 = 13 shared chars with k=8, w=6
        shared.length < 13 || {
          val rnd = new scala.util.Random(seed)
          def noise() = (0 until 30).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
          val docs = Seq((1L, s"${noise()} $shared"), (2L, s"$shared ${noise()}"))
            .toDF("doc_id", "text")
          Dedup.winnowNearDups(docs, "text", "doc_id",
              shingleK = 8, window = 6, minShared = 1)
            .select("id_a", "id_b").as[(Long, Long)].collect()
            .contains((1L, 2L))
        }
    }

  propertyWithSeed("fuzzy-join q-gram prefix blocking ≡ unblocked all-pairs", None) =
    forAll(Gen.choose(0L, Long.MaxValue)) { seed: Long =>
      val rnd = new scala.util.Random(seed)
      val alpha = "abcd" // tiny alphabet → dense near-matches + shared grams
      def word() = (0 until 6 + rnd.nextInt(5))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      def edit(s: String): String = rnd.nextInt(3) match {
        case 0 => val i = rnd.nextInt(s.length) // substitute
          s.updated(i, alpha(rnd.nextInt(alpha.length)))
        case 1 => val i = rnd.nextInt(s.length + 1) // insert
          s.substring(0, i) + alpha(rnd.nextInt(alpha.length)) + s.substring(i)
        case _ => val i = rnd.nextInt(s.length) // delete
          s.substring(0, i) + s.substring(i + 1)
      }
      val base = (0 until 12).map(_ => word())
      val left = base.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("lid", "lname")
      val right = (base.map(edit) ++ (0 until 6).map(_ => word())).zipWithIndex
        .map { case (w, i) => (100L + i, w) }.toDF("rid", "rname")
      val blocked = Ops.fuzzyJoinEditDistance(left, right, "lid", "rid",
          "lname", "rname", q = 3, maxDist = 1)
        .select("left_id", "right_id").as[(Long, Long)].collect().toSet
      val brute = left.filter(length(col("lname")) >= 6)
        .crossJoin(right.filter(length(col("rname")) >= 6))
        .filter(levenshtein(col("lname"), col("rname")) <= 1)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      blocked == brute
    }

  propertyWithSeed("batched BPE trainer ≡ sequential at random widths", None) =
    forAll(Gen.choose(0L, Long.MaxValue), Gen.choose(1, 8)) {
      (seed: Long, maxBatch: Int) =>
        val rnd = new scala.util.Random(seed)
        val alpha = "abc" // small alphabet → frequent ties and overlaps,
                          // the regime where batching could diverge
        def word() = (0 until 2 + rnd.nextInt(5))
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
        val docs = (0 until 10)
          .map(i => (i.toLong, (0 until 1 + rnd.nextInt(4)).map(_ => word()).mkString(" ")))
          .toDF("id", "text")
        val seqTable = graft.text.TextOps.bpeMerges(docs, "text", numMerges = 6)
          .as[(Int, String, String, Long)].collect().toSeq
        val bat = graft.text.TextOps.bpeMergesBatched(docs, "text",
            numMerges = 6, maxBatch = maxBatch)
          .as[(Int, String, String, Long)].collect().toSeq
        bat == seqTable
    }

  // ScalaCheck's default 100 cases × 5 properties × Spark job latency is
  // minutes of wall time for no extra coverage — 20 cases each is plenty
  // for these structural invariants.
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(20)

  // keep Prop import used even if a property is commented out during dev
  private val _unused: Prop = Prop.passed
}
