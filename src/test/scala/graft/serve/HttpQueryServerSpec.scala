package graft.serve

import graft.SparkSpec
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** End-to-end HTTP tests: a real server on an ephemeral localhost port, a
  * real JDK HttpClient — the reference's notebook probe
  * (FinalProject.ipynb cell-2: POST {table, limit:50} → 50 rows) replayed
  * against the engine. */
class HttpQueryServerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val client = HttpClient.newHttpClient()

  private def post(port: Int, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/get_data"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def withServer(maxLimit: Int = 1000)(f: Int => Unit): Unit = {
    val svc = QueryService.overParquetDir(spark, "/root/testdata/sf0.001",
      Seq("nation", "orders"), Map("nation" -> Seq("n_nationkey"),
        "orders" -> Seq("o_orderkey")))
    val srv = new HttpQueryServer(svc, maxLimit)
    val port = srv.start()
    try f(port) finally srv.stop()
  }

  test("golden probe: POST {table, limit:50} returns exactly 50 ordered rows") {
    withServer() { port =>
      val r = post(port, """{"table": "orders", "limit": 50}""")
      assert(r.statusCode() === 200)
      assert(r.headers().firstValue("Content-Type").orElse("")
        .startsWith("application/json"))
      assert(r.body().contains(""""limit_applied":50"""))
      assert(r.body().contains(""""o_orderkey""""))
      // 50 row objects, each carrying the sort key as a field
      assert(raw""""o_orderkey":""".r.findAllIn(r.body()).size === 50)
      // deterministic order: the first row is the smallest key
      assert(r.body().contains(""""rows":[{"o_orderkey":0,"""))
    }
  }

  test("quoted limit (the reference client sends strings) still works") {
    withServer() { port =>
      val r = post(port, """{"table": "nation", "limit": "3"}""")
      assert(r.statusCode() === 200)
      assert(r.body().contains(""""limit_applied":3"""))
    }
  }

  test("limit is capped at maxLimit — no unbounded collect") {
    withServer(maxLimit = 5) { port =>
      val r = post(port, """{"table": "orders", "limit": 999999}""")
      assert(r.statusCode() === 200)
      assert(r.body().contains(""""limit_applied":5"""))
    }
  }

  test("unknown table is a 400 with the whitelist, not SQL or a stack trace") {
    withServer() { port =>
      val r = post(port, """{"table": "final_project_secrets", "limit": 5}""")
      assert(r.statusCode() === 400)
      assert(r.body().contains("known: nation, orders"))
    }
  }

  test("malformed body / injection-shaped table / wrong method rejected") {
    withServer() { port =>
      assert(post(port, """{"limit": 5}""").statusCode() === 400)
      // quoting/semicolons don't match the identifier pattern — the
      // injection string never even reaches the registry lookup
      assert(post(port, """{"table": "x; DROP TABLE y", "limit": 5}""")
        .statusCode() === 400)
      val get = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/get_data"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() === 405)
    }
  }

  private def postAnn(port: Int, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ann"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /ann probes the stored IVF index end to end (planted nearest wins)") {
    // 40 seeded vectors + an exact copy of vec 7 at id 9007: any query
    // equal to vec 7 must rank ids {7, 9007} in its top-2 with score 1.0.
    val dim = 8
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val corpus = ((0 until 40).map(i => (i.toLong, vec(i))) :+ ((9007L, vec(7))))
      .toDF("vec_id", "embedding")
    val idx = graft.sim.Ivf.buildIndex(corpus, nlist = 4)
    val root = java.nio.file.Files.createTempDirectory("ann_idx_").toString
    idx.centroids.write.mode("overwrite").parquet(s"$root/centroids")
    idx.assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/assigned")
    val ann = AnnService.overParquetDir(spark, root, maxK = 10, nprobe = 4)
    assert(ann.dim === dim)
    val svc = QueryService.overParquetDir(spark, "/root/testdata/sf0.001",
      Seq("nation"), Map("nation" -> Seq("n_nationkey")))
    val srv = new HttpQueryServer(svc, 1000, Some(ann))
    val port = srv.start()
    try {
      val q = vec(7).mkString("[", ",", "]")
      val r = postAnn(port, s"""{"vec": $q, "k": 2}""")
      assert(r.statusCode() === 200, r.body())
      val ids = """"id":(-?\d+)""".r.findAllMatchIn(r.body())
        .map(_.group(1).toLong).toSet
      assert(ids === Set(7L, 9007L), r.body())
      assert(r.body().contains(""""score":1.0"""), r.body())
      // dimension mismatch and malformed vectors are 400s, not stack traces
      assert(postAnn(port, """{"vec": [1.0, 2.0], "k": 2}""").statusCode() === 400)
      assert(postAnn(port, s"""{"vec": [1; DROP], "k": 2}""").statusCode() === 400)
      assert(postAnn(port, """{"k": 2}""").statusCode() === 400)
      // k is capped at the service's maxK rather than erroring
      val big = postAnn(port, s"""{"vec": $q, "k": 9999}""")
      assert(big.statusCode() === 200)
      assert(big.body().contains(""""k":10"""), big.body())
      assert(""""rank":(\d+)""".r.findAllMatchIn(big.body())
        .map(_.group(1).toInt).max <= 10)
      // k:0 clamps to 1 AND the echoed k reports the clamped value
      val zero = postAnn(port, s"""{"vec": $q, "k": 0}""")
      assert(zero.statusCode() === 200)
      assert(zero.body().contains(""""k":1"""), zero.body())
      assert(""""id":(-?\d+)""".r.findAllMatchIn(zero.body()).size === 1)
    } finally srv.stop()
  }

  private def postPath(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /ann/{name}: flat and RP backends serve side by side " +
      "(golden probe each)") {
    // Same planted-duplicate corpus as the flat test; the RP backend is
    // opened over the stored reduced frame (sim_rp_probe's layout) with
    // shortlist ≥ |corpus|, so its answer is provably exact and the SAME
    // golden assertion pins both backends.
    val dim = 8
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val corpus = ((0 until 40).map(i => (i.toLong, vec(i))) :+ ((9007L, vec(7))))
      .toDF("vec_id", "embedding")
    val idx = graft.sim.Ivf.buildIndex(corpus, nlist = 4)
    val flatRoot = java.nio.file.Files.createTempDirectory("ann_flat_").toString
    idx.centroids.write.mode("overwrite").parquet(s"$flatRoot/centroids")
    idx.assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$flatRoot/assigned")
    val flat = AnnService.overParquetDir(spark, flatRoot, maxK = 10, nprobe = 4)
    val rpRoot = java.nio.file.Files.createTempDirectory("ann_rp_").toString
    graft.sim.Similarity.rpReduce(corpus, "vec_id", "embedding",
        dimOut = 8, seed = 42)
      .write.mode("overwrite").parquet(s"$rpRoot/reduced")
    val rp = AnnRpService.overParquetDir(spark, rpRoot, maxK = 10,
      shortlist = 41, seed = 42)
    assert(rp.dim === dim)
    val sqRoot = java.nio.file.Files.createTempDirectory("ann_sq_").toString
    graft.sim.Sq.buildIndex(corpus).quantized
      .write.mode("overwrite").parquet(s"$sqRoot/quantized")
    val sq = AnnSqService.overParquetDir(spark, sqRoot, maxK = 10)
    assert(sq.dim === dim)
    val svc = QueryService.overParquetDir(spark, "/root/testdata/sf0.001",
      Seq("nation"), Map("nation" -> Seq("n_nationkey")))
    val srv = new HttpQueryServer(svc, 1000, Some(flat), None,
      annBackends = Map("flat" -> flat, "rp" -> rp, "sq" -> sq))
    val port = srv.start()
    try {
      val q = vec(7).mkString("[", ",", "]")
      // SQ ranks by reconstructed inner product (not cosine), so the
      // identical-vector pair is the top-2 but its score is the
      // quantized self-dot, not 1.0 — asserted separately
      val rsq = postPath(port, "/ann/sq", s"""{"vec": $q, "k": 2}""")
      assert(rsq.statusCode() === 200, s"/ann/sq: ${rsq.body()}")
      val sqIds = """"id":(-?\d+)""".r.findAllMatchIn(rsq.body())
        .map(_.group(1).toLong).toSet
      assert(sqIds === Set(7L, 9007L), s"/ann/sq: ${rsq.body()}")
      for (path <- Seq("/ann", "/ann/flat", "/ann/rp")) {
        val r = postPath(port, path, s"""{"vec": $q, "k": 2}""")
        assert(r.statusCode() === 200, s"$path: ${r.body()}")
        val ids = """"id":(-?\d+)""".r.findAllMatchIn(r.body())
          .map(_.group(1).toLong).toSet
        assert(ids === Set(7L, 9007L), s"$path: ${r.body()}")
        assert(r.body().contains(""""score":1.0"""), s"$path: ${r.body()}")
      }
      // the named route enforces its own request contract
      assert(postPath(port, "/ann/rp", """{"vec": [1.0], "k": 2}""")
        .statusCode() === 400)
      // the JDK server dispatches by longest string prefix: an unknown or
      // extended name must be a 404, NOT a silent 200 from whichever
      // registered backend happens to prefix-match
      val q7 = vec(7).mkString("[", ",", "]")
      for (bad <- Seq("/ann/nope", "/ann/rp2", "/ann/flat/extra"))
        assert(postPath(port, bad, s"""{"vec": $q7, "k": 2}""")
          .statusCode() === 404, s"$bad must 404")
    } finally srv.stop()
  }

  test("POST /ann with a filter: whitelisted equality restricts the " +
      "candidates; non-whitelisted column and unsupported backend are 400") {
    val dim = 8
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    // two planted duplicates of query 7 with different tags: the filter
    // must pick exactly the matching one
    val corpus = ((0 until 40).map(i => (i.toLong, vec(i), (i % 2).toString))
        :+ ((9007L, vec(7), "a")) :+ ((9008L, vec(7), "b")))
      .toDF("vec_id", "embedding", "tag")
    val cents = graft.sim.Ivf.portableCentroids(
      corpus.select("vec_id", "embedding"), nlist = 4, stride = 13)
    val idx = graft.sim.IvfIndex(cents,
      graft.sim.Ivf.assignPortable(corpus, cents, keepCols = Seq("tag")))
    val flat = new AnnService(idx, dim, maxK = 10, nprobe = 4,
      filterCols = Set("tag"))
    val svc = QueryService.overParquetDir(spark, "/root/testdata/sf0.001",
      Seq("nation"), Map("nation" -> Seq("n_nationkey")))
    val srv = new HttpQueryServer(svc, 1000, Some(flat), None,
      annBackends = Map("flat" -> flat))
    val port = srv.start()
    try {
      val q = vec(7).mkString("[", ",", "]")
      val ra = postAnn(port,
        s"""{"vec": $q, "k": 1, "filter": {"col": "tag", "value": "a"}}""")
      assert(ra.statusCode() === 200, ra.body())
      assert(ra.body().contains(""""id":9007"""), ra.body())
      val rb = postAnn(port,
        s"""{"vec": $q, "k": 1, "filter": {"col": "tag", "value": "b"}}""")
      assert(rb.body().contains(""""id":9008"""), rb.body())
      // non-whitelisted column → 400 with the whitelist error
      val bad = postAnn(port,
        s"""{"vec": $q, "k": 1, "filter": {"col": "cand_id", "value": "3"}}""")
      assert(bad.statusCode() === 400, bad.body())
      assert(bad.body().contains("not filterable"), bad.body())
      // unfiltered requests still work against the same backend
      assert(postAnn(port, s"""{"vec": $q, "k": 2}""").statusCode() === 200)
    } finally srv.stop()
    // a backend whose layout carries no whitelisted attributes rejects
    // instead of silently ignoring the predicate (whitelist empty)
    val rpRoot = java.nio.file.Files.createTempDirectory("ann_rpf_").toString
    graft.sim.Similarity.rpReduce(
        corpus.select("vec_id", "embedding"), "vec_id", "embedding",
        dimOut = 8, seed = 42)
      .write.mode("overwrite").parquet(s"$rpRoot/reduced")
    val rp = AnnRpService.overParquetDir(spark, rpRoot, maxK = 10,
      shortlist = 42, seed = 42)
    val srv2 = new HttpQueryServer(svc, 1000, Some(rp))
    val port2 = srv2.start()
    try {
      val q = vec(7).mkString("[", ",", "]")
      val r = postAnn(port2,
        s"""{"vec": $q, "k": 1, "filter": {"col": "tag", "value": "a"}}""")
      assert(r.statusCode() === 400, r.body())
      assert(r.body().contains("not filterable"), r.body())
    } finally srv2.stop()
    // the AnnBackend DEFAULT (a backend that never overrides the filtered
    // form) still rejects loudly rather than dropping the predicate
    val bare = new AnnBackend {
      def dim = 8; def maxK = 10
      def topK(v: Seq[Float], k: Int): Seq[(Long, Double, Int)] = Seq.empty
    }
    val e = intercept[IllegalArgumentException] {
      bare.topK(Seq.fill(8)(0f), 1, Some(("tag", "a")))
    }
    assert(e.getMessage.contains("does not support filtered"))
  }

  test("POST /neardup over a stored MinHash layout: an indexed duplicate " +
      "is found at est 1.0; malformed knobs are 400") {
    val docs = (1 to 30).map(i =>
        (i.toLong, s"document body number $i about subject ${i % 5} with " +
          s"plenty of shared filler text across the corpus ${i % 3}"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_ndl_").toString
    NearDupService.buildIndex(docs, "text", "doc_id", root)
    val svc = QueryService.overParquetDir(spark, "/root/testdata/sf0.001",
      Seq("nation"), Map("nation" -> Seq("n_nationkey")))
    val srv = new HttpQueryServer(svc, 1000,
      nearDup = Some(new NearDupLookupService(spark, root)))
    val port = srv.start()
    try {
      val probeText = docs.filter($"doc_id" === 7L)
        .select("text").as[String].head()
      val r = postPath(port, "/neardup",
        s"""{"text": "$probeText", "threshold": 1.0, "k": 3}""")
      assert(r.statusCode() === 200, r.body())
      assert(r.body().contains(""""id":7""") &&
        r.body().contains(""""est_jaccard":1.0"""), r.body())
      // unrelated text clears nothing at a high threshold
      val none = postPath(port, "/neardup",
        """{"text": "zzz completely different content qqq", "threshold": 0.9}""")
      assert(none.statusCode() === 200 && none.body().contains(""""results":[]"""),
        none.body())
      // a mentioned-but-malformed threshold is 400, never silently defaulted
      val badTh = postPath(port, "/neardup",
        s"""{"text": "$probeText", "threshold": 2.0}""")
      assert(badTh.statusCode() === 400, badTh.body())
      // delimiter anchoring: out-of-range values whose PREFIX is valid
      // must not silently coerce ("threshold": 1.5 -> 1.0, 10 -> 1.0,
      // 0.95xyz -> 0.95) — each is 400
      for (bad <- Seq("1.5", "10", "0.95xyz")) {
        val r400 = postPath(port, "/neardup",
          s"""{"text": "$probeText", "threshold": $bad}""")
        assert(r400.statusCode() === 400, s"threshold $bad: ${r400.body()}")
      }
      // same for k: "k": 5.7 must not coerce to 5
      val badK = postPath(port, "/neardup",
        s"""{"text": "$probeText", "threshold": 0.9, "k": 5.7}""")
      assert(badK.statusCode() === 400, badK.body())
      // and for the table route's limit — the same anchored contract
      val badLimit = postPath(port, "/get_data",
        """{"table": "nation", "limit": 5.7}""")
      assert(badLimit.statusCode() === 400, badLimit.body())
      // missing text is 400
      assert(postPath(port, "/neardup", """{"threshold": 0.9}""")
        .statusCode() === 400)
    } finally srv.stop()
  }

  test("POST /ann: a malformed filter object is 400, never a silently " +
      "unfiltered 200; a VALUE equal to \"filter\" does not trip the guard") {
    val dim = 8
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val corpus = (0 until 20).map(i => (i.toLong, vec(i), (i % 2).toString))
      .toDF("vec_id", "embedding", "tag")
    val cents = graft.sim.Ivf.portableCentroids(
      corpus.select("vec_id", "embedding"), nlist = 2, stride = 7)
    val flat = new AnnService(
      graft.sim.IvfIndex(cents,
        graft.sim.Ivf.assignPortable(corpus, cents, keepCols = Seq("tag"))),
      dim, maxK = 10, nprobe = 2, filterCols = Set("tag"))
    val svc = QueryService.overParquetDir(spark, "/root/testdata/sf0.001",
      Seq("nation"), Map("nation" -> Seq("n_nationkey")))
    val srv = new HttpQueryServer(svc, 1000, Some(flat))
    val port = srv.start()
    try {
      val q = vec(3).mkString("[", ",", "]")
      // reversed key order fails the strict shape — must be 400, not an
      // unfiltered 200 (the ignored-predicate-wrong-results failure)
      val reversed = postAnn(port,
        s"""{"vec": $q, "k": 2, "filter": {"value": "a", "col": "tag"}}""")
      assert(reversed.statusCode() === 400, reversed.body())
      // out-of-alphabet value chars — same contract
      val badVal = postAnn(port,
        s"""{"vec": $q, "k": 2, "filter": {"col": "tag", "value": "a;b"}}""")
      assert(badVal.statusCode() === 400, badVal.body())
      // a plain string VALUE "filter" elsewhere in the body is NOT a
      // filter request — stays an ordinary 200
      val valueOnly = postAnn(port, s"""{"vec": $q, "k": 2, "note": "filter"}""")
      assert(valueOnly.statusCode() === 200, valueOnly.body())
    } finally srv.stop()
  }

  test("POST /ann filtered serving on the RP and flat-PQ backends: " +
      "whitelisted equality picks the matching planted duplicate") {
    val dim = 8
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    // two exact copies of query 7 with different tags — the filter must
    // pick exactly the matching one on every backend
    val corpus = ((0 until 40).map(i => (i.toLong, vec(i), (i % 2).toString))
        :+ ((9007L, vec(7), "a")) :+ ((9008L, vec(7), "b")))
      .toDF("vec_id", "embedding", "tag")
    val rpRoot = java.nio.file.Files.createTempDirectory("ann_rpfs_").toString
    graft.sim.Similarity.rpReduce(corpus, "vec_id", "embedding",
        dimOut = 8, seed = 42, keepCols = Seq("tag"))
      .write.mode("overwrite").parquet(s"$rpRoot/reduced")
    val rp = AnnRpService.overParquetDir(spark, rpRoot, maxK = 10,
      shortlist = 42, seed = 42, filterCols = Set("tag"))
    // flat PQ: grid-free but small alphabet not needed — the planted
    // EXACT copies rank first under ADC too (identical codes ⇒ identical
    // score, the maximum)
    val pqIdx = graft.sim.Pq.buildIndex(corpus, m = 4, codebookSize = 16,
      keepCols = Seq("tag"))
    val pqRoot = java.nio.file.Files.createTempDirectory("ann_pqfs_").toString
    pqIdx.codebooks.write.parquet(s"$pqRoot/codebooks")
    pqIdx.codes.write.parquet(s"$pqRoot/codes")
    val pq = AnnFlatPqService.overParquetDir(spark, pqRoot, maxK = 10,
      filterCols = Set("tag"))
    val svc = QueryService.overParquetDir(spark, "/root/testdata/sf0.001",
      Seq("nation"), Map("nation" -> Seq("n_nationkey")))
    val srv = new HttpQueryServer(svc, 1000, None,
      annBackends = Map("rp" -> rp, "pq" -> pq))
    val port = srv.start()
    try {
      val q = vec(7).mkString("[", ",", "]")
      for (path <- Seq("/ann/rp", "/ann/pq")) {
        val ra = postPath(port, path,
          s"""{"vec": $q, "k": 1, "filter": {"col": "tag", "value": "a"}}""")
        assert(ra.statusCode() === 200, s"$path: ${ra.body()}")
        assert(ra.body().contains(""""id":9007"""), s"$path: ${ra.body()}")
        val rb = postPath(port, path,
          s"""{"vec": $q, "k": 1, "filter": {"col": "tag", "value": "b"}}""")
        assert(rb.body().contains(""""id":9008"""), s"$path: ${rb.body()}")
        val bad = postPath(port, path,
          s"""{"vec": $q, "k": 1, "filter": {"col": "vec", "value": "x"}}""")
        assert(bad.statusCode() === 400, s"$path: ${bad.body()}")
        assert(bad.body().contains("not filterable"), s"$path: ${bad.body()}")
      }
    } finally srv.stop()
  }

  test("POST /ann/pq over a stored FLAT-PQ index (grid exact-recovery " +
      "golden probe); bare /ann 404s with no default backend") {
    // PqSpec's grid alphabet: codebookSize = 4 recovers every distinct
    // subvector exactly, so the served ADC score IS the exact inner
    // product — querying gridVec(0) (q·q = 15) must return the three
    // lowest-id copies at 15.0.
    val alphabet = Seq(
      Array(1f, 0f), Array(0f, 2f), Array(2f, 2f), Array(-1f, 1f))
    def gridVec(i: Int): Array[Float] =
      (0 until 4).flatMap(j => alphabet((i + j) % 4)).toArray
    val corpus = (0 until 48).map(i => (i.toLong, gridVec(i)))
      .toDF("vec_id", "embedding")
    val idx = graft.sim.Pq.buildIndex(corpus, m = 4, codebookSize = 4)
    val root = java.nio.file.Files.createTempDirectory("ann_pq_flat_").toString
    idx.codebooks.write.mode("overwrite").parquet(s"$root/codebooks")
    idx.codes.write.mode("overwrite").parquet(s"$root/codes")
    val pq = AnnFlatPqService.overParquetDir(spark, root, maxK = 10)
    assert(pq.dim === 8)
    val svc = QueryService.overParquetDir(spark, "/root/testdata/sf0.001",
      Seq("nation"), Map("nation" -> Seq("n_nationkey")))
    val srv = new HttpQueryServer(svc, 1000, None, None,
      annBackends = Map("pq" -> pq))
    val port = srv.start()
    try {
      val q = gridVec(0).mkString("[", ",", "]")
      val r = postPath(port, "/ann/pq", s"""{"vec": $q, "k": 3}""")
      assert(r.statusCode() === 200, r.body())
      val ids = """"id":(-?\d+)""".r.findAllMatchIn(r.body())
        .map(_.group(1).toLong).toSeq
      assert(ids === Seq(0L, 4L, 8L), r.body())
      assert(r.body().contains(""""score":15.0"""), r.body())
      assert(postPath(port, "/ann", s"""{"vec": $q, "k": 3}""")
        .statusCode() === 404, "bare /ann must 404 with no default backend")
    } finally srv.stop()
  }

  private def postSearch(port: Int, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/search"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /hybrid fuses the vector and keyword backends by RRF; " +
      "missing either field is a 400") {
    val docs = Seq((1L, "Apple banana apple"), (2L, "banana"),
      (3L, "cherry apple"), (4L, "date fig")).toDF("doc_id", "text")
    val sroot = java.nio.file.Files.createTempDirectory("hyb_kw_").toString
    graft.text.TextOps.bm25Postings(docs, "text", "doc_id")
      .withColumn("bucket", graft.text.TextOps.bm25Bucket(
        org.apache.spark.sql.functions.col("term")))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$sroot/postings")
    graft.text.TextOps.bm25CorpusStats(docs, "text")
      .write.mode("overwrite").parquet(s"$sroot/stats")
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(8)(rnd.nextGaussian().toFloat)
    }
    val vroot = java.nio.file.Files.createTempDirectory("hyb_vec_").toString
    val corpus = (1 to 4).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val cents = graft.sim.Ivf.portableCentroids(corpus, nlist = 2, stride = 1)
    cents.write.parquet(s"$vroot/centroids")
    graft.sim.Ivf.assignPortable(corpus, cents)
      .write.partitionBy("cell").parquet(s"$vroot/assigned")
    val annSvc = AnnService.overParquetDir(spark, vroot, maxK = 4, nprobe = 2)
    val searchSvc = SearchService.overParquetDir(spark, sroot, maxK = 4)
    val svc = QueryService.overParquetDir(spark, "/root/testdata/sf0.001",
      Seq("nation"), Map("nation" -> Seq("n_nationkey")))
    val srv = new HttpQueryServer(svc, 1000, Some(annSvc), Some(searchSvc))
    val port = srv.start()
    try {
      // the expected fusion, computed from the SAME two backends
      val q = vec(3)
      val want = HybridSearch.fuseRanked(
        annSvc.topK(q.toSeq, 3).map(t => (t._1, t._3)),
        searchSvc.topK(Seq("apple", "banana"), 3).map(t => (t._1, t._3)), 3)
      val body = s"""{"vec": ${q.mkString("[", ",", "]")},""" +
        s""" "terms": ["apple", "banana"], "k": 3}"""
      val r = postPath(port, "/hybrid", body)
      assert(r.statusCode() === 200, r.body())
      val ids = """"id":(-?\d+)""".r.findAllMatchIn(r.body())
        .map(_.group(1).toLong).toSeq
      assert(ids === want.map(_._1), s"${r.body()} vs $want")
      // vector-exact candidate 3 must be in the fused set (rank 1 on the
      // vector side) even though keyword retrieval ranks it last
      assert(ids.contains(3L), r.body())
      // either field missing is a 400
      assert(postPath(port, "/hybrid",
        s"""{"vec": ${q.mkString("[", ",", "]")}, "k": 3}""")
        .statusCode() === 400)
      assert(postPath(port, "/hybrid",
        """{"terms": ["apple"], "k": 3}""").statusCode() === 400)
      // a filter is rejected, never silently dropped (the keyword side
      // cannot apply it, so a filtered fusion would be silently wrong)
      val filtered = postPath(port, "/hybrid",
        s"""{"vec": ${q.mkString("[", ",", "]")}, "terms": ["apple"],""" +
          """ "k": 3, "filter": {"col": "tag", "value": "a"}}""")
      assert(filtered.statusCode() === 400, filtered.body())
      assert(filtered.body().contains("not supported"), filtered.body())
    } finally srv.stop()
  }

  test("POST /search over a stored BM25 inverted index (hand-computed golden probe)") {
    // TextOpsSpec's BM25 corpus: doc 1 outranks 2 outranks 3 for
    // {apple, banana}; doc 4 is empty and never retrieved.
    val docs = Seq((1L, "Apple banana apple"), (2L, "banana"),
      (3L, "cherry apple"), (4L, "")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("search_idx_").toString
    graft.text.TextOps.bm25Postings(docs, "text", "doc_id")
      .withColumn("bucket", graft.text.TextOps.bm25Bucket(
        org.apache.spark.sql.functions.col("term")))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$root/postings")
    graft.text.TextOps.bm25CorpusStats(docs, "text")
      .write.mode("overwrite").parquet(s"$root/stats")
    val search = SearchService.overParquetDir(spark, root, maxK = 10)
    val svc = QueryService.overParquetDir(spark, "/root/testdata/sf0.001",
      Seq("nation"), Map("nation" -> Seq("n_nationkey")))
    val srv = new HttpQueryServer(svc, 1000, None, Some(search))
    val port = srv.start()
    try {
      val r = postSearch(port, """{"terms": ["apple", "banana"], "k": 3}""")
      assert(r.statusCode() === 200, r.body())
      val ids = """"id":(-?\d+)""".r.findAllMatchIn(r.body())
        .map(_.group(1).toLong).toSeq
      assert(ids === Seq(1L, 2L, 3L), r.body())
      // k clamps and echoes the clamped value
      val big = postSearch(port, """{"terms": ["apple"], "k": 9999}""")
      assert(big.statusCode() === 200)
      assert(big.body().contains(""""k":10"""), big.body())
      // a term absent from the corpus retrieves nothing but is not an error
      val none = postSearch(port, """{"terms": ["zzz"], "k": 3}""")
      assert(none.statusCode() === 200)
      assert(""""id":""".r.findAllMatchIn(none.body()).isEmpty, none.body())
      // malformed requests are 400s
      assert(postSearch(port, """{"terms": [], "k": 3}""").statusCode() === 400)
      assert(postSearch(port, """{"k": 3}""").statusCode() === 400)
      // a term list over maxTerms is a 400, NEVER a silently reduced query
      val many = (1 to 17).map(i => s""""t$i"""").mkString("[", ",", "]")
      val over = postSearch(port, s"""{"terms": $many, "k": 3}""")
      assert(over.statusCode() === 400, over.body())
      assert(over.body().contains("16"), over.body())
    } finally srv.stop()
  }

  test("POST /ann over a stored RESIDUAL IVF-PQ index (zero-residual golden probe)") {
    // IvfPqSpec's grid alphabet: gridVec(i) depends only on i % 4, so 48
    // vectors collapse to 4 distinct points and k-means at nlist = 4
    // recovers them exactly — every residual is zero and the served score
    // q·centroid + ADC(0) must equal the exact inner product. Querying
    // gridVec(0) = [1,0,0,2,2,2,-1,1]: q·q = 15, and all 12 copies
    // (ids ≡ 0 mod 4) tie at 15.0.
    val alphabet = Seq(
      Array(1f, 0f), Array(0f, 2f), Array(2f, 2f), Array(-1f, 1f))
    def gridVec(i: Int): Array[Float] =
      (0 until 4).flatMap(j => alphabet((i + j) % 4)).toArray
    val corpus = (0 until 48).map(i => (i.toLong, gridVec(i)))
      .toDF("vec_id", "embedding")
    val idx = graft.sim.IvfPq.buildResidualIndex(corpus, nlist = 4, m = 4,
      codebookSize = 4)
    val root = java.nio.file.Files.createTempDirectory("ann_ivfpq_idx_").toString
    idx.centroids.write.mode("overwrite").parquet(s"$root/centroids")
    idx.codebooks.write.mode("overwrite").parquet(s"$root/codebooks")
    idx.codes.write.mode("overwrite").partitionBy("cell").parquet(s"$root/codes")
    val ann = AnnPqService.overParquetDir(spark, root, maxK = 10, nprobe = 4)
    assert(ann.dim === 8)
    val svc = QueryService.overParquetDir(spark, "/root/testdata/sf0.001",
      Seq("nation"), Map("nation" -> Seq("n_nationkey")))
    val srv = new HttpQueryServer(svc, 1000, Some(ann))
    val port = srv.start()
    try {
      val q = gridVec(0).mkString("[", ",", "]")
      val r = postAnn(port, s"""{"vec": $q, "k": 3}""")
      assert(r.statusCode() === 200, r.body())
      val ids = """"id":(-?\d+)""".r.findAllMatchIn(r.body())
        .map(_.group(1).toLong).toSeq
      assert(ids.size === 3, r.body())
      assert(ids.forall(_ % 4 == 0), s"expected gridVec(0) copies: ${r.body()}")
      val scores = """"score":(-?[\d.]+)""".r.findAllMatchIn(r.body())
        .map(_.group(1).toDouble).toSeq
      assert(scores === Seq(15.0, 15.0, 15.0), r.body())
      // dimension mismatch stays a 400 through the PQ backend too
      assert(postAnn(port, """{"vec": [1.0, 2.0], "k": 2}""").statusCode() === 400)
    } finally srv.stop()
  }
}
