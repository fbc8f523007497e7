package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, lit}
import java.sql.Timestamp

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streaming dedup within watermark drops cross-batch duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("event_id", "ts", "payload")
    val q = StreamOps.dedupWithinWatermark(df, Seq("event_id"), "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0), "a"), (2L, ts(1), "b"), (1L, ts(2), "a-dup"))
      q.processAllAvailable()
      mem.addData((2L, ts(3), "b-dup"), (3L, ts(4), "c"))   // dup in later batch
      q.processAllAvailable()
      val out = spark.table("dedup_out").orderBy("event_id")
        .select("event_id", "payload").as[(Long, String)].collect()
      assert(out.sameElements(Array((1L, "a"), (2L, "b"), (3L, "c"))))
    } finally q.stop()
  }

  test("semantic routing at stream ingest: assignMapOnly runs as a plain " +
      "stateless projection and matches the batch assignment") {
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(8)(rnd.nextGaussian().toFloat)
    }
    val corpus = (0 until 60).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val cents = graft.sim.Ivf.portableCentroids(corpus, nlist = 4, stride = 13)
    val mem = MemoryStream[(Long, Array[Float])]
    val routed = graft.sim.Ivf.assignMapOnly(
      mem.toDF().toDF("vec_id", "embedding"), cents)
    val q = routed.writeStream.format("memory").queryName("route_out")
      .outputMode("append").start()
    try {
      mem.addData((0 until 30).map(i => (i.toLong, vec(i))): _*)
      q.processAllAvailable()
      mem.addData((30 until 60).map(i => (i.toLong, vec(i))): _*) // later batch
      q.processAllAvailable()
      val streamed = spark.table("route_out")
        .as[(Long, Int)].collect().toSet
      val batch = graft.sim.Ivf.assignMapOnly(corpus, cents)
        .as[(Long, Int)].collect().toSet
      assert(streamed === batch,
        "stream-routed cells must equal the batch assignment")
    } finally q.stop()
  }

  test("streaming semantic curation end to end: route → mix → quality " +
      "gate composes as one STATELESS projection chain, ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit}
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(8)(rnd.nextGaussian().toFloat)
    }
    def text(i: Int): String =
      if (i % 5 == 0) "x" // low-quality stub
      else s"document $i carries a normal prose paragraph about topic ${i % 4}"
    val rows = (0 until 60).map(i => (i.toLong, vec(i), text(i)))
    val corpus = rows.toDF("doc_id", "embedding", "text")
    val cents = graft.sim.Ivf.portableCentroids(corpus, nlist = 4, stride = 13,
      idCol = "doc_id")
    // the nightly-computed knobs (static at ingest): per-cell mix rates
    // and a fixed quality floor — every stage below is map-only
    def curate(df: org.apache.spark.sql.DataFrame) = {
      val routed = df.withColumn("cell",
        graft.sim.Ivf.mapOnlyCell(cents, col("embedding")))
      val mixed = graft.ops.Ops.weightedSample(routed, "cell", "doc_id",
        Map("0" -> 1000, "1" -> 700), defaultPermille = 400)
      mixed.filter(graft.text.TextOps.qualityScore(col("text")) >= lit(0.3))
        .select("doc_id", "cell")
    }
    val mem = MemoryStream[(Long, Array[Float], String)]
    val q = curate(mem.toDF().toDF("doc_id", "embedding", "text"))
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(30): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(30): _*)
      q.processAllAvailable()
      val streamed = spark.table("curate_out")
        .as[(Long, Int)].collect().toSet
      val batch = curate(corpus).as[(Long, Int)].collect().toSet
      assert(streamed === batch,
        "the streamed curation keep-set must equal the batch pipeline's")
      assert(streamed.nonEmpty && streamed.size < 60,
        s"fixture sanity: mix+gate must keep a strict subset (${streamed.size})")
    } finally q.stop()
  }

  test("streaming near-dup suppress: kept set ⊆ batch exactDedup keeps, cross-batch") {
    implicit val sqlCtx = spark.sqlContext
    def doc(i: Int): String = {
      val rnd = new scala.util.Random(i)
      s"stream document $i " + (0 until 40).map(_ => rnd.nextInt(100)).mkString(" ")
    }
    // base docs, exact dups (+2000, identical text, LATER batch), and a
    // near-dup (+1000, appended tail — different shingle set, so kept)
    val base = (0 until 10).map(i => (i.toLong, ts(i), doc(i)))
    val exactDups = (0 until 10).map(i => ((i + 2000).toLong, ts(i + 20), doc(i)))
    val nearDup = Seq((1001L, ts(31), doc(1) + " with an appended tail"))

    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = StreamOps.nearDupSuppressWithinWatermark(df, "text", "ts", "1 hour")
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      mem.addData(base: _*)
      q.processAllAvailable()
      mem.addData(exactDups ++ nearDup: _*)   // dups arrive in a LATER batch
      q.processAllAvailable()
      val streamKept = spark.table("neardup_out")
        .select("doc_id").as[Long].collect().toSet

      // batch oracle over the same rows: exact dedup keeps min-id per text
      import spark.implicits._
      val allRows = (base ++ exactDups ++ nearDup).toDF("doc_id", "ts", "text")
      val batchKept = graft.dedup.Dedup.exactDedup(allRows, "text", "doc_id")
        .select("doc_id").as[Long].collect().toSet

      // signature-identical suppression can only drop MORE than exact
      // dedup (same text ⇒ same signature) — never keep an exact dup
      assert(streamKept.subsetOf(batchKept),
        s"stream kept non-batch-kept ids: ${streamKept -- batchKept}")
      // first arrival wins: every base doc kept, every later exact dup dropped
      assert((0 until 10).forall(i => streamKept.contains(i.toLong)))
      assert(exactDups.forall { case (id, _, _) => !streamKept.contains(id) })
      // the near-dup's shingle set differs, so signature-identical keeps it
      assert(streamKept.contains(1001L))
    } finally q.stop()
  }

  test("dedupWithinWatermark state survives a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    // file sink (the memory sink refuses checkpoint recovery by design):
    // the state store + file-sink log recover together from the checkpoint
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("event_id", "ts", "payload")
    def start() = StreamOps.dedupWithinWatermark(df, Seq("event_id"), "ts", "1 hour")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      mem.addData((1L, ts(0), "a"), (2L, ts(1), "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the checkpoint: the dedup state store must remember
    // keys 1 and 2 — a dup arriving AFTER the restart stays suppressed
    val q2 = start()
    try {
      mem.addData((1L, ts(5), "a-dup-after-restart"), (3L, ts(6), "c"))
      q2.processAllAvailable()
      val afterRestart = spark.read.parquet(outDir)
        .select("event_id", "payload").as[(Long, String)].collect().toSet
      assert(afterRestart === Set((1L, "a"), (2L, "b"), (3L, "c")),
        "recovered state must suppress the post-restart duplicate and keep firsts")
    } finally q2.stop()
  }

  test("intervalJoinStream: cross-batch attribution matches the batch join exactly") {
    implicit val sqlCtx = spark.sqlContext
    // impressions (user, its, ad) ⋈ clicks (user, cts, click) where the
    // click lands within [0, 600] s of the impression
    val imps = MemoryStream[(Long, Timestamp, String)]
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val impDf = imps.toDF().toDF("user_id", "its", "ad")
    val clickDf = clicks.toDF().toDF("user_id", "cts", "click")
    val q = StreamOps.intervalJoinStream(impDf, clickDf, Seq("user_id"),
        "its", "cts", lowerSec = 0L, upperSec = 600L)
      .writeStream.format("memory").queryName("attrib_out")
      .outputMode("append").start()
    val impRows = Seq((1L, ts(0), "adA"), (2L, ts(5), "adB"), (3L, ts(10), "adC"))
    val clickRows = Seq(
      (1L, ts(3), "c1"),    // +3 min after adA → match
      (2L, ts(20), "c2"),   // +15 min after adB → outside window
      (1L, ts(8), "c3"),    // +8 min after adA → match
      (3L, ts(12), "c4"),   // +2 min after adC → match (cross-batch)
      (9L, ts(1), "c5"))    // no impression for user 9
    try {
      imps.addData(impRows.take(2): _*)
      clicks.addData(clickRows.take(2): _*)
      q.processAllAvailable()
      imps.addData(impRows.drop(2): _*)     // adC arrives in a later batch
      clicks.addData(clickRows.drop(2): _*) // c3/c4 match earlier impressions
      q.processAllAvailable()
      val streamed = spark.table("attrib_out")
        .select("user_id", "ad", "click").as[(Long, String, String)]
        .collect().toSet
      // batch oracle: the SAME operator over the full static frames
      val batch = StreamOps.intervalJoinStream(
          impRows.toDF("user_id", "its", "ad"),
          clickRows.toDF("user_id", "cts", "click"),
          Seq("user_id"), "its", "cts", 0L, 600L)
        .select("user_id", "ad", "click").as[(Long, String, String)]
        .collect().toSet
      assert(streamed === batch)
      assert(streamed === Set((1L, "adA", "c1"), (1L, "adA", "c3"), (3L, "adC", "c4")))
    } finally q.stop()
  }

  test("watermark drops late data and ACCOUNTS for it (numRowsDroppedByWatermark)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("event_id", "ts", "payload")
    val q = StreamOps.dedupWithinWatermark(df, Seq("event_id"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("late_drop_out")
      .outputMode("append").start()
    try {
      // batch 1 advances the watermark to 11:50 (max 12:00 − 10 min)
      mem.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00"), "early"),
        (2L, Timestamp.valueOf("2024-01-01 12:00:00"), "late-edge"))
      q.processAllAvailable()
      // batch 2: an UNSEEN key behind the watermark must be dropped — and
      // the drop must be observable in the state-operator metrics, not
      // silent (the ops answer to "where did my rows go?")
      mem.addData((3L, Timestamp.valueOf("2024-01-01 09:00:00"), "too-late"))
      q.processAllAvailable()
      val out = spark.table("late_drop_out")
        .select("event_id").as[Long].collect().toSet
      assert(out === Set(1L, 2L), s"late row must not appear, got $out")
      val dropped = q.recentProgress
        .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped >= 1, "the drop must be accounted in progress metrics")
    } finally q.stop()
  }

  test("upsertToJdbc: update-mode aggregation upserts per batch; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    val url = "jdbc:derby:memory:graft_upsert;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    Class.forName(driver)
    locally {
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().execute(
        "CREATE TABLE user_counts (user_id BIGINT PRIMARY KEY, n BIGINT)")
      finally c.close()
    }
    def table(): Map[Long, Long] = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery("SELECT user_id, n FROM user_counts")
        val b = scala.collection.mutable.Map.empty[Long, Long]
        while (rs.next()) b += rs.getLong(1) -> rs.getLong(2)
        b.toMap
      } finally c.close()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsert_ckpt").toString
    val mem = MemoryStream[(Long, Timestamp)]
    val counts = mem.toDF().toDF("user_id", "ts")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val q = StreamOps.upsertToJdbc(counts, url, "user_counts", "user_id", Seq("n"), ckpt)
    try {
      mem.addData((1L, ts(0)), (1L, ts(1)), (2L, ts(2)))
      q.processAllAvailable()
      assert(table() === Map(1L -> 2L, 2L -> 1L))
      mem.addData((1L, ts(3)), (3L, ts(4)))   // u1 updates, u3 inserts
      q.processAllAvailable()
      assert(table() === Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    } finally q.stop()
    // failure-recovery semantics: replaying already-applied rows is a no-op
    val replay = Seq((1L, 3L), (3L, 1L)).toDF("user_id", "n")
    StreamOps.upsertBatch(replay, url, "user_counts", "user_id", Seq("n"), driver)
    assert(table() === Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    // schema-qualified table names are legal (Derby's default schema is
    // APP); injection-shaped names are rejected before any SQL is built
    StreamOps.upsertBatch(replay, url, "APP.user_counts", "user_id", Seq("n"), driver)
    assert(table() === Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    intercept[IllegalArgumentException] {
      StreamOps.upsertBatch(replay, url, "t; DROP TABLE x", "user_id", Seq("n"), driver)
    }
    intercept[IllegalArgumentException] {
      StreamOps.upsertBatch(replay, url, "user_counts", "user_id", Seq("n = 0 --"), driver)
    }
  }

  test("incrementalDedupStream: reference-known docs dropped, in-stream repeats suppressed cross-batch") {
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq((100L, "known alpha doc"), (101L, "known beta doc"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = StreamOps.incrementalDedupStream(df, reference, "text", "ts", "1 hour")
      .writeStream.format("memory").queryName("incdedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, ts(0), "KNOWN   alpha doc"),  // dup of reference after normalization
        (2L, ts(1), "fresh gamma doc"),
        (3L, ts(2), "fresh gamma doc"))    // in-batch repeat of 2
      q.processAllAvailable()
      mem.addData(
        (4L, ts(3), "fresh gamma doc"),    // cross-batch repeat of 2
        (5L, ts(4), "known beta doc"),     // reference dup in a later batch
        (6L, ts(5), "fresh delta doc"))
      q.processAllAvailable()
      val out = spark.table("incdedup_out").select("doc_id").as[Long]
        .collect().sorted
      assert(out.toSeq === Seq(2L, 6L))
    } finally q.stop()
  }

  test("incrementalNearDupStream ≡ batch incrementalNearDups after pair dedup") {
    implicit val sqlCtx = spark.sqlContext
    def doc(i: Int): String = {
      val rnd = new scala.util.Random(i)
      s"reference document $i " + (0 until 50).map(_ =>
        "alpha beta gamma delta".split(" ")(rnd.nextInt(4))).mkString(" ")
    }
    val reference = (0 until 20).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val refIndex = graft.dedup.Dedup.minHashSignatures(reference, "text", "doc_id")
      .persist()
    refIndex.count()
    try {
      // delta: exact copy of 3, near-dup of 7, one novel doc — across 2 batches
      val delta = Seq(
        (903L, ts(0), doc(3)),
        (907L, ts(1), doc(7) + " tail bit"),
        (999L, ts(2), "entirely novel content matching nothing at all here"))
      val mem = MemoryStream[(Long, Timestamp, String)]
      val df = mem.toDF().toDF("doc_id", "ts", "text")
      val q = StreamOps.incrementalNearDupStream(df, refIndex, "text", "doc_id",
          threshold = 0.5)
        .select("doc_id", "ref_id", "est_jaccard")
        .writeStream.format("memory").queryName("incneardup_out")
        .outputMode("append").start()
      try {
        mem.addData(delta.take(2))
        q.processAllAvailable()
        mem.addData(delta.drop(2))
        q.processAllAvailable()
        // stateless join may emit one row per matching band — dedup pairs
        val streamPairs = spark.table("incneardup_out")
          .as[(Long, Long, Double)].collect().toSet

        val batch = graft.dedup.Dedup.incrementalNearDups(
          delta.map(d => (d._1, d._3)).toDF("doc_id", "text"),
          refIndex, "text", "doc_id", threshold = 0.5)
        val batchPairs = batch.as[(Long, Long, Double)].collect().toSet
        batch.unpersist(blocking = true)

        assert(streamPairs === batchPairs, "stream pairs must equal batch pairs")
        assert(streamPairs.exists(p => p._1 === 903L && p._2 === 3L && p._3 === 1.0))
        assert(streamPairs.exists(p => p._1 === 907L && p._2 === 7L))
        assert(!streamPairs.exists(_._1 === 999L))
      } finally q.stop()
    } finally refIndex.unpersist(blocking = true)
  }

  test("incrementalNearDupStream rejects input columns that collide with its outputs") {
    // A stream already carrying ref_id would otherwise produce an ambiguous
    // reference (or silently select the wrong column) at join time.
    val refIndex = graft.dedup.Dedup.minHashSignatures(
      Seq((1L, "some reference text here")).toDF("doc_id", "text"), "text", "doc_id")
    val clashing = Seq((2L, "probe text", 7L)).toDF("doc_id", "text", "ref_id")
    val e = intercept[IllegalArgumentException] {
      StreamOps.incrementalNearDupStream(clashing, refIndex, "text", "doc_id")
    }
    assert(e.getMessage.contains("ref_id") && e.getMessage.contains("rename"))
    // __ref_sig is introduced on the REF side but referenced bare after the
    // join — a docs frame already carrying it hits the same ambiguity
    val sigClash = Seq((2L, "probe text", Array(1L))).toDF("doc_id", "text", "__ref_sig")
    val e2 = intercept[IllegalArgumentException] {
      StreamOps.incrementalNearDupStream(sigClash, refIndex, "text", "doc_id")
    }
    assert(e2.getMessage.contains("__ref_sig"))
  }

  test("thresholdAlerts fires exactly once per key, at the first crossing") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val df = mem.toDF().toDF("user_id", "value")
    val q = StreamOps.thresholdAlerts(df, threshold = 100.0)
      .writeStream.format("memory").queryName("alerts_out")
      .outputMode("update").start()
    try {
      // u1 crosses within batch 1; u2 stays below; u3 accumulates
      mem.addData((1L, 60.0), (1L, 50.0), (2L, 30.0), (3L, 80.0))
      q.processAllAvailable()
      // u2 crosses ACROSS batches; u1 adds more but must NOT re-fire;
      // u3 crosses exactly at the threshold boundary
      mem.addData((2L, 75.0), (1L, 999.0), (3L, 20.0))
      q.processAllAvailable()
      val out = spark.table("alerts_out").orderBy("key")
        .select("key", "n_events", "total").as[(Long, Long, Double)].collect()
      assert(out.sameElements(Array(
        (1L, 2L, 110.0),   // fired mid-batch-1 at the second event
        (2L, 2L, 105.0),   // state carried across batches
        (3L, 2L, 100.0)))) // >= threshold: boundary fires
    } finally q.stop()
  }

  test("windowedHeavyHitters: exact regime (capacity ≥ distinct) ≡ batch top-k, " +
      "finalized once on watermark passage, cross-batch accumulation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "word")
    val q = StreamOps.windowedHeavyHitters(df, "word", "ts",
        windowDuration = "10 minutes", watermark = "1 minute",
        k = 3, capacity = 100)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("append").start()
    try {
      // window [10:00, 10:10): a×4, b×3, c×2, d×1 split across two batches
      mem.addData(Seq("a", "a", "b", "c").map(w => (ts(1), w)): _*)
      q.processAllAvailable()
      mem.addData(Seq("a", "a", "b", "b", "c", "d").map(w => (ts(5), w)): _*)
      q.processAllAvailable()
      assert(spark.table("hh_out").isEmpty)    // watermark still inside the window
      // two sentinel batches: the first advances the watermark past 10:10
      // at its end, the second's trigger fires the event-time timeout
      mem.addData((ts(30), "z"))
      q.processAllAvailable()
      mem.addData((ts(45), "z"))
      q.processAllAvailable()
      // the sentinel windows finalize too (one ("z", 1) row each once the
      // watermark passes them) — scope the assertion to the window under test
      val w0 = spark.table("hh_out")
        .filter(org.apache.spark.sql.functions.col("window_start") === ts(0))
      val out = w0.select("key", "est_count", "max_overcount", "rank")
        .as[(String, Long, Long, Int)].collect().sortBy(_._4)
      assert(out.sameElements(Array(
        ("a", 4L, 0L, 1), ("b", 3L, 0L, 2), ("c", 2L, 0L, 3))))
      // exact regime: every count exact, d cut by k, nothing emitted twice
      assert(w0.count() === 3)
    } finally q.stop()
  }

  test("windowedHeavyHitters: approximate regime keeps the Space-Saving " +
      "overcount bound and never loses a dominant key") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "word")
    // one dominant key (12 of 24 rows) + 12 singletons, capacity 4 ≪ 13
    val rows = Seq.fill(12)("heavy") ++ (0 until 12).map(i => s"rare_$i")
    val q = StreamOps.windowedHeavyHitters(df, "word", "ts",
        windowDuration = "10 minutes", watermark = "1 minute",
        k = 2, capacity = 4)
      .writeStream.format("memory").queryName("hh_approx_out")
      .outputMode("append").start()
    try {
      mem.addData(rows.map(w => (ts(2), w)): _*)
      q.processAllAvailable()
      mem.addData((ts(30), "z")); q.processAllAvailable()
      mem.addData((ts(45), "z")); q.processAllAvailable()
      val out = spark.table("hh_approx_out")
        .filter(org.apache.spark.sql.functions.col("window_start") === ts(0))
        .select("key", "est_count", "max_overcount")
        .as[(String, Long, Long)].collect()
      assert(out.length === 2)
      val heavy = out.find(_._1 == "heavy")
      assert(heavy.isDefined, s"dominant key missing from $out")
      // guarantee: est − overcount ≤ true ≤ est
      heavy.foreach { case (_, est, over) =>
        assert(est >= 12L && est - over <= 12L)
      }
    } finally q.stop()
  }

  test("windowedHeavyHitters validates k/capacity and drops NULL keys") {
    implicit val sqlCtx = spark.sqlContext
    intercept[IllegalArgumentException] {
      StreamOps.windowedHeavyHitters(
        MemoryStream[(Timestamp, String)].toDF().toDF("ts", "word"),
        "word", "ts", "10 minutes", "1 minute", k = 5, capacity = 4)
    }
    val mem = MemoryStream[(Timestamp, Option[String])]
    val df = mem.toDF().toDF("ts", "word")
    val q = StreamOps.windowedHeavyHitters(df, "word", "ts",
        "10 minutes", "1 minute", k = 2, capacity = 10)
      .writeStream.format("memory").queryName("hh_null_out")
      .outputMode("append").start()
    try {
      mem.addData((ts(1), Some("a")), (ts(1), None), (ts(2), Some("a")))
      q.processAllAvailable()
      mem.addData((ts(30), Some("z"))); q.processAllAvailable()
      mem.addData((ts(45), Some("z"))); q.processAllAvailable()
      val out = spark.table("hh_null_out")
        .filter(org.apache.spark.sql.functions.col("window_start") === ts(0))
        .select("key", "est_count").as[(String, Long)].collect()
      assert(out.sameElements(Array(("a", 2L))))
    } finally q.stop()
  }

  test("map-only lexicon gate streams as-is: append stream ≡ batch, stateless") {
    // lexiconScoreMapOnly is a pure projection, so it rides readStream
    // unchanged in append mode with NO state store — the claim its
    // docstring makes, proven against the batch run on the same rows.
    implicit val sqlCtx = spark.sqlContext
    val lex = Map("good" -> 2L, "bad" -> -3L)
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = graft.text.TextOps
      .lexiconScoreMapOnly(df, "text", "doc_id", lex, bias = 0L, threshold = 1L)
      .writeStream.format("memory").queryName("lex_stream_out")
      .outputMode("append").start()
    try {
      val rows = Seq((1L, "good good bad"), (2L, "bad"), (3L, "neutral"))
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.drop(2): _*); q.processAllAvailable()
      val streamed = spark.table("lex_stream_out")
        .as[(Long, Long, Int)].collect().toSet
      val batch = graft.text.TextOps.lexiconScoreMapOnly(
          rows.toDF("doc_id", "text"), "text", "doc_id", lex, 0L, 1L)
        .as[(Long, Long, Int)].collect().toSet
      assert(streamed === batch)
      assert(streamed === Set((1L, 1L, 1), (2L, -3L, 0), (3L, 0L, 0)))
    } finally q.stop()
  }

  test("dsirIngestStream: streamed marginal deltas + O(buckets) fold ≡ " +
      "full retrain; scoring serves the folded weights") {
    import graft.serve.DsirService
    import graft.text.TextOps
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("dsir_stream_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dsir_ckpt_").toString
    val target = Seq((900L, "cat dog pet paw fur"), (901L, "cat dog bone"))
      .toDF("doc_id", "text")
    // bootstrap: EMPTY raw corpus — everything arrives through the stream
    DsirService.buildLayout(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      target, "text", "doc_id", root, buckets = 64)
    val all = Seq((1L, "cat dog pet collar"), (2L, "bond yield swap rate"),
      (3L, "cat bone paw"), (4L, ""))
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.dsirIngestStream(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", root, ckpt)
    try {
      mem.addData(all.take(2): _*); q.processAllAvailable()
      mem.addData(all.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    // nightly fold: O(buckets) re-derive, never a corpus rescan
    assert(!graft.serve.Maintenance.nightlyDsirFold(spark, root))
    val allDf = all.toDF("doc_id", "text")
    val folded = DsirService.overParquetDir(spark, root)
    assert(folded.buckets === 64)
    val streamed = folded.scoreStats(allDf, "text", "doc_id")
      .as[(Long, Long, BigDecimal, BigDecimal, BigDecimal)]
      .collect().sortBy(_._1).toSeq
    // the pin: stream-folded weights ≡ a full retrain on the same corpus
    val direct = TextOps.dsirStats(allDf, target, "text", "doc_id",
        buckets = 64)
      .as[(Long, Long, BigDecimal, BigDecimal, BigDecimal)]
      .collect().sortBy(_._1).toSeq
    assert(streamed === direct)
  }

  test("dsirIngestBatch is exactly-once in effect: a replayed batch — " +
      "committed or crashed mid-append — never double-counts the marginal") {
    import graft.serve.DsirService
    val root = java.nio.file.Files.createTempDirectory("dsir_replay_").toString
    val target = Seq((900L, "cat dog")).toDF("doc_id", "text")
    DsirService.buildLayout(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      target, "text", "doc_id", root, buckets = 64)
    val b0 = Seq((1L, "cat dog pet"), (2L, "bond yield")).toDF("doc_id", "text")
    val b1 = Seq((3L, "cat bone")).toDF("doc_id", "text")
    assert(StreamOps.dsirIngestBatch(b0, "text", "doc_id", root, 0, 64))
    assert(StreamOps.dsirIngestBatch(b1, "text", "doc_id", root, 1, 64))
    def marginal(): Map[Int, Long] =
      spark.read.parquet(s"$root/raw").groupBy("b")
        .agg(org.apache.spark.sql.functions.sum("cr").as("cr"))
        .as[(Int, Long)].collect().toMap
    val once = marginal()
    // replay AFTER the ledger marker landed (post-commit crash): skipped
    assert(!StreamOps.dsirIngestBatch(b1, "text", "doc_id", root, 1, 64))
    assert(marginal() === once)
    // crash BETWEEN delta append and checkpoint commit: marker deleted,
    // data files in place — the redo must scrub its own files first
    val marker = new java.io.File(s"$root/_ledger/batch-1")
    assert(marker.exists()); assert(marker.delete())
    assert(StreamOps.dsirIngestBatch(b1, "text", "doc_id", root, 1, 64))
    assert(marginal() === once)
    // net marginal equals single delivery of every document
    val direct = graft.text.TextOps.dsirBatchMarginal(
        b0.unionByName(b1), "text", "doc_id", buckets = 64)
      .as[(Int, Long)].collect().toMap
    assert(once === direct)
  }

  test("rollingQuantileIngestStream: streamed hourly sketch deltas + " +
      "nightly fold ≡ batch build — exact n_samples, quantiles within " +
      "the KLL envelope of the exact twin; probe serves post-fold") {
    import graft.serve.RollingQuantileService
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("rq_stream_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rq_ckpt_").toString
    def hr(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // bootstrap: EMPTY layout — everything arrives through the stream
    RollingQuantileService.buildLayout(
      Seq.empty[(String, Timestamp, Double)].toDF("event_type", "ts", "value"),
      "event_type", "ts", "value", root, k = 200)
    // 3 hours × 200 values per hour for type a, sparse type b
    val all = (for { h <- 0 until 3; i <- 0 until 200 }
      yield ("a", hr(h, i % 60), (h * 100 + i % 100).toDouble)) ++
      Seq(("b", hr(1, 5), 7.0), ("b", hr(2, 6), 9.0))
    val mem = MemoryStream[(String, Timestamp, Double)]
    val q = StreamOps.rollingQuantileIngestStream(
      mem.toDF().toDF("event_type", "ts", "value"),
      "event_type", "ts", "value", root, ckpt)
    try {
      mem.addData(all.take(300): _*); q.processAllAvailable()
      mem.addData(all.drop(300): _*); q.processAllAvailable()
    } finally q.stop()
    // pre-fold: reader-side delta folding already serves correct counts
    val preFold = RollingQuantileService.overParquetDir(spark, root)
      .trailingSeries(window = 2).select("hour_us", "event_type",
        "n_samples", "p50", "p95")
      .as[(Long, String, Long, Option[Double], Option[Double])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // nightly fold: sketch-row arithmetic, marker-fenced swap (the
    // layout is date-partitioned now — count parquet files RECURSIVELY
    // under the d=... directories)
    assert(!graft.serve.Maintenance.nightlyRollingQuantiles(spark, root))
    def parquetCount(dir: java.io.File): Int =
      if (!dir.exists) 0
      else dir.listFiles.map(f =>
        if (f.isDirectory) parquetCount(f)
        else if (f.getName.endsWith(".parquet")) 1 else 0).sum
    val hourlyFiles = parquetCount(new java.io.File(s"$root/hourly"))
    assert(hourlyFiles >= 1 && hourlyFiles <= 2,
      s"fold should compact delta files, got $hourlyFiles")
    val folded = RollingQuantileService.overParquetDir(spark, root)
    val post = folded.trailingSeries(window = 2)
      .select("hour_us", "event_type", "n_samples", "p50", "p95")
      .as[(Long, String, Long, Option[Double], Option[Double])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // exact twin over the SAME events: n_samples must match exactly,
    // quantiles within a generous rank-error envelope (span ≤ 300)
    val exact = graft.ops.EventAnalytics.rollingHourlyQuantiles(
        all.toDF("event_type", "ts", "value"), "event_type", "ts",
        "value", window = 2)
      .select("hour_us", "event_type", "n_samples", "p50", "p95")
      .as[(Long, String, Long, Option[Double], Option[Double])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(post.keySet === exact.keySet, "same spine as the exact twin")
    exact.foreach { case (key, (n, ep50, ep95)) =>
      val (sn, sp50, sp95) = post(key)
      assert(sn === n, s"$key: streamed-folded n_samples must be exact")
      assert(preFold(key)._1 === n, s"$key: pre-fold n_samples exact too")
      for ((e, a) <- Seq((ep50, sp50), (ep95, sp95))) {
        assert(e.isDefined === a.isDefined, s"$key: presence must match")
        e.foreach(ev => assert(math.abs(ev - a.get) <= 15.0,
          s"$key: sketch ${a.get} too far from exact $ev"))
      }
    }
    // the operational probe: one row per type with data in the window,
    // as-of the latest stored hour
    val probe = folded.latestTrailing(window = 2)
      .select("event_type", "n_samples")
      .as[(String, Long)].collect().toMap
    assert(probe("a") === 400L, "hours 1-2 carry 2×200 type-a values")
    assert(probe("b") === 2L)
  }

  test("rollingQuantileIngestBatch is exactly-once in effect: a replayed " +
      "batch — committed or crashed mid-append — never double-counts") {
    import graft.serve.RollingQuantileService
    val root = java.nio.file.Files.createTempDirectory("rq_replay_").toString
    def hr(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    RollingQuantileService.buildLayout(
      Seq.empty[(String, Timestamp, Double)].toDF("event_type", "ts", "value"),
      "event_type", "ts", "value", root, k = 200)
    val b0 = Seq(("a", hr(0), 1.0), ("a", hr(0), 2.0), ("b", hr(1), 5.0))
      .toDF("event_type", "ts", "value")
    val b1 = Seq(("a", hr(1), 3.0)).toDF("event_type", "ts", "value")
    assert(StreamOps.rollingQuantileIngestBatch(b0, "event_type", "ts",
      "value", root, 0, 200))
    assert(StreamOps.rollingQuantileIngestBatch(b1, "event_type", "ts",
      "value", root, 1, 200))
    def counts(): Map[(Long, String), Long] =
      spark.read.parquet(s"$root/hourly")
        .groupBy("h", "event_type")
        .agg(org.apache.spark.sql.functions.sum("n").as("n"))
        .select(org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("h")).as("hus"),
          $"event_type", $"n")
        .as[(Long, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val once = counts()
    assert(once.values.sum === 4L)
    // replay AFTER the ledger marker landed (post-commit crash): skipped
    assert(!StreamOps.rollingQuantileIngestBatch(b1, "event_type", "ts",
      "value", root, 1, 200))
    assert(counts() === once)
    // crash BETWEEN delta append and marker commit: marker deleted,
    // data files in place — the redo must scrub its own files first
    val marker = new java.io.File(s"$root/_ledger/batch-1")
    assert(marker.exists()); assert(marker.delete())
    assert(StreamOps.rollingQuantileIngestBatch(b1, "event_type", "ts",
      "value", root, 1, 200))
    assert(counts() === once)
    // a mis-k'd delta is refused BEFORE anything lands: mixed-resolution
    // sketches would merge silently and degrade every later fold
    val e = intercept[IllegalArgumentException] {
      StreamOps.rollingQuantileIngestBatch(b1, "event_type", "ts",
        "value", root, 2, 100)
    }
    assert(e.getMessage.contains("pinned to k = 200"))
    assert(counts() === once)
  }

  test("legacy FLAT rolling-quantile layout migrates on first touch: " +
      "partitioned rewrite + schema sidecar; old rows AND new deltas " +
      "serve together; an empty legacy bootstrap migrates too") {
    import graft.serve.RollingQuantileService
    def hr(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // fabricate a round-19-style layout BY HAND: flat part-files
    // directly under root/hourly (no d column), no schema sidecar
    val root = java.nio.file.Files.createTempDirectory("rq_legacy_").toString
    Seq(200).toDF("k").coalesce(1).write.mode("overwrite")
      .parquet(s"$root/meta")
    RollingQuantileService.hourlySketches(
        Seq(("a", hr(0), 1.0), ("a", hr(1), 2.0))
          .toDF("event_type", "ts", "value"),
        "event_type", "ts", "value", 200)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/hourly")
    assert(!new java.io.File(s"$root/schema").exists)
    // first streamed delta must migrate FIRST — a partitioned delta
    // next to flat files would brick partition discovery for good
    assert(StreamOps.rollingQuantileIngestBatch(
      Seq(("a", hr(2), 3.0)).toDF("event_type", "ts", "value"),
      "event_type", "ts", "value", root, 0, 200))
    assert(new java.io.File(s"$root/schema").exists,
      "migration writes the schema sidecar")
    val dirs = new java.io.File(s"$root/hourly").listFiles
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("d=")),
      s"flat files rewritten into date partitions, got $dirs")
    val probe = RollingQuantileService.overParquetDir(spark, root)
      .latestTrailing(window = 24).select("event_type", "n_samples")
      .as[(String, Long)].collect().toMap
    assert(probe("a") === 3L,
      "pre-migration rows AND the streamed delta both serve")
    // empty legacy bootstrap (the old empty flat write DID emit one
    // schema-bearing part-file): migration must leave a readable layout
    val root2 = java.nio.file.Files.createTempDirectory("rq_legacy0_").toString
    Seq(200).toDF("k").coalesce(1).write.mode("overwrite")
      .parquet(s"$root2/meta")
    RollingQuantileService.hourlySketches(
        Seq.empty[(String, Timestamp, Double)]
          .toDF("event_type", "ts", "value"),
        "event_type", "ts", "value", 200)
      .coalesce(1).write.mode("overwrite").parquet(s"$root2/hourly")
    val svc2 = RollingQuantileService.overParquetDir(spark, root2)
    assert(svc2.latestTrailing(window = 24).collect().isEmpty)
    assert(new java.io.File(s"$root2/schema").exists)
  }

  test("rolling-quantile layout is DATE-PARTITIONED and latestTrailing " +
      "prunes the probe scan to the window's partitions (plan-pinned); " +
      "per-type last_data_us surfaces staleness") {
    import graft.serve.RollingQuantileService
    val root = java.nio.file.Files.createTempDirectory("rq_part_").toString
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // 5 days × 4 early hours of type-a data; type b stalls after day 4
    val ev = (for { d <- 1 to 5; h <- 0 until 4; i <- 0 until 3 }
      yield ("a", ts(d, h), (d * 10 + i).toDouble)) ++
      Seq(("b", ts(4, 23), 1.0))
    RollingQuantileService.buildLayout(ev.toDF("event_type", "ts", "value"),
      "event_type", "ts", "value", root, k = 200)
    // physical layout: one d=YYYY-MM-DD directory per day
    val dirs = new java.io.File(s"$root/hourly").listFiles
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs === (1 to 5).map(d => f"d=2024-01-$d%02d"),
      s"expected one date partition per day, got $dirs")
    val svc = RollingQuantileService.overParquetDir(spark, root)
    // as-of hour = 2024-01-05 03:00; 24 h window reaches back to
    // 2024-01-04 04:00 → in-window data: a's 4 day-5 hours (12 values),
    // b's 23:00 heartbeat on day 4 (1 value, its OWN last data hour)
    val probe = svc.latestTrailing(window = 24)
    val rows = probe.collect()
    val byType = rows.map(r => r.getString(1) -> r).toMap
    val hiUs = ts(5, 3).getTime * 1000L
    assert(byType.keySet === Set("a", "b"))
    assert(byType("a").getLong(0) === hiUs && byType("b").getLong(0) === hiUs,
      "hour_us is the GLOBAL as-of stamp")
    assert(byType("a").getLong(3) === 12L, "4 in-window hours × 3 values")
    assert(byType("b").getLong(3) === 1L)
    assert(byType("a").getLong(2) === hiUs, "a has data at the as-of hour")
    assert(byType("b").getLong(2) === ts(4, 23).getTime * 1000L,
      "b's last_data_us is its OWN latest data hour — the stall is visible")
    // plan pin: the probe's data scan must carry a PartitionFilter on d
    // (≤ ⌈window/24⌉ + 1 partitions read, never the whole retention)
    val scans = allPlanNodes(probe.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a parquet scan in the probe plan")
    scans.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "d")),
        "probe scan must prune by the d partition column — an unpruned " +
          "scan reads the layout's entire retention: " + s.partitionFilters)
    }
  }

  test("rolling-quantile stored spine matches the in-query face for " +
      "null-valued/heartbeat events (all-null groups kept as n = 0); " +
      "empty LM model refuses to score with the real cause") {
    import graft.serve.{LmService, RollingQuantileService}
    def hr(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // type b exists ONLY via a null-valued heartbeat at the LAST hour:
    // it must still appear in the spine, and the bounds must extend to
    // its hour — on both the in-query and the stored path
    val ev = Seq(("a", hr(0), Option(5.0)), ("a", hr(1), Option(7.0)),
      ("b", hr(2), Option.empty[Double]))
      .toDF("event_type", "ts", "value")
    val inQuery = graft.ops.EventAnalytics.rollingHourlyQuantilesSketch(
        ev, "event_type", "ts", "value", window = 2, ps = Seq(0.5))
      .select("hour_us", "event_type", "n_samples")
      .as[(Long, String, Long)].collect().toSet
    val root = java.nio.file.Files.createTempDirectory("rq_spine_").toString
    RollingQuantileService.buildLayout(ev, "event_type", "ts", "value",
      root, k = 200)
    val stored = RollingQuantileService.overParquetDir(spark, root)
      .trailingSeries(window = 2, ps = Seq(0.5))
      .select("hour_us", "event_type", "n_samples")
      .as[(Long, String, Long)].collect().toSet
    assert(stored === inQuery, "stored spine ≡ in-query spine")
    assert(inQuery.exists { case (_, t, n) => t == "b" && n == 0 },
      "heartbeat-only type present with n = 0")
    assert(inQuery.map(_._1).size === 3, "bounds extend to the null hour")
    // empty LM model: loud call-time refusal, not a mid-job ANSI error
    val lmRoot = java.nio.file.Files.createTempDirectory("lm_empty_").toString
    LmService.buildLayout(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", "doc_id", lmRoot)
    val err = intercept[IllegalArgumentException] {
      LmService.overParquetDir(spark, lmRoot)
        .score(Seq((1L, "a b")).toDF("doc_id", "text"), "text", "doc_id")
    }
    assert(err.getMessage.contains("EMPTY model"))
  }

  test("lmIngestStream: streamed count deltas + nightly fold ≡ full " +
      "retrain BIT-IDENTICAL; stored scoring ≡ in-query on the corpus") {
    import graft.serve.LmService
    import graft.text.TextOps
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("lm_stream_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lm_ckpt_").toString
    // bootstrap: EMPTY corpus — everything arrives through the stream
    LmService.buildLayout(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", "doc_id", root)
    val all = Seq((1L, "the cat sat on the mat"),
      (2L, "the dog sat"), (3L, "cat dog cat"), (4L, ""))
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.lmIngestStream(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", root, ckpt)
    try {
      mem.addData(all.take(2): _*); q.processAllAvailable()
      mem.addData(all.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    assert(!graft.serve.Maintenance.nightlyLmFold(spark, root))
    val allDf = all.toDF("doc_id", "text")
    // fold ≡ retrain, bit-identical (integer counts are additive)
    val (bgDirect, wDirect) = TextOps.lmBatchCounts(allDf, "text", "doc_id")
    def bgSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Long)].collect().toSet
    def wSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long)].collect().toSet
    assert(bgSet(spark.read.parquet(s"$root/bigrams")) === bgSet(bgDirect))
    assert(wSet(spark.read.parquet(s"$root/words")) === wSet(wDirect))
    // scoring the training corpus from the stored model ≡ the in-query
    // retrain-per-call form, bit-for-bit
    val svc = LmService.overParquetDir(spark, root)
    assert(svc.vocabSize === 6L) // the, cat, sat, on, mat, dog
    val stored = svc.score(allDf, "text", "doc_id")
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    val direct = TextOps.ngramLmScore(allDf, "text", "doc_id")
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    assert(stored === direct)
  }

  test("lmIngestBatch is exactly-once in effect: a replayed batch — " +
      "committed or crashed mid-append — never double-counts; unseen " +
      "bigrams/contexts score at the smoothing floor") {
    import graft.serve.LmService
    import graft.text.TextOps
    val root = java.nio.file.Files.createTempDirectory("lm_replay_").toString
    LmService.buildLayout(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", "doc_id", root)
    val b0 = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    val b1 = Seq((3L, "a b c")).toDF("doc_id", "text")
    assert(StreamOps.lmIngestBatch(b0, "text", "doc_id", root, 0))
    assert(StreamOps.lmIngestBatch(b1, "text", "doc_id", root, 1))
    def folded(): Map[(String, String), Long] =
      spark.read.parquet(s"$root/bigrams").groupBy("w", "nxt")
        .agg(org.apache.spark.sql.functions.sum("c").as("c"))
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val once = folded()
    // hand counts over both batches: ab×3 ba×1 bc×2
    assert(once === Map(("a", "b") -> 3L, ("b", "a") -> 1L,
      ("b", "c") -> 2L))
    // replay AFTER the marker landed (post-commit crash): skipped
    assert(!StreamOps.lmIngestBatch(b1, "text", "doc_id", root, 1))
    assert(folded() === once)
    // crash BETWEEN delta append and marker commit: marker deleted,
    // data files in place — the redo scrubs its own files first
    val marker = new java.io.File(s"$root/_ledger/batch-1")
    assert(marker.exists()); assert(marker.delete())
    assert(StreamOps.lmIngestBatch(b1, "text", "doc_id", root, 1))
    assert(folded() === once)
    // held-out smoothing floor: "z q" has unseen words — cbg = 0 and
    // cw = 0, so each bigram scores ln(1 / V) with V = 3 (a, b, c);
    // "a b" scores ln((3+1)/(3+3)): cbg(a,b) = 3, cw(a) = 3
    val svc = LmService.overParquetDir(spark, root)
    val got = svc.score(Seq((9L, "z q"), (10L, "a b"))
        .toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    def r6(d: Double) = BigDecimal(d)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq(
      (9L, 1L, Some(r6(math.log(1.0 / 3.0)))),
      (10L, 1L, Some(r6(math.log(4.0 / 6.0))))))
  }

  test("bm25IngestStream: streamed micro-batches ≡ batch rebuild; " +
      "search serves a doc right after it streams in") {
    import graft.serve.SearchService
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("bm25_stream_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bm25_ckpt_").toString
    // bootstrap an EMPTY layout — the streaming sink only ever appends
    SearchService.buildIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", "doc_id", root)
    val all = Seq((1L, "Apple banana apple"), (2L, "banana"),
      (3L, "cherry apple"), (4L, ""))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.bm25IngestStream(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", root, ckpt)
    try {
      mem.addData(all.take(2): _*); q.processAllAvailable()
      // the doc streamed in batch 2 must be retrievable right after
      mem.addData(all.drop(2): _*); q.processAllAvailable()
      val svc = SearchService.overParquetDir(spark, root, maxK = 10)
      assert(svc.topK(Seq("apple", "banana"), 3).map(_._1) === Seq(1L, 2L, 3L))
      assert(svc.topK(Seq("cherry"), 1).map(_._1) === Seq(3L))
      // the streamed layout equals a from-scratch batch rebuild
      val rebuilt = java.nio.file.Files.createTempDirectory("bm25_rb_").toString
      SearchService.buildIndex(all.toDF("doc_id", "text"), "text", "doc_id",
        rebuilt)
      def postings(r: String): Set[String] =
        spark.read.parquet(s"$r/postings")
          .select("term", "doc_id", "tf", "dl", "bucket")
          .collect().map(_.toString).toSet
      assert(postings(root) === postings(rebuilt))
      // streamed layouts carry one stats DELTA row per batch; the
      // effective stats (readStats sums) must equal the rebuilt one-row
      assert(SearchService.readStats(spark, root)
          .select("n_docs", "dl_sum").first() ===
        SearchService.readStats(spark, rebuilt)
          .select("n_docs", "dl_sum").first())
    } finally q.stop()
  }

  test("bm25IngestBatch is exactly-once in effect: a replayed batch — " +
      "committed or crashed mid-append — never double-counts") {
    import graft.serve.SearchService
    val root = java.nio.file.Files.createTempDirectory("bm25_replay_").toString
    SearchService.buildIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", "doc_id", root)
    val b0 = Seq((1L, "apple banana apple"), (2L, "banana")).toDF("doc_id", "text")
    val b1 = Seq((3L, "cherry apple"), (4L, "")).toDF("doc_id", "text")
    assert(StreamOps.bm25IngestBatch(b0, "text", "doc_id", root, batchId = 0))
    assert(StreamOps.bm25IngestBatch(b1, "text", "doc_id", root, batchId = 1))
    def snapshot(): (Set[String], (Long, Long)) = {
      val p = spark.read.parquet(s"$root/postings")
        .select("term", "doc_id", "tf", "dl", "bucket")
        .collect().map(_.toString).toSet
      val st = SearchService.readStats(spark, root)
        .as[(Long, Long)].first()
      (p, st)
    }
    val once = snapshot()
    // replay AFTER the ledger marker landed (post-commit crash): skipped
    assert(!StreamOps.bm25IngestBatch(b1, "text", "doc_id", root, batchId = 1))
    assert(snapshot() === once)
    // replay after a crash BETWEEN the data append and the checkpoint
    // commit — the classic double-count window: simulate by deleting the
    // ledger marker so the data files are in place but the batch looks
    // uncommitted; the redo must scrub its own files first
    val marker = new java.io.File(s"$root/_ledger/batch-1")
    assert(marker.exists()); assert(marker.delete())
    assert(StreamOps.bm25IngestBatch(b1, "text", "doc_id", root, batchId = 1))
    assert(snapshot() === once)
    // and the net index equals a from-scratch rebuild (single delivery)
    val rebuilt = java.nio.file.Files.createTempDirectory("bm25_replay_rb_").toString
    SearchService.buildIndex(b0.unionByName(b1), "text", "doc_id", rebuilt)
    assert(once._2 === SearchService.readStats(spark, rebuilt)
      .as[(Long, Long)].first())
    assert(once._1.map(_.toString) === spark.read.parquet(s"$rebuilt/postings")
      .select("term", "doc_id", "tf", "dl", "bucket")
      .collect().map(_.toString).toSet)
  }

  test("bm25IngestStream kill-and-replay on the same checkpoint: the " +
      "re-delivered batch leaves the served index equal to single delivery") {
    import graft.serve.SearchService
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("bm25_kr_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bm25_kr_ckpt_").toString
    val src = java.nio.file.Files.createTempDirectory("bm25_kr_src_").toString
    SearchService.buildIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", "doc_id", root)
    val all = Seq((1L, "apple banana apple"), (2L, "banana"),
      (3L, "cherry apple"))
    all.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").json(src)
    val schema = "doc_id LONG, text STRING"
    def run(): Unit = {
      // a stopped query deregisters from SharedState.activeStreamingQueries
      // asynchronously; a too-fast restart on the same checkpoint (same
      // query id) trips the concurrent-instance guard — retry briefly
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var done = false
      while (!done) {
        val q = StreamOps.bm25IngestStream(
          spark.readStream.schema(schema).json(src), "text", "doc_id", root,
          ckpt)
        try { q.processAllAvailable(); done = true }
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException
              if e.getMessage.contains("concurrently using") &&
                System.nanoTime() < deadline => Thread.sleep(200)
        } finally q.stop()
      }
    }
    run()
    // kill AFTER the append but BEFORE the checkpoint commit: delete the
    // checkpoint's commit record so the restart re-delivers the batch
    // with the same batchId — exactly the crash window the idempotent
    // commit exists for
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.matches("\\d+"))
    assert(commits.nonEmpty)
    assert(commits.maxBy(_.getName.toLong).delete())
    run() // replays the batch
    val rebuilt = java.nio.file.Files.createTempDirectory("bm25_kr_rb_").toString
    SearchService.buildIndex(all.toDF("doc_id", "text"), "text", "doc_id",
      rebuilt)
    def postings(r: String): Set[String] =
      spark.read.parquet(s"$r/postings")
        .select("term", "doc_id", "tf", "dl", "bucket")
        .collect().map(_.toString).toSet
    assert(postings(root) === postings(rebuilt))
    assert(SearchService.readStats(spark, root).as[(Long, Long)].first() ===
      SearchService.readStats(spark, rebuilt).as[(Long, Long)].first())
    // and the served top-k matches a service over the rebuilt layout
    val svc = SearchService.overParquetDir(spark, root, maxK = 10)
    val svcRb = SearchService.overParquetDir(spark, rebuilt, maxK = 10)
    assert(svc.topK(Seq("apple", "banana"), 3) ===
      svcRb.topK(Seq("apple", "banana"), 3))
  }

  test("ivfIngestBatch replay-safety: crashed-mid-append and post-commit " +
      "replays both leave the layout at single delivery") {
    import graft.sim.Ivf
    val dim = 8
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val seed = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("ivf_replay_").toString
    val cents = Ivf.portableCentroids(seed, nlist = 4, stride = 13)
    cents.write.mode("overwrite").parquet(s"$root/centroids")
    Ivf.assignPortable(seed, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$root/assigned")
    val delta = Seq((100L, vec(100)), (101L, vec(101)))
      .toDF("vec_id", "embedding")
    assert(StreamOps.ivfIngestBatch(delta, cents, root, batchId = 0))
    def rows(): Seq[(Long, Int)] = // Seq, not Set: duplicates must surface
      spark.read.parquet(s"$root/assigned").select("cand_id", "cell")
        .as[(Long, Int)].collect().toSeq.sorted
    val once = rows()
    assert(!StreamOps.ivfIngestBatch(delta, cents, root, batchId = 0))
    assert(rows() === once)
    val marker = new java.io.File(s"$root/_ledger/batch-0")
    assert(marker.delete())
    assert(StreamOps.ivfIngestBatch(delta, cents, root, batchId = 0))
    assert(rows() === once)
    assert(once === Ivf.assignPortable(seed.unionByName(delta), cents)
      .select("cand_id", "cell").as[(Long, Int)].collect().toSeq.sorted)
  }

  test("ivfIngestStream: streamed vectors land in their cells; the " +
      "stored layout serves a vector right after it streams in") {
    import graft.sim.{Ivf, IvfIndex}
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    // quantizer trained on a seed corpus; the stream ingests NEW vectors
    val seed = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("ivf_stream_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivf_ckpt_").toString
    val cents = Ivf.portableCentroids(seed, nlist = 4, stride = 13)
    cents.write.mode("overwrite").parquet(s"$root/centroids")
    Ivf.assignPortable(seed, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$root/assigned")
    val streamed = Seq((100L, vec(100)), (101L, vec(101)),
      (9007L, vec(7))) // exact copy of seed vector 7 arrives live
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamOps.ivfIngestStream(
      mem.toDF().toDF("vec_id", "embedding"), root, ckpt)
    try {
      mem.addData(streamed.take(2): _*); q.processAllAvailable()
      mem.addData(streamed.drop(2): _*); q.processAllAvailable()
      // layout ≡ one-shot assignment of everything under the same quantizer
      val all = seed.unionByName(streamed.toDF("vec_id", "embedding"))
      def rows(d: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
        d.select("cand_id", "cell").as[(Long, Int)].collect().toSet
      assert(rows(spark.read.parquet(s"$root/assigned")) ===
        rows(Ivf.assignPortable(all, cents)))
      // and the freshly-streamed copy is retrievable at score 1.0
      val stored = IvfIndex(spark.read.parquet(s"$root/centroids"),
        spark.read.parquet(s"$root/assigned"))
      val hit = Ivf.probePortable(stored, Seq((7L, vec(7)))
          .toDF("vec_id", "embedding"), k = 1, nprobe = 1)
        .select("cand_id", "cosine").as[(Long, Double)].head()
      assert(hit === ((9007L, 1.0)), hit.toString)
    } finally q.stop()
  }

  test("rpIngestStream: streamed vectors project into the stored reduced " +
      "frame; replay-safe; the RP backend serves them") {
    import graft.sim.Similarity
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val seedCorpus = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("rp_stream_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rp_ckpt_").toString
    Similarity.rpReduce(seedCorpus, "vec_id", "embedding",
        dimOut = 8, seed = 42)
      .write.mode("overwrite").parquet(s"$root/reduced")
    val streamed = Seq((100L, vec(100)), (9007L, vec(7)))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.rpIngestStream(
      mem.toDF().toDF("vec_id", "embedding"), root, ckpt, dimOut = 8, seed = 42)
    try {
      mem.addData(streamed.take(1): _*); q.processAllAvailable()
      mem.addData(streamed.drop(1): _*); q.processAllAvailable()
    } finally q.stop()
    // layout ≡ one-shot reduction of everything under the same projection
    val all = seedCorpus.unionByName(streamed.toDF("vec_id", "embedding"))
    def rows(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.select("id", "r").collect().map(_.toString).toSet
    assert(rows(spark.read.parquet(s"$root/reduced")) ===
      rows(Similarity.rpReduce(all, "vec_id", "embedding", 8, 42)))
    // replay safety: post-commit replay skipped; crashed-mid-append redo
    // scrubs its own files (Seq-based duplicate check, not Set)
    val b1 = streamed.drop(1).toDF("vec_id", "embedding")
    assert(!StreamOps.rpIngestBatch(b1, root, batchId = 1))
    val marker = new java.io.File(s"$root/_ledger/batch-1")
    assert(marker.delete())
    assert(StreamOps.rpIngestBatch(b1, root, batchId = 1))
    val ids = spark.read.parquet(s"$root/reduced")
      .select("id").as[Long].collect().toSeq.sorted
    assert(ids === ((0L until 40L) ++ Seq(100L, 9007L)).sorted)
    // the freshly-streamed copy of vector 7 is served at cosine 1.0
    val svc = graft.serve.AnnRpService.overParquetDir(spark, root,
      maxK = 10, shortlist = 42, seed = 42)
    val hit = svc.topK(vec(7).toIndexedSeq, 2)
    assert(hit.map(_._1).toSet === Set(7L, 9007L), hit.toString)
  }

  test("sqIngestStream: streamed vectors quantize into the stored frame; " +
      "streamed ≡ batch-rebuilt EXACTLY; replay-safe; served") {
    import graft.sim.Sq
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val seedCorpus = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("sq_stream_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sq_ckpt_").toString
    Sq.quantize(seedCorpus).write.mode("overwrite").parquet(s"$root/quantized")
    val streamed = Seq((100L, vec(100)), (9007L, vec(7)))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.sqIngestStream(
      mem.toDF().toDF("vec_id", "embedding"), root, ckpt)
    try {
      mem.addData(streamed.take(1): _*); q.processAllAvailable()
      mem.addData(streamed.drop(1): _*); q.processAllAvailable()
    } finally q.stop()
    // layout ≡ one-shot quantization of everything — EXACT equality,
    // per-vector scales have no frozen artifact to diverge under
    val all = seedCorpus.unionByName(streamed.toDF("vec_id", "embedding"))
    def rows(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.withColumn("__qh",
          org.apache.spark.sql.functions.hex(
            org.apache.spark.sql.functions.col("q"))).drop("q")
        .collect().map(_.toString).toSet
    assert(rows(spark.read.parquet(s"$root/quantized")) ===
      rows(Sq.quantize(all)))
    // replay safety: post-commit replay skipped; crashed-mid-append redo
    val b1 = streamed.drop(1).toDF("vec_id", "embedding")
    assert(!StreamOps.sqIngestBatch(b1, root, batchId = 1))
    val marker = new java.io.File(s"$root/_ledger/batch-1")
    assert(marker.delete())
    assert(StreamOps.sqIngestBatch(b1, root, batchId = 1))
    val ids = spark.read.parquet(s"$root/quantized")
      .select("cand_id").as[Long].collect().toSeq.sorted
    assert(ids === ((0L until 40L) ++ Seq(100L, 9007L)).sorted)
    // the freshly-streamed copy of vector 7 is served
    val svc = graft.serve.AnnSqService.overParquetDir(spark, root, maxK = 10)
    val hit = svc.topK(vec(7).toIndexedSeq, 2)
    assert(hit.map(_._1).toSet === Set(7L, 9007L), hit.toString)
  }

  test("edgeIngestStream: streamed edges land in the graph store; " +
      "streamed ≡ batch-collected EXACTLY through the nightly; " +
      "replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("gr_stream_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gr_ckpt_").toString
    // seed store: a star around 1
    val seed = Seq((2L, 1L), (3L, 1L), (1L, 2L))
    seed.toDF("src", "dst").write.parquet(s"$root/edges")
    graft.serve.GraphRankService.buildPageRank(
      seed.toDF("src", "dst"), "src", "dst", root)
    // stream two batches that re-center the graph on 9
    val streamed = Seq((2L, 9L), (3L, 9L), (4L, 9L), (9L, 2L), (5L, 9L))
    val mem = MemoryStream[(Long, Long)]
    val q = StreamOps.edgeIngestStream(mem.toDF().toDF("src", "dst"),
      root, ckpt)
    try {
      mem.addData(streamed.take(2): _*); q.processAllAvailable()
      mem.addData(streamed.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    // the stored edge set is exactly seed ∪ streamed
    assert(spark.read.parquet(s"$root/edges").as[(Long, Long)]
      .collect().sorted.toSeq === (seed ++ streamed).sorted)
    // replay safety: a committed batch is a no-op; a crashed-mid-append
    // redo (ledger marker gone) re-runs and the scrub keeps rows exact
    val b1 = streamed.drop(2).toDF("src", "dst")
    assert(!StreamOps.edgeIngestBatch(b1, root, batchId = 1))
    val marker = new java.io.File(s"$root/_ledger/batch-1")
    assert(marker.delete())
    assert(StreamOps.edgeIngestBatch(b1, root, batchId = 1))
    assert(spark.read.parquet(s"$root/edges").as[(Long, Long)]
      .collect().sorted.toSeq === (seed ++ streamed).sorted)
    // the nightly rebuild folds the streamed edges into serving: ranks
    // from the store ≡ ranks from a one-shot batch of the same edges
    assert(!graft.serve.Maintenance.nightlyGraph(spark, root,
      spark.read.parquet(s"$root/edges"), "src", "dst"))
    val oneShot = graft.graph.Graph.pageRankInt(
        (seed ++ streamed).toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toSet
    assert(spark.read.parquet(s"$root/ranks").as[(Long, Long)]
      .collect().toSet === oneShot) // integer-exact, bit-for-bit
    // serving reflects the streamed graph: the top node is the one-shot
    // argmax (node 9's mass funnels to 2 — its only out-edge — so the
    // pre-stream hub 1 must NOT lead anymore)
    val served = graft.serve.GraphRankService.overParquetDir(spark, root)
      .topK(1)
    assert(served.head._1 === oneShot.maxBy(r => (r._2, -r._1))._1)
    assert(served.head._1 !== 1L)
  }

  test("ivfPqIngestStream: streamed vectors residual-encode into their " +
      "cells; the compressed layout serves them") {
    import graft.sim.{IvfPq, IvfPqIndex}
    implicit val sqlCtx = spark.sqlContext
    // the zero-residual grid: nlist = 4 recovers the 4 distinct points
    val alphabet = Seq(
      Array(1f, 0f), Array(0f, 2f), Array(2f, 2f), Array(-1f, 1f))
    def gridVec(i: Int): Array[Float] =
      (0 until 4).flatMap(j => alphabet((i + j) % 4)).toArray
    val seed = (0 until 48).map(i => (i.toLong, gridVec(i)))
      .toDF("vec_id", "embedding")
    val idx = IvfPq.buildResidualIndex(seed, nlist = 4, m = 4, codebookSize = 4)
    val root = java.nio.file.Files.createTempDirectory("ivfpq_stream_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivfpq_ckpt_").toString
    idx.centroids.write.parquet(s"$root/centroids")
    idx.codebooks.write.parquet(s"$root/codebooks")
    idx.codes.write.partitionBy("cell").parquet(s"$root/codes")
    val streamed = Seq((9000L, gridVec(1)), (9001L, gridVec(2)))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamOps.ivfPqIngestStream(
      mem.toDF().toDF("vec_id", "embedding"), root, ckpt)
    try {
      mem.addData(streamed.take(1): _*); q.processAllAvailable()
      mem.addData(streamed.drop(1): _*); q.processAllAvailable()
      val stored = IvfPqIndex(spark.read.parquet(s"$root/centroids"),
        spark.read.parquet(s"$root/codebooks"),
        spark.read.parquet(s"$root/codes"))
      def rows(d: org.apache.spark.sql.DataFrame): Set[String] =
        d.select("cand_id", "cell", "__c0", "__c1", "__c2", "__c3")
          .collect().map(_.toString).toSet
      assert(rows(stored.codes) === rows(idx.codes.unionByName(
        IvfPq.encodeDeltaResidual(idx,
          streamed.toDF("vec_id", "embedding")))))
      // the streamed copy of gridVec(1) is one of the 13 exact ties at
      // the top score (12 seed copies + itself) — k = 13 must serve it
      val hits = IvfPq.probeResidualTopK(stored,
          Seq((10001L, gridVec(1))).toDF("vec_id", "embedding"),
          k = 13, nprobe = 4)
        .select("cand_id").as[Long].collect().toSet
      assert(hits.contains(9000L), hits.toString)
    } finally q.stop()
  }
  test("pqIngestStream: streamed vectors encode against the pinned " +
      "codebooks; replay-safe; the flat-PQ backend serves them") {
    import graft.sim.{Pq, PqIndex}
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(8)(rnd.nextGaussian().toFloat)
    }
    val seedCorpus = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("pq_stream_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pq_ckpt_").toString
    val idx = Pq.buildIndex(seedCorpus, m = 4, codebookSize = 8)
    idx.codebooks.write.parquet(s"$root/codebooks")
    idx.codes.write.parquet(s"$root/codes")
    val streamed = Seq((100L, vec(100)), (101L, vec(101)))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.pqIngestStream(
      mem.toDF().toDF("vec_id", "embedding"), root, ckpt)
    try {
      mem.addData(streamed.take(1): _*); q.processAllAvailable()
      mem.addData(streamed.drop(1): _*); q.processAllAvailable()
    } finally q.stop()
    // layout ≡ frozen-codebook encode of everything (stream ≡ batch)
    val all = seedCorpus.unionByName(streamed.toDF("vec_id", "embedding"))
    def rows(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.collect().map(_.toString).toSet
    assert(rows(spark.read.parquet(s"$root/codes")) ===
      rows(Pq.encodeWithCodebooks(all, idx.codebooks)))
    // replay safety: post-commit replay skipped; crashed-mid-append redo
    val b1 = streamed.drop(1).toDF("vec_id", "embedding")
    assert(!StreamOps.pqIngestBatch(b1, idx.codebooks, root, batchId = 1))
    assert(new java.io.File(s"$root/_ledger/batch-1").delete())
    assert(StreamOps.pqIngestBatch(b1, idx.codebooks, root, batchId = 1))
    assert(spark.read.parquet(s"$root/codes").count() === 42)
    // the streamed vectors are served through the flat-PQ backend
    // identically to an in-memory probe over the same merged index
    val svc = graft.serve.AnnFlatPqService.overParquetDir(spark, root,
      maxK = 5)
    val got = svc.topK(vec(100).toIndexedSeq, 3)
    val expect = Pq.probeTopK(
        PqIndex(idx.codebooks, Pq.encodeWithCodebooks(all, idx.codebooks)),
        Seq((-1L, vec(100))).toDF("vec_id", "embedding"), k = 3)
      .orderBy(org.apache.spark.sql.functions.col("rank"))
      .select("cand_id", "score", "rank")
      .as[(Long, Double, Int)].collect().toSeq
    assert(got === expect, s"$got vs $expect")
  }

  test("nearDupIngestBatch replay-safety: crashed-mid-append and post-commit " +
      "replays leave the layout at single delivery; streamed docs are " +
      "probe-visible at guaranteed recall") {
    import graft.serve.NearDupService
    val docs = (1 to 40).map(i =>
        (i.toLong, s"streamed corpus document $i about area ${i % 6} " +
          s"sharing body filler across the set ${i % 4}"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("nd_replay_").toString
    NearDupService.buildIndex(docs, "text", "doc_id", root)
    // the streamed delta: one new doc + one exact live copy of doc 7
    val copyOf7 = docs.filter($"doc_id" === 7L).select("text").as[String].head()
    val delta = Seq((100L, "a genuinely new streamed document body"),
      (107L, copyOf7)).toDF("doc_id", "text")
    assert(StreamOps.nearDupIngestBatch(delta, "text", "doc_id", root,
      batchId = 0))
    def sigIds(): Seq[Long] = // Seq, not Set: duplicates must surface
      spark.read.parquet(s"$root/signatures").select("id")
        .as[Long].collect().toSeq.sorted
    val once = sigIds()
    assert(once.size === 42)
    // post-commit replay: skipped by marker, nothing doubles
    assert(!StreamOps.nearDupIngestBatch(delta, "text", "doc_id", root,
      batchId = 0))
    assert(sigIds() === once)
    // crashed-mid-append: marker gone, files present — redo scrubs its
    // own batch-tagged leftovers first
    assert(new java.io.File(s"$root/_ledger/batch-0").delete())
    assert(StreamOps.nearDupIngestBatch(delta, "text", "doc_id", root,
      batchId = 0))
    assert(sigIds() === once)
    // layout uniform: every band holds exactly one row per live doc
    assert(NearDupService.bandStats(spark, root).collect()
      .forall(r => r.getAs[Long]("n_rows") === 42L &&
        r.getAs[Long]("n_ids") === 42L))
    // the streamed copy is probe-visible at guaranteed threshold-1.0
    // recall, identically to a batch appendDelta of the same delta
    val probe = Seq((999L, copyOf7)).toDF("doc_id", "text")
    val hits = NearDupService.probeVerified(spark, root, probe,
        docs.unionByName(delta), "text", "doc_id", threshold = 1.0)
      .select("ref_id").as[Long].collect().toSet
    assert(hits === Set(7L, 107L), s"got $hits")
    // occupancy audit reads clean integers off the streamed layout
    val occ = NearDupService.bucketStats(spark, root).collect()(0)
    assert(occ.getAs[Long]("n_rows") === 42L * 16)
  }
}
