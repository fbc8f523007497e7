package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq((1L, "hello payload"), (2L, "x"), (3L, null))
    .toDF("id", "txt")

  test("asPayload + withByteMeta: binary column with length and sha-256") {
    val df = Multimodal.withByteMeta(Multimodal.asPayload(docs, "txt"))
    assert(df.schema("payload").dataType.typeName === "binary")
    val r = df.orderBy("id").select("n_bytes", "sha").collect()
    assert(r(0).getLong(0) === 13L)
    assert(r(0).getString(1) ===
      java.security.MessageDigest.getInstance("SHA-256")
        .digest("hello payload".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString)
    assert(r(2).isNullAt(0))   // null payload → null meta, no crash
  }

  test("synthesizePng + decodeImage: real PNG round-trip recovers planted dims") {
    val ids = Seq(0L, 1L, 47L, 48L, 95L).toDF("id")
    val out = Multimodal.decodeImage(Multimodal.synthesizePng(ids, "id"))
    assert(out.schema("media").dataType === Multimodal.mediaMetaSchema)
    val rows = out.orderBy("id")
      .select("id", "media.format", "media.width", "media.height", "media.n_bytes")
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === "png")
      assert(r.getInt(2) === (id % 48).toInt + 8, s"width of id=$id")
      assert(r.getInt(3) === (id % 32).toInt + 8, s"height of id=$id")
      assert(r.getLong(4) > 50L) // a real PNG, not a magic-number shell
    }
  }

  test("decodeImage: null and undecodable payloads yield null media, no failure") {
    val out = Multimodal.decodeImage(Multimodal.asPayload(docs, "txt"))
    val rows = out.orderBy("id").select("media").collect()
    assert(rows.forall(_.isNullAt(0))) // text bytes aren't an image; null not crash
  }

  test("imagePatches: quadrant-colored image yields exact per-patch " +
      "luminance means; undersized and null payloads yield null") {
    // 8x8 image, 2x2 grid: each patch is one constant-color quadrant
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) {
      val rgb = (x < 4, y < 4) match {
        case (true, true)   => 0xFFFFFF // white  → 255.0
        case (false, true)  => 0x000000 // black  → 0.0
        case (true, false)  => 0xFF0000 // red    → 299·255/1000 = 76.245
        case (false, false) => 0x0000FF // blue   → 114·255/1000 = 29.07
      }
      img.setRGB(x, y, rgb)
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val df = Seq((1L, baos.toByteArray),
      (2L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val out = Multimodal.imagePatches(df, gridRows = 2, gridCols = 2)
      .orderBy("id").select("patches").collect()
    val p = out(0).getSeq[Double](0)
    assert(p === Seq(255.0, 0.0, 76.245, 29.07), p.toString)
    assert(out(1).isNullAt(0), "null payload → null patches")
    // a 3x3 image cannot fill a 4x4 grid → null, not a crash
    val tiny = new java.awt.image.BufferedImage(3, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val b2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(tiny, "png", b2)
    assert(Multimodal.imagePatches(
        Seq((1L, b2.toByteArray)).toDF("id", "payload"))
      .select("patches").collect()(0).isNullAt(0))
  }

  test("audioEnergySegments: gated bursts produce exactly the maximal " +
      "active runs the pattern implies; null payloads produce no rows") {
    // synthesizeBursts: window w of 8 is SILENT iff (w + id) % 3 == 0
    //   id 0: silent {0,3,6} → segments (1,2), (4,5), (7,7)
    //   id 1: silent {2,5}   → segments (0,1), (3,4), (6,7)
    //   id 2: silent {1,4,7} → segments (0,0), (2,3), (5,6)
    val clips = Multimodal.synthesizeBursts(Seq(0L, 1L, 2L).toDF("id"), "id")
    // threshold 0.02 full-scale: the ramp tone's QUIETEST window (the
    // first, RMS ≈ 0.032) stays active while true silence (RMS 0) never is
    val segs = Multimodal.audioEnergySegments(clips, "id", threshold = 0.02)
      .select("clip_id", "seg_start_win", "seg_end_win", "n_windows")
      .as[(Long, Int, Int, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq).toMap
    assert(segs(0L) === Seq((1, 2, 2L), (4, 5, 2L), (7, 7, 1L)), segs(0L).toString)
    assert(segs(1L) === Seq((0, 1, 2L), (3, 4, 2L), (6, 7, 2L)))
    assert(segs(2L) === Seq((0, 0, 1L), (2, 3, 2L), (5, 6, 2L)))
    // a null payload decodes to null energies → contributes no segments
    val withNull = clips.unionByName(
      Seq((99L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload"))
    assert(Multimodal.audioEnergySegments(withNull, "id", threshold = 0.02)
      .filter($"clip_id" === 99L).count() === 0L)
  }

  test("synthesizeWav + decodeAudio: real WAV round-trip recovers planted params") {
    val ids = Seq(0L, 3L, 7L, 99L).toDF("id")
    val out = Multimodal.decodeAudio(Multimodal.synthesizeWav(ids, "id"))
      .orderBy("id")
      .select("id", "audio.format", "audio.sample_rate", "audio.channels", "audio.n_frames")
      .collect()
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === "wave")
      assert(r.getInt(2) === 8000 + (id % 8).toInt * 1000)
      assert(r.getInt(3) === 1)
      assert(r.getLong(4) === 800L + id % 100)
    }
  }

  test("decodeAudio: non-audio bytes yield null audio, no failure") {
    val out = Multimodal.decodeAudio(Multimodal.asPayload(docs, "txt"))
    assert(out.orderBy("id").select("audio").collect().forall(_.isNullAt(0)))
  }

  test("resizeImage: real bilinear resize re-encodes to the target box") {
    val ids = Seq(1L, 50L).toDF("id")
    val resized = Multimodal.resizeImage(
      Multimodal.synthesizePng(ids, "id"), w = 32, h = 24)
    val dims = Multimodal.decodeImage(resized, payloadCol = "resized")
      .select("media.width", "media.height").collect()
    assert(dims.forall(r => r.getInt(0) === 32 && r.getInt(1) === 24))
    // non-image payloads pass through with null resized bytes
    val nulls = Multimodal.resizeImage(Multimodal.asPayload(docs, "txt"), 8, 8)
      .select("resized").collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("synthesizeGif + sampleFrames: real multi-frame decode, planted counts and dims") {
    val ids = Seq(0L, 1L, 3L, 17L, 99L).toDF("id")
    val out = Multimodal.sampleFrames(Multimodal.synthesizeGif(ids, "id"))
    assert(out.schema("frame").dataType === Multimodal.frameMetaSchema)
    val rows = out.select("id", "frame_no", "frame.width", "frame.height")
      .as[(Long, Int, Int, Int)].collect()
    val byId = rows.groupBy(_._1)
    byId.foreach { case (id, fs) =>
      assert(fs.length === (id % 4).toInt + 2, s"frame count of id=$id")
      assert(fs.map(_._2).sorted.toSeq === (0 until fs.length), s"frame numbering of id=$id")
      fs.foreach { f =>
        assert(f._3 === (id % 16).toInt + 8 && f._4 === (id % 12).toInt + 8,
          s"frame dims of id=$id")
      }
    }
    // frames within one payload are DISTINCT images (a video, not n
    // copies): at least one per-frame dHash differs
    val hashes = Multimodal.sampleFrames(Multimodal.synthesizeGif(
        Seq(99L).toDF("id"), "id"))
      .select("frame.dhash").as[Long].collect()
    assert(hashes.distinct.length > 1, "per-frame content must differ")
  }

  test("synthesizeGif: negative ids yield valid dims; non-long id fails fast") {
    // floorMod arithmetic: a negative id must still produce positive
    // dimensions and frame counts, not a BufferedImage constructor throw.
    val neg = Multimodal.sampleFrames(Multimodal.synthesizeGif(
      Seq(-5L, -17L).toDF("id"), "id"))
      .select("frame.width", "frame.height").as[(Int, Int)].collect()
    assert(neg.nonEmpty && neg.forall { case (w, h) => w >= 8 && h >= 8 })
    // a non-LongType id column fails at plan time with an actionable
    // message, not per-row ClassCastExceptions mid-job
    val e = intercept[IllegalArgumentException] {
      Multimodal.synthesizeGif(Seq(1, 2).toDF("id"), "id")
    }
    assert(e.getMessage.contains("LongType") && e.getMessage.contains("int"))
  }

  test("sampleFrames: stride sampling, null/undecodable → zero rows") {
    val strided = Multimodal.sampleFrames(
      Multimodal.synthesizeGif(Seq(3L).toDF("id"), "id"), stride = 2)
    // id=3 → 5 frames; stride 2 keeps frames 0, 2, 4
    assert(strided.select("frame_no").as[Int].collect().sorted.toSeq === Seq(0, 2, 4))
    val bad = Multimodal.sampleFrames(
      Multimodal.asPayload(docs, "txt")) // text bytes + a null payload
    assert(bad.count() === 0)
  }

  test("sampleFrames dHash composes with imageNearDups: same-content frames pair up") {
    // same id → same per-frame pixels: frame f of copy A == frame f of copy B
    val a = Multimodal.sampleFrames(Multimodal.synthesizeGif(Seq(7L).toDF("id"), "id"))
      .select((col("frame_no")).as("id"), col("frame.dhash").as("sig"))
    val b = Multimodal.sampleFrames(Multimodal.synthesizeGif(Seq(7L).toDF("id"), "id"))
      .select((col("frame_no") + 100).as("id"), col("frame.dhash").as("sig"))
    val pairs = graft.dedup.Dedup.signatureNearDups(
      a.unionByName(b), maxDist = 0, maxBucketOccupancy = 0L, "test", "n/a")
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs.unpersist(blocking = true)
    // id=7 → 5 frames: every frame pairs with its twin at +100
    (0 until 5).foreach { f =>
      assert(got.contains((f.toLong, (f + 100).toLong)), s"frame $f twin missed")
    }
  }

  // block-structured grayscale test image: 8×8 blocks, each uniformly one
  // of two brightness levels chosen by a seeded pattern — structure dHash
  // preserves through the 9×8 thumbnail
  private def blockImage(seed: Int, lo: Int = 50, hi: Int = 150,
                         fmt: String = "png"): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val pattern = Array.fill(8, 8)(rnd.nextBoolean())
    val img = new java.awt.image.BufferedImage(
      64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64) {
      val v = if (pattern(y / 8)(x / 8)) hi else lo
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, baos)
    baos.toByteArray
  }

  test("dHash64: invariant to uniform brightness and re-encoding, distinct patterns far, null → null") {
    val rows = Seq(
      (1L, blockImage(7)),                      // base
      (2L, blockImage(7, lo = 80, hi = 180)),   // +30 brightness everywhere
      (3L, blockImage(7, fmt = "bmp")),          // same pixels, BMP encoding
      (4L, blockImage(99)),                     // different pattern
      (5L, null.asInstanceOf[Array[Byte]]))
    val out = Multimodal.dHash64(rows.toDF("id", "payload")).orderBy("id")
      .select("dhash").collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out(0) === out(1), "uniform brightness shift must not change dHash")
    assert(out(0) === out(2), "lossless re-encode must not change dHash")
    val dist = java.lang.Long.bitCount(out(0).get ^ out(3).get)
    assert(dist > 10, s"independent patterns should be far apart, got $dist")
    assert(out(4) === None)
  }

  test("imageNearDups: same-pattern images pair at distance 0, residency bounded") {
    val before = cachedIds
    // ids 0..9, pattern key id % 5 → exactly the same-key pairs collapse
    val rows = (0 until 10).map(i => (i.toLong, blockImage(i % 5)))
    val out = Multimodal.imageNearDups(rows.toDF("id", "payload"), "id", maxDist = 0)
    val pairs = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((cachedIds -- before).size === 1,
      "only the pair result stays cached after imageNearDups")
    out.unpersist(blocking = true)
    assert((cachedIds -- before).isEmpty)
    assert(pairs === (0 until 5).map(k => (k.toLong, (k + 5).toLong)).toSet)
  }

  test("imageExactDups keeps byte-identical pairs, rejects hash-equal re-encodes") {
    // ids 1/2: identical PNG bytes → verified pair. ids 3/4: same pixels,
    // PNG vs BMP — dHash-identical (candidate at distance 0) but NOT
    // byte-identical, so the verify tier must drop them.
    val rows = Seq(
      (1L, blockImage(7)), (2L, blockImage(7)),
      (3L, blockImage(21)), (4L, blockImage(21, fmt = "bmp")))
    val out = Multimodal.imageExactDups(rows.toDF("id", "payload"), "id")
    val pairs = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    out.unpersist(blocking = true)
    assert(pairs === Set((1L, 2L)))
  }

  private def chirpBytes(id: Long, amplitude: Double = 0.8): Array[Byte] =
    Multimodal.synthesizeChirp(Seq(id).toDF("id"), "id",
        amplitude = amplitude)
      .select("payload").head().getAs[Array[Byte]](0)

  test("audioFingerprint64: gain-invariant, identical bytes identical, " +
      "distinct chirps far, null/undecodable → null") {
    val rows = Seq(
      (1L, chirpBytes(7)),
      (2L, chirpBytes(7, amplitude = 0.4)), // half gain — same spectrum
      (3L, chirpBytes(7)),                  // byte-identical copy
      (4L, chirpBytes(40)),                 // different chirp
      (5L, null.asInstanceOf[Array[Byte]]),
      (6L, "definitely not audio".getBytes("UTF-8")))
    val out = Multimodal.audioFingerprint64(rows.toDF("id", "payload"))
      .orderBy("id").select("afp").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out(0) === out(2), "byte-identical clips must fingerprint equal")
    val gainDist = java.lang.Long.bitCount(out(0).get ^ out(1).get)
    assert(gainDist === 0,
      s"uniform gain must not move the sign fingerprint, got $gainDist")
    val dist = java.lang.Long.bitCount(out(0).get ^ out(3).get)
    assert(dist > 3, s"distinct chirps should be far apart, got $dist")
    assert(out(4) === None)
    assert(out(5) === None)
  }

  test("audioNearDups: planted copies pair up, gain variants within " +
      "Hamming 3, distinct clips separate, residency bounded") {
    val before = cachedIds
    // ids 0..9, pattern id % 5 → exactly the same-pattern pairs collapse
    val rows = (0 until 10).map(i => (i.toLong, chirpBytes(i % 5)))
    val out = Multimodal.audioNearDups(rows.toDF("id", "payload"), "id",
      maxDist = 0)
    val pairs = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((cachedIds -- before).size === 1,
      "only the pair result stays cached after audioNearDups")
    out.unpersist(blocking = true)
    assert((cachedIds -- before).isEmpty)
    assert(pairs === (0 until 5).map(k => (k.toLong, (k + 5).toLong)).toSet)
    // a gain-changed re-master is a near-dup; an unrelated clip is not
    val rows2 = Seq((1L, chirpBytes(9)), (2L, chirpBytes(9, amplitude = 0.4)),
      (3L, chirpBytes(33)))
    val out2 = Multimodal.audioNearDups(rows2.toDF("id", "payload"), "id",
      maxDist = 3)
    val pairs2 = out2.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    out2.unpersist(blocking = true)
    assert(pairs2 === Set((1L, 2L)), pairs2.toString)
  }

  test("audioExactDups keeps byte-identical pairs, rejects " +
      "fingerprint-equal gain variants") {
    val rows = Seq(
      (1L, chirpBytes(7)), (2L, chirpBytes(7)),
      (3L, chirpBytes(21)), (4L, chirpBytes(21, amplitude = 0.4)))
    val out = Multimodal.audioExactDups(rows.toDF("id", "payload"), "id")
    val pairs = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    out.unpersist(blocking = true)
    assert(pairs === Set((1L, 2L)))
  }
}
