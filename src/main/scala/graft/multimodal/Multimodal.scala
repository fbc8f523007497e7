package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Residency

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata structs.
  *
  * Image decode, resize, dHash, audio decode AND video frame sampling are
  * all REAL — JDK `javax.imageio` / `javax.sound.sampled` (PNG/JPEG/GIF/
  * BMP, WAV/AIFF/AU, multi-frame animated GIF; zero external
  * dependencies) inside `mapPartitions`. Codecs the JDK lacks (MP4/H.264,
  * MP3, …) plug into the same shapes — [[sampleFrames]]'s per-frame
  * fan-out and [[decodeImage]]'s null-on-undecodable contract — via a
  * JNI codec or `mapInPandas`+PIL without touching any caller.
  *
  * Scale notes: payload bytes live in ONE binary column so Parquet keeps
  * them in a single large column chunk; metadata extraction is columnar and
  * map-only; `mapPartitions` amortizes decoder init per partition (the same
  * shape a vectorized Pandas-UDF batch has). */
object Multimodal {

  /** Metadata schema attached to every decoded media column. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType),
    StructField("sha", StringType)))

  /** Wrap a string column as a binary payload column (test harness for the
    * plumbing; real pipelines read payloads from parquet/object storage). */
  def asPayload(df: DataFrame, srcCol: String, payloadCol: String = "payload"): DataFrame =
    df.withColumn(payloadCol, col(srcCol).cast(BinaryType))

  /** Cheap columnar metadata: byte length + content hash — no decode, pure
    * expressions. */
  def withByteMeta(df: DataFrame, payloadCol: String = "payload"): DataFrame =
    df.withColumn("n_bytes", length(col(payloadCol)).cast(LongType))
      .withColumn("sha", sha2(col(payloadCol), 256))

  /** Deterministic PNG payloads synthesized per row with `javax.imageio`:
    * dimensions are a pure function of the id column (w = id%48+8,
    * h = id%32+8), so downstream decode results are SQL-expressible and
    * oracle-checkable. Pixels carry a deterministic gradient — the PNGs are
    * real, fully-formed images, not magic-number shells. */
  def synthesizePng(df: DataFrame, idCol: String, payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField(payloadCol, BinaryType))
    val idIdx = inSchema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
      it.map { r =>
        val id = r.getLong(idIdx)
        val w = (id % 48).toInt + 8
        val h = (id % 32).toInt + 8
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, ((x * 31 + y * 7 + id.toInt) & 0xFFFFFF))
            x += 1
          }
          y += 1
        }
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        Row.fromSeq(r.toSeq :+ baos.toByteArray)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL image decode via JDK `javax.imageio`: format name and dimensions
    * read from the image header (`ImageReader.getWidth/getHeight` — no full
    * pixel decode for metadata, the scalable shape for 100 TB of payloads).
    * Runs per-partition so decoder/registry init is amortized; undecodable
    * or null payloads yield a null media struct instead of failing the
    * partition. */
  def decodeImage(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField("media", mediaMetaSchema))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val rdd = df.rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val sha = java.security.MessageDigest.getInstance("SHA-256")
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val meta = if (bytes == null) null else {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext) null
            else {
              val rd = readers.next()
              try {
                rd.setInput(iis)
                Row(rd.getFormatName.toLowerCase, rd.getWidth(0), rd.getHeight(0),
                  bytes.length.toLong,
                  sha.digest(bytes).map(b => f"$b%02x").mkString)
              } catch { case _: java.io.IOException => null }
              finally rd.dispose()
            }
          } finally iis.close() // also on the no-reader path — no stream leak
        }
        Row.fromSeq(r.toSeq :+ meta)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** ViT-style PATCH descriptors: decode each image once (codec
    * boundary, per-partition) and emit a row-major `gridRows × gridCols`
    * array of per-patch MEAN LUMINANCE values — the patch-grid plumbing
    * a vision pipeline runs before embedding (patch → token), reduced to
    * the deterministic stand-in feature the container supports (no
    * model weights; luminance = (299R + 587G + 114B)/1000, the
    * ITU-R 601 integer weights). Patch boundaries are the integer
    * splits `[p·dim/grid, (p+1)·dim/grid)`, so every pixel lands in
    * exactly one patch and any image at least grid-sized patches
    * losslessly. Null, undecodable, or smaller-than-grid payloads get a
    * null array (quarantine, not crash). One bounded array per image —
    * pixels never enter a shuffle. */
  def imagePatches(df: DataFrame, payloadCol: String = "payload",
                   gridRows: Int = 4, gridCols: Int = 4,
                   outCol: String = "patches"): DataFrame = {
    require(gridRows > 0 && gridCols > 0,
      s"grid must be positive, got ${gridRows}x$gridCols")
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField(outCol, ArrayType(DoubleType)))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val rdd = df.rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val patches: Array[Double] = if (bytes == null) null else {
          // quarantine-not-crash: a corrupt-but-recognized payload makes
          // ImageIO.read THROW (it returns null only when no reader
          // claims the format) — the decodeImage contract
          val img = try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException => null }
          if (img == null || img.getWidth < gridCols || img.getHeight < gridRows)
            null
          else {
            val w = img.getWidth; val h = img.getHeight
            Array.tabulate(gridRows * gridCols) { p =>
              val pr = p / gridCols; val pc = p % gridCols
              val y0 = pr * h / gridRows; val y1 = (pr + 1) * h / gridRows
              val x0 = pc * w / gridCols; val x1 = (pc + 1) * w / gridCols
              var sum = 0L
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) {
                  val rgb = img.getRGB(x, y)
                  sum += 299L * ((rgb >> 16) & 0xFF) +
                    587L * ((rgb >> 8) & 0xFF) + 114L * (rgb & 0xFF)
                  x += 1
                }
                y += 1
              }
              sum / 1000.0 / ((y1 - y0).toLong * (x1 - x0))
            }
          }
        }
        Row.fromSeq(r.toSeq :+ patches)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Metadata schema for decoded audio payloads. */
  val audioMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", LongType)))

  /** Deterministic 16-bit mono PCM WAV payloads: sample rate and frame
    * count are pure functions of the id (rate = 8000 + id%8*1000,
    * frames = 800 + id%100), samples a deterministic sine-ish ramp — real,
    * fully-formed RIFF/WAVE files, decodable by any audio stack. */
  def synthesizeWav(df: DataFrame, idCol: String, payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField(payloadCol, BinaryType))
    val idIdx = inSchema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val rate = 8000 + (id % 8).toInt * 1000
        val frames = 800 + (id % 100).toInt
        val pcm = new Array[Byte](frames * 2)
        var i = 0
        while (i < frames) {
          val s = ((i * 7 + id) % 16384).toShort
          pcm(2 * i) = (s & 0xFF).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
        val baos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
        Row.fromSeq(r.toSeq :+ baos.toByteArray)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL audio decode via JDK `javax.sound.sampled` (WAV/AIFF/AU, zero
    * external dependencies): header-only parse — sample rate, channels,
    * frame count — no PCM materialization. Same per-partition shape and
    * null-on-undecodable contract as [[decodeImage]]. */
  def decodeAudio(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField("audio", audioMetaSchema))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val meta = if (bytes == null) null else try {
          val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
            new java.io.ByteArrayInputStream(bytes))
          val f = aff.getFormat
          Row(aff.getType.toString.toLowerCase, f.getSampleRate.toInt,
            f.getChannels, aff.getFrameLength.toLong)
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => null
          case _: java.io.IOException => null
        }
        Row.fromSeq(r.toSeq :+ meta)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic 16-bit mono PCM WAV chirps (linear frequency sweep,
    * f0 = 200 + id%16·150 Hz rising by 800 + id%7·100 Hz over 0.5 s at
    * 8 kHz): real RIFF/WAVE payloads whose SPECTRAL CONTENT is a pure
    * function of the id column — the audio analog of [[synthesizePng]]'s
    * id-derived gradients, rich enough for perceptual fingerprinting
    * where [[synthesizeWav]]'s phase-shifted ramp is not (every id there
    * carries the same spectrum). `amplitude` scales the waveform —
    * fingerprints must survive gain changes, so the spec synthesizes the
    * same id at two amplitudes. StrictMath keeps the samples
    * bit-identical across JVMs/platforms. */
  def synthesizeChirp(df: DataFrame, idCol: String,
                      payloadCol: String = "payload",
                      amplitude: Double = 0.8): DataFrame = {
    require(amplitude > 0 && amplitude <= 1,
      s"amplitude must be in (0, 1], got $amplitude")
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField(payloadCol, BinaryType))
    val idIdx = inSchema.fieldIndex(idCol)
    require(inSchema(idIdx).dataType == LongType,
      s"synthesizeChirp: id column '$idCol' must be LongType, got " +
        s"${inSchema(idIdx).dataType.simpleString} — cast it first")
    val rdd = df.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val rate = 8000
        val frames = 4000
        val f0 = 200.0 + Math.floorMod(id, 16L) * 150.0
        val sweep = 800.0 + Math.floorMod(id, 7L) * 100.0
        val pcm = new Array[Byte](frames * 2)
        var i = 0
        while (i < frames) {
          val tt = i.toDouble / rate
          val phase = 2.0 * Math.PI *
            (f0 * tt + sweep * tt * tt * rate / (2.0 * frames))
          val s = (amplitude * StrictMath.sin(phase) * 16384.0).toInt.toShort
          pcm(2 * i) = (s & 0xFF).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
        val baos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
        Row.fromSeq(r.toSeq :+ baos.toByteArray)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic GATED audio: tone bursts separated by true silence,
    * the fixture shape activity segmentation needs (a continuous chirp
    * is active everywhere). Window `w` of 256 samples is silent iff
    * `(w + id) % 3 == 0`; 2048 frames → 8 windows → per-id segment
    * layouts that are pure functions of the id. Same zero-dependency
    * RIFF/WAVE writer as [[synthesizeWav]]. */
  def synthesizeBursts(df: DataFrame, idCol: String,
                       payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField(payloadCol, BinaryType))
    val idIdx = inSchema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val frames = 2048
        val pcm = new Array[Byte](frames * 2)
        var i = 0
        while (i < frames) {
          val silent = Math.floorMod(i / 256 + id, 3L) == 0L
          val s = if (silent) 0.toShort else ((i * 7 + id) % 16384).toShort
          pcm(2 * i) = (s & 0xFF).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
        val baos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
        Row.fromSeq(r.toSeq :+ baos.toByteArray)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Per-window RMS energy of each clip — the feature-extraction half
    * of energy-based activity detection: decode at the codec boundary
    * (the sanctioned `mapPartitions` shape), then ONE bounded
    * `array<double>` per clip (samples/window entries), so the decoded
    * waveform never lands in a shuffle. Windows are non-overlapping;
    * a trailing partial window is dropped (its RMS is not comparable).
    * Null/undecodable payloads get a null array. */
  def audioEnergy(df: DataFrame, payloadCol: String = "payload",
                  windowSamples: Int = 256,
                  outCol: String = "energies"): DataFrame = {
    require(windowSamples > 0, s"windowSamples must be > 0, got $windowSamples")
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField(outCol, ArrayType(DoubleType)))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val energies: Array[Double] = if (bytes == null) null else try {
          val pcm = pcmMono(bytes)
          val nWin = pcm.length / windowSamples
          // pcmMono emits RAW 16-bit amplitudes — normalize to full
          // scale so RMS lands in [0, 1] and thresholds mean the same
          // thing at any bit depth (0.05 of full scale ≈ −26 dBFS)
          Array.tabulate(nWin) { w =>
            var s = 0.0
            var i = w * windowSamples
            val end = i + windowSamples
            while (i < end) { s += pcm(i) * pcm(i); i += 1 }
            math.sqrt(s / windowSamples) / 32768.0
          }
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => null
          case _: java.io.IOException => null
          case _: IllegalArgumentException => null
        }
        Row.fromSeq(r.toSeq :+ energies)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Energy-threshold ACTIVITY SEGMENTS — the VAD-style preprocessing
    * an audio pipeline runs before transcription or clip extraction:
    * windows at or above `threshold` RMS group into maximal runs
    * (gaps-and-islands on a CLIP-KEYED window — each clip's few hundred
    * window rows sort locally, never a global window), one row per
    * segment. Returns (clip_id, seg_start_win, seg_end_win, n_windows,
    * peak_energy). Clips with no active window produce no rows. */
  def audioEnergySegments(df: DataFrame, idCol: String,
                          payloadCol: String = "payload",
                          windowSamples: Int = 256,
                          threshold: Double = 0.05): DataFrame = {
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    val e = audioEnergy(df, payloadCol, windowSamples)
    val active = e.select(col(idCol).as("clip_id"),
        posexplode(col("energies")).as(Seq("win", "energy")))
      .filter(col("energy") >= threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("clip_id")).orderBy(col("win"))
    active.withColumn("__run", col("win") - row_number().over(w))
      .groupBy("clip_id", "__run").agg(
        min(col("win")).as("seg_start_win"),
        max(col("win")).as("seg_end_win"),
        count(lit(1)).as("n_windows"),
        round(max(col("energy")), 6).as("peak_energy"))
      .drop("__run")
  }

  /** Decode an audio payload to mono double samples: JDK decode, convert
    * to 16-bit signed PCM if needed, average channels. The shared kernel
    * of [[audioFingerprint64]]. */
  private def pcmMono(bytes: Array[Byte]): Array[Double] = {
    val ais0 = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val f0 = ais0.getFormat
    val target = new javax.sound.sampled.AudioFormat(
      f0.getSampleRate, 16, f0.getChannels, true, false)
    val ais =
      if (f0.matches(target)) ais0
      else javax.sound.sampled.AudioSystem.getAudioInputStream(target, ais0)
    try {
      val data = ais.readAllBytes()
      val ch = ais.getFormat.getChannels
      val n = data.length / (2 * ch)
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        var s = 0.0
        var c = 0
        while (c < ch) {
          val lo = data(2 * (i * ch + c)) & 0xFF
          val hi = data(2 * (i * ch + c) + 1).toInt
          s += ((hi << 8) | lo).toShort.toDouble
          c += 1
        }
        out(i) = s / ch
        i += 1
      }
      out
    } finally ais.close()
  }

  /** 64-bit band-energy sign fingerprint of a mono PCM signal — the
    * audio member of the perceptual-signature tier (the public
    * Haitsma–Kalker construction, simplified to the [[dhashOf]] grid
    * shape): 9 time windows × 8 frequency bands of DFT energy (DC
    * removed), bit (t, b) set iff E(t, b) < E(t+1, b). Sign-of-
    * difference encoding makes the hash invariant to uniform gain
    * (every energy scales by c², inequalities survive) and to DC
    * offset, and robust to re-encoding — the properties MultimodalSpec
    * pins. */
  private def fingerprintOf(pcm: Array[Double]): Long = {
    val W = 9; val B = 8; val S = 64
    val e = Array.ofDim[Double](W, B)
    val wlen = pcm.length / W
    var t = 0
    while (t < W) {
      val off = t * wlen
      val pooled = new Array[Double](S)
      var j = 0
      while (j < S) {
        val lo = off + j * wlen / S
        val hi = math.max(lo + 1, off + (j + 1) * wlen / S)
        var s = 0.0
        var k = lo
        var cnt = 0
        while (k < hi && k < off + wlen) { s += pcm(k); k += 1; cnt += 1 }
        pooled(j) = if (cnt == 0) 0.0 else s / cnt
        j += 1
      }
      var mean = 0.0
      j = 0
      while (j < S) { mean += pooled(j); j += 1 }
      mean /= S
      var bin = 1
      while (bin <= S / 2) {
        var re = 0.0
        var im = 0.0
        j = 0
        while (j < S) {
          val ang = -2.0 * Math.PI * bin * j / S
          re += (pooled(j) - mean) * StrictMath.cos(ang)
          im += (pooled(j) - mean) * StrictMath.sin(ang)
          j += 1
        }
        e(t)((bin - 1) * B / (S / 2)) += re * re + im * im
        bin += 1
      }
      t += 1
    }
    var bits = 0L
    var i = 0
    t = 0
    while (t < W - 1) {
      var b = 0
      while (b < B) {
        if (e(t)(b) < e(t + 1)(b)) bits |= (1L << i)
        i += 1; b += 1
      }
      t += 1
    }
    bits
  }

  /** Perceptual audio fingerprint column: [[fingerprintOf]] over the
    * decoded payload — one long per clip on the wire, the audio analog
    * of [[dHash64]]. Null, undecodable, or too-short (< 9 samples)
    * payloads get a null fingerprint. Per-partition decode (codec
    * boundary — the one sanctioned `mapPartitions` shape). */
  def audioFingerprint64(df: DataFrame, payloadCol: String = "payload",
                         outCol: String = "afp"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField(outCol, LongType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val hash: java.lang.Long = if (bytes == null) null else try {
          val pcm = pcmMono(bytes)
          if (pcm.length < 9) null else fingerprintOf(pcm)
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => null
          case _: java.io.IOException => null
          // AudioSystem.getAudioInputStream(target, ais) throws IAE for
          // decodable-but-unconvertible encodings (no PCM converter
          // installed) — same "undecodable → null" contract; must not
          // fail the whole task over one bad payload
          case _: IllegalArgumentException => null
        }
        Row.fromSeq(r.toSeq :+ hash)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Audio near-dup pairs: [[audioFingerprint64]] signatures through the
    * same 16-bit-pigeonhole candidate generator as [[imageNearDups]]
    * (full recall for Hamming ≤ 3, bucket join, never all-pairs) —
    * completing the perceptual-dedup triad (image dHash, video frame
    * dHash, audio band-energy hash) over one shared Hamming machinery.
    * Returns (id_a, id_b, hamming); null fingerprints drop out. */
  def audioNearDups(df: DataFrame, idCol: String,
                    payloadCol: String = "payload", maxDist: Int = 3,
                    maxBucketOccupancy: Long = 100000L): DataFrame =
    graft.dedup.Dedup.signatureNearDups(
      audioFingerprint64(df, payloadCol, "sig")
        .select(col(idCol).as("id"), col("sig"))
        .filter(col("sig").isNotNull),
      maxDist, maxBucketOccupancy, "audioNearDups",
      "the corpus contains many acoustically-identical clips; exact-dedup payload bytes first")

  /** Exact-verified audio duplicate pairs — [[audioNearDups]] candidates
    * (Hamming 0) filtered to BYTE-IDENTICAL payloads, the audio analog
    * of [[imageExactDups]] with the same guarantee: identical bytes ⇒
    * identical fingerprint ⇒ candidate, so recall over true
    * byte-duplicates is total and a SQL oracle can predict the output
    * wherever payload identity is SQL-derivable. Returns (id_a, id_b),
    * persisted (caller unpersists — the family contract). */
  def audioExactDups(df: DataFrame, idCol: String,
                     payloadCol: String = "payload",
                     maxBucketOccupancy: Long = 100000L): DataFrame = Residency.eager { s =>
    val pairs = s.adopt(audioNearDups(df, idCol, payloadCol, maxDist = 0,
      maxBucketOccupancy = maxBucketOccupancy))
    val fp = df.select(col(idCol).cast(org.apache.spark.sql.types.LongType)
      .as("__vid"), md5(col(payloadCol)).as("__fp"))
    pairs
      .join(fp.select(col("__vid").as("id_a"), col("__fp").as("__fa")), "id_a")
      .join(fp.select(col("__vid").as("id_b"), col("__fp").as("__fb")), "id_b")
      .filter(col("__fa") === col("__fb"))
      .select(col("id_a"), col("id_b"))
  }

  /** REAL image resize via JDK Graphics2D: decode, bilinear-scale to the
    * target box, re-encode PNG. Per-partition; undecodable payloads pass
    * through with a null resized payload. */
  def resizeImage(df: DataFrame, w: Int, h: Int,
                  payloadCol: String = "payload",
                  outCol: String = "resized"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField(outCol, BinaryType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val rdd = df.rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val out: Array[Byte] = if (bytes == null) null else {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          if (img == null) null
          else {
            val dst = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = dst.createGraphics()
            try {
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, w, h, null)
            } finally g.dispose()
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(dst, "png", baos)
            baos.toByteArray
          }
        }
        Row.fromSeq(r.toSeq :+ out)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Perceptual difference hash (dHash, public construction): decode,
    * bilinear-scale to a 9×8 grayscale thumbnail, emit 64 bits — bit (x,y)
    * set iff pixel(x,y) < pixel(x+1,y). Robust to re-encoding, scaling and
    * uniform brightness shifts (comparisons are unchanged when every pixel
    * moves by the same amount) — the image member of the dedup family's
    * signature tier, consumed by [[imageNearDups]] via Hamming distance.
    * Null/undecodable payloads get a null hash. Per-partition decode, one
    * long per image on the wire. */
  /** dHash of one decoded image — the shared kernel of [[dHash64]] and
    * [[sampleFrames]]: bilinear-scale to a 9×8 grayscale thumbnail, bit
    * (x,y) set iff pixel(x,y) < pixel(x+1,y). */
  private def dhashOf(img: java.awt.image.BufferedImage): Long = {
    val small = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val g = small.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, 9, 8, null)
    } finally g.dispose()
    val raster = small.getRaster
    var bits = 0L
    var i = 0
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (raster.getSample(x, y, 0) < raster.getSample(x + 1, y, 0))
          bits |= (1L << i)
        i += 1; x += 1
      }
      y += 1
    }
    bits
  }

  def dHash64(df: DataFrame, payloadCol: String = "payload",
              outCol: String = "dhash"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField(outCol, LongType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val rdd = df.rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val hash: java.lang.Long = if (bytes == null) null else {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          if (img == null) null else dhashOf(img)
        }
        Row.fromSeq(r.toSeq :+ hash)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Image near-dup pairs: [[dHash64]] signatures resolved through the
    * generic 16-bit-pigeonhole candidate generator
    * ([[graft.dedup.Dedup.signatureNearDups]] — full recall for Hamming
    * distance ≤ 3, bucket join, never all-pairs). Returns
    * (id_a, id_b, hamming); undecodable payloads drop out (null signature
    * can't be a near-dup of anything). Same EAGER + caller-unpersist
    * residency contract as the text dedup family. */
  def imageNearDups(df: DataFrame, idCol: String,
                    payloadCol: String = "payload", maxDist: Int = 3,
                    maxBucketOccupancy: Long = 100000L): DataFrame =
    graft.dedup.Dedup.signatureNearDups(
      dHash64(df, payloadCol, "sig")
        .select(col(idCol).as("id"), col("sig"))
        .filter(col("sig").isNotNull),
      maxDist, maxBucketOccupancy, "imageNearDups",
      "the corpus contains many visually-identical images; exact-dedup payload bytes first")

  /** Exact-verified image duplicate pairs — [[imageNearDups]] candidates
    * (dHash, Hamming 0) filtered to BYTE-IDENTICAL payloads, the
    * image analog of the text family's candidates-then-exact-verify
    * discipline (`minHashNearDups`): the perceptual hash prunes the
    * pair space, the md5 fingerprint join makes the final answer
    * exact. Identical bytes ⇒ identical dHash ⇒ candidate, so recall
    * over true byte-duplicates is guaranteed — which is what lets a
    * SQL oracle predict the output wherever payload identity is
    * SQL-derivable (planted synthesis), while perceptual-only
    * near-misses (re-encodes, brightness shifts) stay in
    * [[imageNearDups]]'s wider answer.
    *
    * Scale shape: the verify join carries one 32-char fingerprint per
    * image, never payload bytes; candidates are bucket-joined, not
    * all-pairs. Returns `(id_a, id_b)`, persisted (caller unpersists —
    * the family contract). */
  def imageExactDups(df: DataFrame, idCol: String,
                     payloadCol: String = "payload",
                     maxBucketOccupancy: Long = 100000L): DataFrame = Residency.eager { s =>
    val pairs = s.adopt(imageNearDups(df, idCol, payloadCol, maxDist = 0,
      maxBucketOccupancy = maxBucketOccupancy))
    val fp = df.select(col(idCol).cast(org.apache.spark.sql.types.LongType)
      .as("__vid"), md5(col(payloadCol)).as("__fp"))
    pairs
      .join(fp.select(col("__vid").as("id_a"), col("__fp").as("__fa")), "id_a")
      .join(fp.select(col("__vid").as("id_b"), col("__fp").as("__fb")), "id_b")
      .filter(col("__fa") === col("__fb"))
      .select(col("id_a"), col("id_b"))
  }

  /** Deterministic multi-frame animated-GIF payloads — the container the
    * frame-decode tier runs on without external codec libraries (GIF is
    * the one multi-frame format the JDK writes AND reads natively). Frame
    * count and dimensions are pure functions of the id column (frames =
    * id%4+2, w = id%16+8, h = id%12+8), so frame fan-out is
    * SQL-expressible and oracle-checkable; each frame carries a distinct
    * deterministic gradient (frames within one payload differ — a real
    * "video", not n copies of one image). Pass `fixedFrames >= 0` to
    * override the id-derived frame count with a constant. */
  def synthesizeGif(df: DataFrame, idCol: String,
                    payloadCol: String = "payload",
                    fixedFrames: Int = -1): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField(payloadCol, BinaryType))
    val idIdx = inSchema.fieldIndex(idCol)
    // Fail fast at plan time, not as a per-row ClassCastException mid-job:
    // getLong below requires a LongType id.
    require(inSchema(idIdx).dataType == LongType,
      s"synthesizeGif: id column '$idCol' must be LongType, got " +
        s"${inSchema(idIdx).dataType.simpleString} — cast it first")
    val rdd = df.rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val id = r.getLong(idIdx)
        // floorMod, not %: a negative id must still yield positive
        // dimensions/frame counts (Java % is sign-preserving and would make
        // the BufferedImage constructor throw mid-job).
        val w = Math.floorMod(id, 16L).toInt + 8
        val h = Math.floorMod(id, 12L).toInt + 8
        val n = if (fixedFrames >= 0) fixedFrames else Math.floorMod(id, 4L).toInt + 2
        val baos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < n) {
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                img.setRGB(x, y, ((x * 31 + y * 7 + id.toInt + f * 101) & 0xFFFFFF))
                x += 1
              }
              y += 1
            }
            writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
        } finally {
          writer.dispose()
          ios.close()
        }
        Row.fromSeq(r.toSeq :+ baos.toByteArray)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Per-frame metadata schema of [[sampleFrames]]. */
  val frameMetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("dhash", LongType)))

  /** REAL video frame sampling via JDK `javax.imageio`: open the
    * multi-frame container (animated GIF — the codec the JDK ships),
    * decode every `stride`-th frame, and emit one row per sampled frame
    * with (frame_no, width, height, perceptual dHash). The 1 → n fan-out
    * runs inside `mapPartitions` (decoder init amortized, no shuffle —
    * the same map-only explode shape as [[graft.text.TextOps.chunk]]);
    * the per-frame dHash composes directly with [[imageNearDups]]'s
    * signature machinery for cross-video near-dup frames. Null or
    * undecodable payloads contribute zero frame rows (the flatMap analog
    * of the null-media contract). */
  def sampleFrames(df: DataFrame, payloadCol: String = "payload",
                   stride: Int = 1): DataFrame = {
    require(stride > 0, s"stride must be > 0, got $stride")
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField("frame_no", IntegerType) :+
      StructField("frame", frameMetaSchema))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val rdd = df.rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        if (bytes == null) Iterator.empty
        else {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext) Iterator.empty
            else {
              val rd = readers.next()
              try {
                rd.setInput(iis)
                val n = rd.getNumImages(true) // allowSearch: count by scan
                (0 until n by stride).iterator.map { f =>
                  val img = rd.read(f)
                  Row.fromSeq(r.toSeq :+ f :+
                    Row(img.getWidth, img.getHeight, dhashOf(img)))
                }.toVector // materialize BEFORE disposing the reader
              } catch {
                // JDK readers throw RuntimeExceptions (not just
                // IOException) on fuzzed/truncated containers; one bad
                // payload must not kill the job — zero rows, as documented
                case scala.util.control.NonFatal(_) => Iterator.empty
              } finally rd.dispose()
            }
          } finally iis.close()
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
