package graft

import graft.ops.Multimodal
import org.apache.spark.sql.functions._

/** Real (JDK ImageIO) decode/resize/feature paths over binary media
  * columns, plus the plumbing-only frame sampler. */
class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  private def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
  private def jpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  test("real decode: true dimensions, format, channels from actual bytes") {
    val df = Seq(
      (1L, png(10, 20, 0xff0000)),
      (2L, jpeg(32, 8, 0x0000ff)),
      (3L, "not an image".getBytes("UTF-8"))).toDF("id", "media")
    val meta = Multimodal.withImageMeta(df, "media", real = true)
      .select(col("id"), col("image_meta.format"), col("image_meta.width"),
        col("image_meta.height"), col("image_meta.channels"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3))).sortBy(_._1).toSeq
    assert(meta(0) == ((1L, "png", 10, 20)))
    assert(meta(1)._2 == "jpeg" && meta(1)._3 == 32 && meta(1)._4 == 8)
    assert(meta(2)._2 == null) // undecodable -> null struct
  }

  test("real resize re-encodes to the target dimensions") {
    val df = Seq((1L, png(16, 16, 0x00ff00))).toDF("id", "media")
    val resized = Multimodal.resize(df, "media", 4, 8)
    val bytes = resized.select("resized").head().getAs[Array[Byte]](0)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(back.getWidth == 4 && back.getHeight == 8)
    assert((back.getRGB(2, 4) & 0xffffff) == 0x00ff00) // color preserved
  }

  test("pixel features: normalized, discriminate colors, stable dim") {
    val df = Seq((1L, png(8, 8, 0xff0000)), (2L, png(8, 8, 0x0000ff))).toDF("id", "media")
    val feats = Multimodal.extractPixelFeatures(df, "media", grid = 4)
      .select(col("id"), col("pixel_features")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L).length == 48 && feats(2L).length == 48)
    def norm(v: Seq[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm(feats(1L)) - 1.0) < 1e-5)
    // red image has energy in R components (index % 3 == 0), blue in B
    assert(feats(1L).zipWithIndex.filter(_._2 % 3 == 0).map(_._1).sum > 0.9)
    assert(feats(2L).zipWithIndex.filter(_._2 % 3 == 2).map(_._1).sum > 0.9)
    assert(feats(1L) != feats(2L))
  }

  private def wav(rate: Int, nframes: Int, channels: Int = 1,
                  amp: Double = 0.5): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, channels, true, false)
    val data = new Array[Byte](nframes * 2 * channels)
    for (i <- 0 until nframes; c <- 0 until channels) {
      val v = (math.sin(2 * math.Pi * 440.0 * i / rate) * amp * 32767).toInt.toShort
      val off = (i * channels + c) * 2
      data(off) = (v & 0xff).toByte
      data(off + 1) = ((v >> 8) & 0xff).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nframes.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("real audio decode: header fields from actual WAV bytes") {
    val df = Seq(
      (1L, wav(8000, 1600)),
      (2L, wav(16000, 800, channels = 2)),
      (3L, "not audio".getBytes("UTF-8"))).toDF("id", "media")
    val meta = Multimodal.withAudioMeta(df, "media")
      .select(col("id"), col("audio_meta.format"), col("audio_meta.sample_rate"),
        col("audio_meta.channels"), col("audio_meta.bits"), col("audio_meta.frames"),
        col("audio_meta.duration_ms"))
      .collect().sortBy(_.getLong(0))
    assert(meta(0).getString(1) == "wave" && meta(0).getInt(2) == 8000)
    assert(meta(0).getInt(3) == 1 && meta(0).getInt(4) == 16 && meta(0).getLong(5) == 1600L)
    assert(math.abs(meta(0).getDouble(6) - 200.0) < 1e-9) // 1600 frames @ 8 kHz
    assert(meta(1).getInt(2) == 16000 && meta(1).getInt(3) == 2 && meta(1).getLong(5) == 800L)
    assert(meta(2).isNullAt(1)) // undecodable -> null struct
  }

  test("non-RIFF containers (AU) still decode through the AudioSystem fallback") {
    // the RIFF fast path (provider-lock-free) must not cost AIFF/AU support
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val data = new Array[Byte](400 * 2)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, 400L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.AU, bos)
    val df = Seq((1L, bos.toByteArray)).toDF("id", "media")
    val m = Multimodal.withAudioMeta(df, "media")
      .select(col("audio_meta.format"), col("audio_meta.sample_rate"),
        col("audio_meta.frames")).head()
    assert(m.getString(0) == "au" && m.getInt(1) == 8000 && m.getLong(2) == 400L)
  }

  test("audio features: sine RMS, peak, zero-crossing rate from real PCM") {
    val df = Seq((1L, wav(8000, 8000, amp = 0.5)),
                 (2L, wav(8000, 8000, channels = 2, amp = 0.5))).toDF("id", "media")
    val feats = Multimodal.extractAudioFeatures(df, "media", windows = 4)
      .select(col("id"), col("audio_features")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L).length == 6) // 4 windows + peak + zcr
    // full-length 440 Hz sine at amplitude 0.5: RMS = 0.5/sqrt(2) ~ 0.3536
    for (w <- 0 until 4) assert(math.abs(feats(1L)(w) - 0.3536) < 0.01)
    assert(math.abs(feats(1L)(4) - 0.5) < 0.01) // peak
    // 440 Hz at 8 kHz: 880 sign changes per second of samples
    assert(math.abs(feats(1L)(5) - 880.0 / 8000) < 0.01)
    // stereo mixdown of identical channels matches mono
    for (i <- 0 until 6) assert(math.abs(feats(1L)(i) - feats(2L)(i)) < 1e-4)
  }

  private def hamming(a: String, b: String): Int =
    java.lang.Long.bitCount(
      java.lang.Long.parseUnsignedLong(a, 16) ^ java.lang.Long.parseUnsignedLong(b, 16))

  test("pHash64: identical bytes hash identically; NULL/undecodable stay null") {
    val rows = Seq((1L, Multimodal.classPatternPng(0)), (2L, Multimodal.classPatternPng(0)),
      (3L, Array[Byte](1, 2, 3)), (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "img")
    val got = Multimodal.pHash64(rows, "img").select(col("id"), col("phash"))
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L).isDefined && got(1L) == got(2L))
    assert(got(1L).get.length == 16 && got(1L).get.matches("[0-9a-f]{16}"))
    assert(got(3L).isEmpty && got(4L).isEmpty)
  }

  test("pHash64: the q130 pattern classes sit far apart (gate margin)") {
    val hs = (0 until 7).map { c =>
      Multimodal.pHash64(Seq((c.toLong, Multimodal.classPatternPng(c))).toDF("id", "img"), "img")
        .select("phash").as[String].head()
    }
    for (i <- hs.indices; j <- (i + 1) until hs.length)
      assert(hamming(hs(i), hs(j)) >= 10,
        s"classes $i/$j only ${hamming(hs(i), hs(j))} bits apart — q130's tau=3 needs margin")
  }

  test("pHash64 is perceptual: pixel flips and lossy re-encode move few bits") {
    val base = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.classPatternPng(0)))
    val h0 = Multimodal.phashOf(base)
    for (i <- 0 until 8) {
      val x = (i * 13) % 40; val y = (i * 29) % 40
      base.setRGB(x, y, base.getRGB(x, y) ^ 0xffffff)
    }
    assert(hamming(h0, Multimodal.phashOf(base)) <= 4, "8 flipped pixels must stay near")
    // JPEG re-encode of the flat image: block artifacts only
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(base, "jpg", bos)
    val rehashed = Multimodal.pHash64(Seq((1L, bos.toByteArray)).toDF("id", "img"), "img")
      .select("phash").as[String].head()
    assert(hamming(h0, rehashed) <= 8, "lossy re-encode must stay within a few bits")
  }

  test("hammingPairs on pHash finds exactly the planted duplicate image pairs") {
    val imgs = Seq(
      (1L, Multimodal.classPatternPng(0)), (2L, Multimodal.classPatternPng(0)),
      (3L, Multimodal.classPatternPng(1)), (4L, Multimodal.classPatternPng(2)),
      (5L, Multimodal.classPatternPng(1))).toDF("id", "img")
    val pairs = graft.ops.Dedup.hammingPairs(
        Multimodal.pHash64(imgs, "img"), "id", "phash", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 5L)))
  }

  test("audioFingerprint64: identity, NULL safety, and the q132 class margin") {
    val rows = Seq((1L, Multimodal.classToneWav(0)), (2L, Multimodal.classToneWav(0)),
      (3L, Array[Byte](9, 9)), (4L, null.asInstanceOf[Array[Byte]])).toDF("id", "wav")
    val got = Multimodal.audioFingerprint64(rows, "wav").select(col("id"), col("audio_fp"))
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L).isDefined && got(1L) == got(2L))
    assert(got(1L).get.matches("[0-9a-f]{16}"))
    assert(got(3L).isEmpty && got(4L).isEmpty)
    val fps = (0 until 5).map { c =>
      Multimodal.audioFingerprint64(
          Seq((c.toLong, Multimodal.classToneWav(c))).toDF("id", "wav"), "wav")
        .select("audio_fp").as[String].head()
    }
    for (i <- fps.indices; j <- (i + 1) until fps.length)
      assert(hamming(fps(i), fps(j)) >= 10,
        s"classes $i/$j only ${hamming(fps(i), fps(j))} bits apart — q132's tau=3 needs margin")
  }

  test("audio fingerprint is gain-invariant (ordinal energy comparisons)") {
    val base = Multimodal.classToneWav(1)
    // halve every sample amplitude: same envelope SHAPE, half the volume
    val half = base.clone()
    var off = 44
    while (off + 1 < half.length) {
      val s = (((half(off + 1) << 8) | (half(off) & 0xff)).toShort / 2).toShort
      half(off) = (s & 0xff).toByte; half(off + 1) = ((s >> 8) & 0xff).toByte
      off += 2
    }
    val fps = Multimodal.audioFingerprint64(
        Seq((1L, base), (2L, half)).toDF("id", "wav"), "wav")
      .select("audio_fp").as[String].collect()
    assert(fps(0) == fps(1), "uniform volume change must not move any bit")
  }

  test("frame sampling multiplies rows by the sampled indices") {
    val df = Seq((1L, "videobytes".getBytes("UTF-8"))).toDF("id", "media")
    val frames = Multimodal.sampleFrames(df, "media", everyN = 8, totalFrames = 32)
    assert(frames.count() == 4)
    assert(frames.select("frame_index").as[Int].collect().sorted.toSeq == Seq(0, 8, 16, 24))
  }
}
