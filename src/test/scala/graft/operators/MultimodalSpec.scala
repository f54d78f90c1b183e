package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.operators.Multimodal.ByteStatsCodec

/** The multimodal plumbing: batch decode shape, codec determinism, and the
  * resize/frame-sample contracts (value parity for the oracle-able queries
  * runs through the DuckDB gate).
  */
class MultimodalSpec extends SparkSpec with Matchers {

  test("extractFeatures: distributed decode produces normalized features") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf())).cache()
    feats.count() shouldBe graft.tables.Tables.documents(spark, sf()).count()
    val row = feats.toDF()
      .select(
        org.apache.spark.sql.functions.size(col("feature")).as("dim"),
        aggregate(col("feature"), lit(0.0), (a, v) => a + v).as("l1"))
      .agg(min("dim"), max("dim"), min("l1"), max("l1"))
      .head()
    row.getInt(0) shouldBe Multimodal.FeatureDim
    row.getInt(1) shouldBe Multimodal.FeatureDim
    // histogram is L1-normalized (payloads are non-empty)
    row.getDouble(2) shouldBe 1.0 +- 1e-5
    row.getDouble(3) shouldBe 1.0 +- 1e-5
    feats.unpersist()
    ()
  }

  test("codec is deterministic and pure per payload") {
    val p = "some media payload bytes".getBytes("UTF-8")
    ByteStatsCodec.features(p).toSeq shouldBe ByteStatsCodec.features(p.clone()).toSeq
  }

  test("resize crops or zero-pads to the target byte size") {
    val p = Array.tabulate[Byte](10)(_.toByte)
    ByteStatsCodec.resize(p, 2, 3).length shouldBe 6
    val padded = ByteStatsCodec.resize(p, 4, 5)
    padded.length shouldBe 20
    padded.drop(10).forall(_ == 0) shouldBe true
  }

  test("frame sampling takes every stride-th fixed-size frame") {
    val p = Array.tabulate[Byte](100)(_.toByte)
    val frames = ByteStatsCodec.sampleFrames(p, frameBytes = 10, stride = 3)
    frames.map(_.toSeq) shouldBe Seq(
      p.slice(0, 10).toSeq, p.slice(30, 40).toSeq,
      p.slice(60, 70).toSeq, p.slice(90, 100).toSeq)
  }

  test("distributed frame sampling: only videos, dense sampled indices, " +
    "stride arithmetic matches the codec") {
    val frames = Multimodal.sampleFrames(Multimodal.mediaTable(spark, sf()))
      .collect()
    frames should not be empty
    frames.foreach { f =>
      f.media_id % 3 shouldBe 2 // mediaTable routes doc_id%3==2 to video
      f.frame.length should be <= Multimodal.FrameBytes
    }
    // per-item sampled count equals the codec run driver-side on the payload
    val byId = frames.groupBy(_.media_id)
    val payloads = Multimodal.mediaTable(spark, sf())
      .filter(org.apache.spark.sql.functions.col("media_type") === "video")
      .select("media_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    byId.foreach { case (id, fs) =>
      fs.map(_.frame_idx).sorted shouldBe (0 until fs.length)
      fs.length shouldBe Multimodal.ByteStatsCodec
        .sampleFrames(payloads(id), Multimodal.FrameBytes, Multimodal.FrameStride).length
    }
  }

  test("metadata aggregations prune the payload column from the scan") {
    val plan = Multimodal.qMultimodalFeatures(spark, sf())
      .queryExecution.executedPlan.toString
    // the features query aggregates metadata derived pre-decode; the scan
    // must read text (payload source) but the meta query's pure-metadata
    // path must not be forced through the decode closure
    plan should include("ReadSchema")
  }

  // ------------------------------------------------- real codec (ImageIO)

  private def png(id: Long): Array[Byte] = {
    val w = 4 + (id % 13).toInt
    val h = 3 + (id % 11).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = ((7L * id + 3L * x + 5L * y) % 256).toInt
      val g = ((11L * id + 2L * x + 7L * y) % 256).toInt
      val b = ((13L * id + x + 9L * y) % 256).toInt
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    Multimodal.ImageIoCodec.encodePng(img)
  }

  test("ImageIoCodec decodes PNG losslessly: dims and channel sums match the formula") {
    val id = 42L
    val (w, h, sr, sg, sb) = Multimodal.ImageIoCodec.rgbSums(png(id))
    w shouldBe 4 + (id % 13).toInt
    h shouldBe 3 + (id % 11).toInt
    val expected = for (y <- 0 until h; x <- 0 until w)
      yield ((7L * id + 3 * x + 5 * y) % 256,
        (11L * id + 2 * x + 7 * y) % 256,
        (13L * id + x + 9 * y) % 256)
    sr shouldBe expected.map(_._1).sum
    sg shouldBe expected.map(_._2).sum
    sb shouldBe expected.map(_._3).sum
  }

  test("ImageIoCodec.resize is exact nearest-neighbor at the target dims") {
    val id = 7L
    val resized = Multimodal.ImageIoCodec.resize(png(id), 3, 2)
    val (w, h, sr, _, _) = Multimodal.ImageIoCodec.rgbSums(resized)
    (w, h) shouldBe ((3, 2))
    val w0 = 4 + (id % 13).toInt
    val h0 = 3 + (id % 11).toInt
    val expR = (for (y2 <- 0 until 2; x2 <- 0 until 3)
      yield (7L * id + 3 * (x2 * w0 / 3) + 5 * (y2 * h0 / 2)) % 256).sum
    sr shouldBe expR
  }

  test("ImageIoCodec.sampleFrames slices decodable strips of the requested rows") {
    val id = 3L
    val h0 = 3 + (id % 11).toInt // 6 rows
    val frames = Multimodal.ImageIoCodec.sampleFrames(png(id), frameBytes = 2, stride = 2)
    frames.length shouldBe ((h0 + 1) / 2 + 1) / 2 // ceil(6/2)=3 strips, every 2nd = 2
    frames.foreach { f =>
      val (_, fh, _, _, _) = Multimodal.ImageIoCodec.rgbSums(f)
      fh should be <= 2
    }
  }

  test("ImageIoCodec features: normalized luminance histogram sums to ~1") {
    val f = Multimodal.ImageIoCodec.features(png(11L))
    f.length shouldBe Multimodal.FeatureDim
    f.sum shouldBe 1f +- 1e-4f
  }

  test("undecodable payload fails loudly, not silently") {
    // too short for any header, and a well-formed non-PNG (GIF) header
    val payloads = Seq(Array[Byte](1, 2, 3),
      "GIF89a\u0001\u0000\u0001\u0000".getBytes("ISO-8859-1"))
    payloads.foreach { p =>
      val e = the[IllegalArgumentException] thrownBy
        Multimodal.ImageIoCodec.rgbSums(p)
      e.getMessage should include("undecodable image payload")
    }
  }

  test("WavIoCodec writes a real RIFF/WAVE container and round-trips samples exactly") {
    val samples = Array(0, 1, -1, 32767, -32768, 12345, -12345)
    val wav = Multimodal.WavIoCodec.encodeWav(samples, 8000)
    // container magic: RIFF....WAVE
    new String(wav.slice(0, 4), "US-ASCII") shouldBe "RIFF"
    new String(wav.slice(8, 12), "US-ASCII") shouldBe "WAVE"
    val (sr, back) = Multimodal.WavIoCodec.decodeWav(wav)
    sr shouldBe 8000
    back.toSeq shouldBe samples.toSeq
  }

  test("WAVE provider probe: a reader decoding to 8-bit stereo is " +
    "rejected, the platform WAVE reader is accepted") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream,
      UnsupportedAudioFileException}
    // decodes anything without throwing, but to the wrong layout
    val eightBitStereo = new javax.sound.sampled.spi.AudioFileReader {
      private def no = throw new UnsupportedAudioFileException("fake")
      def getAudioFileFormat(in: java.io.InputStream): AudioFileFormat = no
      def getAudioFileFormat(u: java.net.URL): AudioFileFormat = no
      def getAudioFileFormat(f: java.io.File): AudioFileFormat = no
      def getAudioInputStream(in: java.io.InputStream): AudioInputStream =
        new AudioInputStream(new java.io.ByteArrayInputStream(new Array[Byte](2)),
          new AudioFormat(8000f, 8, 2, true, false), 1L)
      def getAudioInputStream(u: java.net.URL): AudioInputStream = no
      def getAudioInputStream(f: java.io.File): AudioInputStream = no
    }
    Multimodal.WavIoCodec.acceptsWaveProbe(eightBitStereo) shouldBe false
    import scala.jdk.CollectionConverters._
    val platform = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).asScala
      .filter(_.getClass.getName == "com.sun.media.sound.WaveFileReader")
    platform should have size 1
    Multimodal.WavIoCodec.acceptsWaveProbe(platform.head) shouldBe true
  }

  test("audio decode stats match a direct formula evaluation (incl. decimation)") {
    val row = Multimodal.qMultimodalAudio(spark, sf())
      .filter(col("media_id") === 5L).head()
    val id = 5L
    val n = 64 + (id % 97).toInt
    def s(i: Int): Long = (17L * id + 31L * i) % 65536L - 32768L
    row.getAs[Long]("sr") shouldBe 8000L + 4000L * (id % 3)
    row.getAs[Long]("n_samples") shouldBe n.toLong
    row.getAs[Long]("sum_s") shouldBe (0 until n).map(s).sum
    row.getAs[Long]("min_s") shouldBe (0 until n).map(s).min
    row.getAs[Long]("d_n") shouldBe ((n + 1) / 2).toLong
    row.getAs[Long]("d_sum") shouldBe (0 until n by 2).map(s).sum
  }

  test("windowed audio energies match a direct formula evaluation") {
    val id = 7L
    val row = Multimodal.qMultimodalAudioFeat(spark, sf())
      .filter(col("media_id") === id).head()
    val n = 64 + (id % 97).toInt
    def s(i: Int): Long = (17L * id + 31L * i) % 65536L - 32768L
    val e = (0 until n).grouped(Multimodal.AudioWindow)
      .map(_.map(i => s(i) * s(i)).sum).toSeq
    row.getAs[Long]("n_windows") shouldBe e.length.toLong
    row.getAs[Long]("e_total") shouldBe e.sum
    row.getAs[Long]("e_max") shouldBe e.max
    row.getAs[Long]("e_argmax") shouldBe e.indexOf(e.max).toLong
    row.getAs[Long]("e_xor") shouldBe e.foldLeft(0L)(_ ^ _)
  }

  test("non-WAV payload fails audio decode loudly") {
    an[Exception] should be thrownBy
      Multimodal.WavIoCodec.decodeWav(Array[Byte](1, 2, 3, 4))
  }

  test("GifIoCodec writes a real GIF89a container and round-trips " +
    "multi-frame indexed pixels exactly") {
    val (w, h) = (5, 4) // a geometry the JDK writer interlaces by default
    val frames = Seq.tabulate(3)(f => Array.tabulate(h * w)(i => (f * 40 + i * 7) % 256))
    val gif = Multimodal.GifIoCodec.encodeGif(frames, w, h)
    new String(gif.slice(0, 6), "US-ASCII") shouldBe "GIF89a"
    val (dw, dh, back) = Multimodal.GifIoCodec.decodeGif(gif)
    (dw, dh) shouldBe ((w, h))
    back.length shouldBe 3
    back.map(_.toSeq) shouldBe frames.map(_.toSeq)
  }

  test("video decode stats match a direct formula evaluation (incl. frame sampling)") {
    val id = 5L // doc_id % 3 == 2 → routed to video
    val row = Multimodal.qMultimodalVideo(spark, sf())
      .filter(col("media_id") === id).head()
    val (w, h, n) = (4 + (id % 9).toInt, 3 + (id % 7).toInt, 2 + (id % 5).toInt)
    def fs(f: Int): Long = (for { y <- 0 until h; x <- 0 until w }
      yield (5L * id + 7L * f + 3L * x + 11L * y) % 256L).sum
    val sums = (0 until n).map(fs)
    row.getAs[Long]("n_frames") shouldBe n.toLong
    row.getAs[Long]("dec_w") shouldBe w.toLong
    row.getAs[Long]("dec_h") shouldBe h.toLong
    row.getAs[Long]("sum_all") shouldBe sums.sum
    row.getAs[Long]("frame_xor") shouldBe sums.foldLeft(0L)(_ ^ _)
    row.getAs[Long]("n_sampled") shouldBe ((n + 1) / 2).toLong
    row.getAs[Long]("sum_sampled") shouldBe (0 until n by 2).map(fs).sum
  }

  test("video fixture covers only video-routed docs and decodes zero-shuffle") {
    val vids = Multimodal.qMultimodalVideo(spark, sf())
    val n = graft.tables.Tables.documents(spark, sf())
      .filter(col("doc_id") % 3 === 2).count()
    vids.count() shouldBe n
    // one shuffle total: the output sort's range partitioning
    val plan = vids.queryExecution.executedPlan.toString
    "Exchange".r.findAllIn(plan).length shouldBe 1
  }

  test("audio content dedup finds clusters a byte-level dedup must miss") {
    val clusters = Multimodal.qAudioDedup(spark, sf()).collect()
    // total membership covers the corpus exactly once
    clusters.map(_.getLong(1)).sum shouldBe
      graft.tables.Tables.documents(spark, sf()).count()
    // the punchline: at least one cluster spans multiple sample rates —
    // identical decoded content, different RIFF headers, so md5-of-payload
    // grouping would split it (verified directly below)
    val mixed = clusters.filter(_.getLong(2) > 1)
    mixed should not be empty
    val byteClusters = Multimodal.wavDupTable(spark, sf()).toDF()
      .groupBy(md5(col("payload"))).count().count()
    byteClusters should be > clusters.length.toLong
  }

  test("aHash is scale-invariant by arithmetic: every scale variant of " +
    "one source image fingerprints identically") {
    // direct codec-level check of the nested-floor identity — one seed,
    // all three scale factors, encoded independently from the fixture
    // formula (k is the only thing that varies)
    val seed = 42L
    val hashes = Seq(1, 2, 3).map { k =>
      val w0 = 4 + (seed % 9).toInt
      val h0 = 3 + (seed % 7).toInt
      val img = new java.awt.image.BufferedImage(
        k * w0, k * h0, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until k * h0; x <- 0 until k * w0) {
        val g = ((7L * seed + 3L * (x / k) + 11L * (y / k)) % 256L).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val (w, hash, gsum) = Multimodal.aHash(Multimodal.ImageIoCodec.encodePng(img))
      w shouldBe k * w0
      (hash, gsum)
    }
    hashes.distinct should have size 1
  }

  test("image perceptual dedup recovers the planted content classes " +
    "collision-free, across dimensions md5/metadata dedup cannot bridge") {
    val clusters = Multimodal.qImageDedup(spark, sf()).collect()
    val nDocs = graft.tables.Tables.documents(spark, sf()).count()
    // membership covers the corpus exactly once, clusters ≡ seed classes
    clusters.map(_.getLong(1)).sum shouldBe nDocs
    clusters.length shouldBe
      math.min(nDocs, Multimodal.ImageDupSeeds).toInt
    // fingerprints are collision-free across seeds (cluster key is the
    // (hash_hi, hash_lo, grid_sum) triple)
    clusters.map(r => (r.getLong(3), r.getLong(4), r.getLong(5)))
      .distinct.length shouldBe clusters.length
    // the punchline: clusters span multiple decoded dimensions —
    // byte-level AND (width, height)-metadata grouping would split them
    val spanning = clusters.filter(_.getLong(2) > 1)
    spanning should not be empty
    val byteClusters = Multimodal.pngDupTable(spark, sf()).toDF()
      .groupBy(md5(col("payload"))).count().count()
    byteClusters should be > clusters.length.toLong
  }

  test("non-GIF payload fails video decode loudly") {
    an[Exception] should be thrownBy
      Multimodal.GifIoCodec.decodeGif(Array[Byte](1, 2, 3, 4))
  }
  test("ColorGifCodec round-trips web-safe-cube channels bit-exactly " +
    "through real GIF bytes") {
    // one hand-built 2-frame clip: indices on the 216 cube
    val (w, h) = (5, 4)
    def lvl(base: Int, f: Int, x: Int, y: Int, m: Int): Int =
      ((base + 7 * f + 3 * x + 11 * y) % m + m) % m
    val frames = Seq.tabulate(2) { f =>
      Array.tabulate(h * w) { i =>
        val (x, y) = (i % w, i / w)
        lvl(2, f, x, y, 6) * 36 + lvl(4, f, x, y, 6) * 6 + lvl(1, f, x, y, 6)
      }
    }
    val decoded = Multimodal.ColorGifCodec.decodeChannels(
      Multimodal.ColorGifCodec.encodeGif(frames, w, h))
    decoded.length shouldBe 2
    for (f <- 0 until 2; i <- 0 until h * w) {
      val idx = frames(f)(i)
      decoded(f)(i) shouldBe ((51 * (idx / 36), 51 * ((idx / 6) % 6), 51 * (idx % 6)))
    }
  }

  test("q_video_channels: channel sums are decorrelated and frame counts " +
    "follow the fixture formula") {
    val rows = Multimodal.qVideoChannels(spark, sf()).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      r.getAs[Long]("n_frames") shouldBe 2 + id % 4
      // decorrelated channel formulas: for any clip with >1 pixel the
      // three sums cannot all coincide (coefficients differ mod 6)
      val sums = Seq(r.getAs[Long]("sum_r"), r.getAs[Long]("sum_g"),
        r.getAs[Long]("sum_b"))
      sums.distinct.size should be > 1
    }
  }

  test("q_video_keyframes equals an in-JVM replay of the pixel formula " +
    "and always keeps frame 0") {
    val rows = Multimodal.qVideoKeyframes(spark, sf()).collect()
    rows should not be empty
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val (w, h, n) = (4 + (id % 9).toInt, 3 + (id % 7).toInt,
        2 + (id % 5).toInt)
      val fs = (0 until n).map(f =>
        (for (x <- 0 until w; y <- 0 until h)
          yield (5L * id + 7L * f + 3L * x + 11L * y) % 256L).sum)
      val deltas = (0 until n).map(f =>
        if (f == 0) 0L else math.abs(fs(f) - fs(f - 1)))
      val keys = (0 until n).filter(f =>
        f == 0 || deltas(f) >= Multimodal.KeyframeDelta)
      r.getAs[Long]("n_frames") shouldBe n.toLong
      r.getAs[Long]("n_key") shouldBe keys.length.toLong
      r.getAs[Long]("key_xor") shouldBe
        keys.map(_.toLong).foldLeft(0L)(_ ^ _)
      r.getAs[Long]("sum_key") shouldBe keys.map(fs(_)).sum
      r.getAs[Long]("max_delta") shouldBe deltas.drop(1).foldLeft(0L)(math.max)
      keys should contain(0)
    }
    // the threshold discriminates: not every video keeps every frame
    rows.exists(r => r.getAs[Long]("n_key") < r.getAs[Long]("n_frames")) shouldBe true
  }
}
