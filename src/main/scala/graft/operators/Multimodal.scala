package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** A media item: opaque binary payload + typed metadata. At 100 TB the
  * payload column dominates storage; everything that doesn't need bytes
  * (filtering, routing, joins on metadata) must be expressible without
  * deserializing it — hence payload is a plain `binary` column that
  * columnar parquet scans can skip entirely.
  */
final case class MediaItem(
    media_id: Long,
    media_type: String, // image | audio | video
    payload: Array[Byte],
    width: Int, // pixels (image/video) or 0
    height: Int,
    sample_rate: Int, // Hz (audio) or 0
    n_frames: Int) // video frames / audio windows

/** Decoded per-item features (the batch-UDF output contract). */
final case class MediaFeatures(
    media_id: Long,
    media_type: String,
    n_bytes: Long,
    feature: Array[Float]) // fixed FeatureDim-length embedding

/** Multimodal column plumbing: decode / feature-extract / resize /
  * frame-sample over binary payload columns.
  *
  * The container ships no image/audio codecs, so the *decode* step is a
  * [[MediaCodec]] trait with a deterministic fake implementation
  * ([[ByteStatsCodec]]) — the Spark-side plumbing (schema, batch shape,
  * partitioning, executor-side iteration) is real and is what these
  * operators test. A production deployment swaps in a JNI/FFI codec with
  * the same trait, nothing else changes.
  *
  * Batch shape: `mapPartitions` hands each executor thread an iterator over
  * its partition; the codec amortizes per-batch init (model load, codec
  * context) across the partition — same shape as an Arrow/pandas batch UDF,
  * without a Python round-trip.
  */
object Multimodal {

  val FeatureDim = 16

  /** The pluggable decode contract. Implementations must be deterministic
    * per payload for oracle/testing purposes.
    */
  trait MediaCodec extends Serializable {
    /** Called once per partition before items stream through — amortized
      * init (load model weights, allocate codec context).
      */
    def open(): Unit = ()
    def features(payload: Array[Byte]): Array[Float]
    /** "Resize": produce a payload whose decoded dimensions are (w, h). */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte]
    /** Sample every `stride`-th frame; a frame is `frameBytes` long. */
    def sampleFrames(payload: Array[Byte], frameBytes: Int, stride: Int): Seq[Array[Byte]]
  }

  /** Deterministic stand-in codec: features = L1-normalized 16-bin byte
    * histogram; resize = crop/zero-pad to w·h bytes; frames = fixed-size
    * chunks. Replace with a real decoder in production:
    * `class JpegCodec extends MediaCodec { ... }` backed by native libs.
    */
  object ByteStatsCodec extends MediaCodec {
    def features(payload: Array[Byte]): Array[Float] = {
      val bins = new Array[Float](FeatureDim)
      var i = 0
      while (i < payload.length) {
        bins((payload(i) & 0xff) / FeatureDim) += 1f
        i += 1
      }
      val n = math.max(payload.length, 1).toFloat
      bins.map(_ / n)
    }
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      java.util.Arrays.copyOf(payload, w * h)
    def sampleFrames(payload: Array[Byte], frameBytes: Int, stride: Int): Seq[Array[Byte]] =
      payload.grouped(frameBytes).zipWithIndex
        .collect { case (f, i) if i % stride == 0 => f }
        .toSeq
  }

  /** REAL image codec over javax.imageio (pure JDK — no native libs):
    * decodes PNG/JPEG payloads to pixels, resizes by nearest-neighbor
    * (explicit pixel mapping, NOT Graphics2D interpolation, so the result
    * is bit-deterministic and mirrorable in SQL), re-encodes PNG
    * (lossless, so decode∘resize∘decode is exact). `frameBytes` is
    * interpreted as rows-per-frame: a "video" payload is one tall image
    * sliced into horizontal strips. Audio/video container demux would
    * follow the same trait with an FFI codec; the image path is fully
    * real.
    */
  object ImageIoCodec extends MediaCodec {
    // Memory-backed image streams: ImageIO's default stream cache spills
    // every read/write through a TEMP FILE (create + delete per call) —
    // at millions of small payloads per executor that is one fsync-able
    // filesystem round-trip per image for data that fits in a few KiB of
    // heap. Executor-side object init runs this once per JVM. Measured on
    // the sf0.1 decode query (60k images × 5 codec calls): 7.5 s → see
    // docs/BENCH_DETAIL.json after the change.
    javax.imageio.ImageIO.setUseCache(false)
    // Per-thread codec state (guide §4.5 — initialize heavyweight state
    // once per task, not per row): ImageIO.read/write resolve a reader/
    // writer SPI and instantiate a fresh PNGImageReader/Writer per CALL,
    // and createImageInputStream scans the stream-SPI registry per call.
    // The fixture payloads are all PNG by construction (encodePng is the
    // only producer), so one reader/writer per executor thread, re-aimed
    // with setInput/setOutput per payload, runs the SAME javax.imageio
    // codec with the per-call lookup+construction amortized away.
    private val pngReaders =
      ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
        javax.imageio.ImageIO.getImageReadersByFormatName("png").next())
    private val pngWriters =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName("png").next())
    private def decode(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val reader = pngReaders.get()
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        reader.setInput(iis, /* seekForwardOnly = */ true,
          /* ignoreMetadata = */ true)
        // the PNG reader rejects a non-PNG payload with its own IIOException
        val img = try reader.read(0) catch {
          case e: java.io.IOException =>
            throw new IllegalArgumentException("undecodable image payload", e)
        }
        require(img != null, "undecodable image payload")
        img
      } finally {
        reader.setInput(null)
        iis.close()
      }
    }
    private[operators] def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val writer = pngWriters.get()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(img)
      } finally {
        writer.setOutput(null)
        ios.close()
      }
      bos.toByteArray
    }
    /** Row-major packed ARGB pixels in ONE bulk grab — getRGB(x, y) per
      * pixel pays a color-model conversion call per pixel (r15).
      */
    private def pixels(img: java.awt.image.BufferedImage): Array[Int] =
      img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)
    /** (width, height, Σr, Σg, Σb) of a decoded payload — exact integers,
      * the cross-engine decode contract of [[qMultimodalDecode]].
      */
    private[operators] def rgbSums(payload: Array[Byte]): (Int, Int, Long, Long, Long) = {
      val img = decode(payload)
      val px = pixels(img)
      var sr = 0L
      var sg = 0L
      var sb = 0L
      var i = 0
      while (i < px.length) {
        val rgb = px(i)
        sr += (rgb >> 16) & 0xff
        sg += (rgb >> 8) & 0xff
        sb += rgb & 0xff
        i += 1
      }
      (img.getWidth, img.getHeight, sr, sg, sb)
    }
    /** L1-normalized FeatureDim-bin luminance histogram (integer
      * luminance: (r+g+b)/3, floor) — the ByteStatsCodec contract over
      * DECODED pixels instead of raw bytes.
      */
    def features(payload: Array[Byte]): Array[Float] = {
      val img = decode(payload)
      val px = pixels(img)
      val bins = new Array[Float](FeatureDim)
      var i = 0
      while (i < px.length) {
        val rgb = px(i)
        val lum = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
        bins(lum * FeatureDim / 256) += 1f
        i += 1
      }
      val n = math.max(img.getWidth * img.getHeight, 1).toFloat
      bins.map(_ / n)
    }
    /** Nearest-neighbor: dst(x, y) = src(x·w₀/w, y·h₀/h), integer floor —
      * the exact mapping the decode-oracle mirrors with `//` arithmetic.
      */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val src = decode(payload)
      val sw = src.getWidth
      val spx = pixels(src)
      val dpx = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val sy = y * src.getHeight / h
        var x = 0
        while (x < w) {
          dpx(y * w + x) = spx(sy * sw + x * sw / w)
          x += 1
        }
        y += 1
      }
      val dst = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      dst.setRGB(0, 0, w, h, dpx, 0, w)
      encodePng(dst)
    }
    /** (decoded width, 8×8 nearest-neighbor gray sample grid, row-major)
      * — the aHash sampling pass of [[Multimodal.qImageDedup]]: cell
      * (i, j) reads pixel (i·W//8, j·H//8) of the decoded image (blue
      * channel; the fixture is gray so all channels agree).
      */
    private[operators] def graySample8(payload: Array[Byte]): (Int, Array[Int]) = {
      val img = decode(payload)
      val w = img.getWidth
      val px = pixels(img)
      val g = Array.tabulate(64) { idx =>
        px(((idx / 8) * img.getHeight / 8) * w + (idx % 8) * w / 8) & 0xff
      }
      (w, g)
    }
    /** Every `stride`-th horizontal strip of `frameBytes` rows, each
      * re-encoded as its own PNG.
      */
    def sampleFrames(payload: Array[Byte], frameBytes: Int, stride: Int): Seq[Array[Byte]] = {
      val src = decode(payload)
      val nFrames = (src.getHeight + frameBytes - 1) / frameBytes
      (0 until nFrames).collect {
        case i if i % stride == 0 =>
          val rows = math.min(frameBytes, src.getHeight - i * frameBytes)
          encodePng(src.getSubimage(0, i * frameBytes, src.getWidth, rows))
      }
    }
  }

  /** Derive a deterministic media table from `documents`: payload = UTF-8
    * bytes of the text, media_type round-robins by id, metadata synthesized
    * from length. (The corpus ships no binary table; this keeps every byte
    * reproducible on both engines.)
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id").as("media_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      col("text").cast("binary").as("payload"),
      (col("n_chars") % 640).cast("int").as("width"),
      (col("n_chars") % 480).cast("int").as("height"),
      when(col("doc_id") % 3 === 1, 16000).otherwise(0).cast("int").as("sample_rate"),
      (col("n_chars") / 100).cast("int").as("n_frames"))

  /** The batch feature-extraction operator: distributed decode via
    * mapPartitions with per-partition codec init. Returns a typed Dataset —
    * downstream ANN/dedup operators consume `feature` directly.
    */
  def extractFeatures(
      media: DataFrame,
      codec: MediaCodec = ByteStatsCodec): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("media_type"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        codec.open()
        it.map { case (id, tpe, payload) =>
          MediaFeatures(id, tpe, payload.length.toLong, codec.features(payload))
        }
      }
  }

  /** Metadata-only query — provably never touches payload bytes except the
    * hash/length (and the scan prunes payload for the pure-metadata
    * aggregations). Oracle-checked: DuckDB 1.0 lacks md5(BLOB), so the
    * oracle hashes the source text — byte-identical to hashing the UTF-8
    * payload, which is the point.
    */
  def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .select(
        col("media_id"),
        col("media_type"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_frames").cast("long").as("n_frames"))
      .orderBy(col("media_id"))

  /** Batch decode through the fake codec, aggregated per media_type so the
    * result is compact; rows-only oracle (mapPartitions closure is not
    * SQL-expressible — correctness is pinned by MultimodalSpec instead).
    */
  def qMultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val feats = extractFeatures(mediaTable(s, dir))
    feats.toDF()
      .select(col("media_type"), col("n_bytes"))
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"))
      .orderBy(col("media_type"))
  }

  /** Frame geometry for [[qMultimodalFrames]] (the fake codec's "video"
    * is the payload chopped into fixed-size chunks).
    */
  val FrameBytes = 32
  val FrameStride = 4

  /** One sampled frame of one media item. */
  final case class MediaFrame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** The frame-sampling operator: every `stride`-th frame of each video
    * payload, decoded executor-side through the codec (same mapPartitions
    * batch shape as [[extractFeatures]]). Downstream consumers (frame-level
    * feature extraction, frame dedup) read the typed Dataset directly.
    */
  def sampleFrames(
      media: DataFrame,
      frameBytes: Int = FrameBytes,
      stride: Int = FrameStride,
      codec: MediaCodec = ByteStatsCodec): Dataset[MediaFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("media_type") === "video")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        codec.open()
        it.flatMap { case (id, payload) =>
          codec.sampleFrames(payload, frameBytes, stride).zipWithIndex
            .map { case (f, i) => MediaFrame(id, i, f) }
        }
      }
  }

  /** Frame-sample report per video: how many frames survive the stride and
    * the fingerprint of the first sampled frame. Oracle-checked because the
    * fake codec's frames are byte ranges of the payload, which DuckDB can
    * reproduce with substr arithmetic — so the mapPartitions plumbing
    * (executor-side codec, explode shape, typed rows) is verified
    * end-to-end against SQL, not just spec-tested.
    */
  def qMultimodalFrames(s: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaTable(s, dir)).toDF()
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).as("n_sampled"),
        first(when(col("frame_idx") === 0, md5(col("frame"))), ignoreNulls = true)
          .as("first_frame_md5"))
      .orderBy(col("media_id"))

  // ------------------------------------------------------------------
  // REAL decode path: deterministic synthetic PNGs, decoded back through
  // javax.imageio. The pixel FORMULA is the oracle: channel sums of the
  // decoded (and nearest-neighbor-resized) image are recomputed by DuckDB
  // from the formula alone — if decode, dims, or the resize mapping are
  // wrong anywhere, the integer sums mismatch loudly. The PNG bytes
  // themselves never cross engines (DuckDB has no codec), which is the
  // point: the oracle is an INDEPENDENT derivation, not a byte echo.
  // ------------------------------------------------------------------

  /** One synthetic image: `payload` is a real PNG encoding of
    * pixel(x, y) = ((7id+3x+5y) % 256, (11id+2x+7y) % 256, (13id+x+9y) % 256)
    * at (4 + id%13) × (3 + id%11).
    */
  final case class PngItem(media_id: Long, width: Int, height: Int, payload: Array[Byte])

  final case class PngDecodeStats(
      media_id: Long, dec_w: Long, dec_h: Long,
      sum_r: Long, sum_g: Long, sum_b: Long,
      rz_w: Long, rz_h: Long, rz_sum_r: Long, rz_sum_g: Long, rz_sum_b: Long)

  /** The PNG fixture table — encode runs executor-side (mapPartitions,
    * the [[extractFeatures]] batch shape); only doc_id rides in.
    */
  def pngTable(s: SparkSession, dir: String): Dataset[PngItem] = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = 4 + (id % 13).toInt
          val h = 3 + (id % 11).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val r = ((7L * id + 3L * x + 5L * y) % 256).toInt
              val g = ((11L * id + 2L * x + 7L * y) % 256).toInt
              val b = ((13L * id + x + 9L * y) % 256).toInt
              img.setRGB(x, y, (r << 16) | (g << 8) | b)
              x += 1
            }
            y += 1
          }
          PngItem(id, w, h, ImageIoCodec.encodePng(img))
        }
      }
  }

  /** Decode + resize through the REAL codec, verified against the pixel
    * formula: per image, decoded dims and exact per-channel integer sums,
    * then the same after a nearest-neighbor resize to (max(w/2,1),
    * max(h/2,1)) — encode→decode→resize→encode→decode, all executor-side,
    * zero shuffles before the output sort.
    */
  def qMultimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pngTable(s, dir)
      .mapPartitions { it =>
        it.map { p =>
          val (w, h, sr, sg, sb) = ImageIoCodec.rgbSums(p.payload)
          val w2 = math.max(w / 2, 1)
          val h2 = math.max(h / 2, 1)
          val (rw, rh, rr, rg, rb) =
            ImageIoCodec.rgbSums(ImageIoCodec.resize(p.payload, w2, h2))
          PngDecodeStats(p.media_id, w, h, sr, sg, sb, rw, rh, rr, rg, rb)
        }
      }
      .toDF().orderBy(col("media_id"))
  }

  // ------------------------------------------------------------------
  // REAL audio decode path: deterministic synthetic 16-bit PCM WAVs,
  // written and read back through javax.sound.sampled (pure JDK — the
  // same no-native-libs discipline as the PNG path). The sample FORMULA
  // is the oracle: exact integer stats of the decoded (and decimated →
  // re-encoded → re-decoded) stream are recomputed by DuckDB from the
  // formula alone. A wrong RIFF header, sample width, byte order
  // (PCM is little-endian signed here), or decimation mapping mismatches
  // loudly. WAV bytes never cross engines.
  // ------------------------------------------------------------------

  /** PCM sample formula: s(id, i) = ((17·id + 31·i) mod 2¹⁶) − 2¹⁵ —
    * spans the full int16 range, exact in 64-bit arithmetic on both
    * engines.
    */
  private def wavSample(id: Long, i: Int): Int =
    ((17L * id + 31L * i) % 65536L).toInt - 32768

  /** Real WAV container codec over javax.sound.sampled. */
  object WavIoCodec {
    private def fmt(sr: Int) = new javax.sound.sampled.AudioFormat(
      sr.toFloat, 16, 1, /* signed = */ true, /* bigEndian = */ false)
    // Per-JVM codec state (guide §4.5): AudioSystem.getAudioInputStream
    // and AudioSystem.write re-run the provider ServiceLoader scan on
    // EVERY call (the JDK caches nothing there since Java 9), which at
    // row rate dwarfs the actual 44-byte header parse of a small WAV.
    // Resolve the platform WAVE reader/writer ONCE; decode/encode below
    // then drive the SAME javax.sound codec implementations directly.
    // Fallback to the AudioSystem entry points if resolution fails, so
    // an exotic JDK only loses the optimization, never correctness
    // (MultimodalSpec pins direct-vs-AudioSystem decode parity).
    private lazy val waveWriter: Option[javax.sound.sampled.spi.AudioFileWriter] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
      var found: Option[javax.sound.sampled.spi.AudioFileWriter] = None
      while (found.isEmpty && it.hasNext) {
        val w = it.next()
        if (w.isFileTypeSupported(
          javax.sound.sampled.AudioFileFormat.Type.WAVE)) found = Some(w)
      }
      found
    }
    private lazy val waveReader: Option[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      var found: Option[javax.sound.sampled.spi.AudioFileReader] = None
      while (found.isEmpty && it.hasNext) {
        val r = it.next()
        if (acceptsWaveProbe(r)) found = Some(r)
      }
      found
    }
    /** A provider qualifies as [[waveReader]] only if it decodes a
      * canonical one-sample WAV from this codec's own writer to exactly
      * that stream — 16-bit mono little-endian signed PCM, one frame. Not
      * throwing is not enough: a provider that decodes to another layout
      * would make every [[decodeWav]] fail.
      */
    private[graft] def acceptsWaveProbe(
        r: javax.sound.sampled.spi.AudioFileReader): Boolean =
      scala.util.Try {
        val ais = r.getAudioInputStream(
          new java.io.ByteArrayInputStream(encodeWav(Array(0), 8000)))
        val f = ais.getFormat
        f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian &&
        ais.getFrameLength == 1L
      }.getOrElse(false)
    def encodeWav(samples: Array[Int], sr: Int): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        pcm(2 * i) = (samples(i) & 0xff).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt(sr), samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      waveWriter match {
        case Some(w) => w.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        case None => javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      }
      bos.toByteArray
    }
    /** (sample_rate, samples) decoded from a WAV payload. */
    def decodeWav(payload: Array[Byte]): (Int, Array[Int]) = {
      val bis = new java.io.ByteArrayInputStream(payload)
      val ais = waveReader match {
        case Some(r) => r.getAudioInputStream(bis)
        case None => javax.sound.sampled.AudioSystem.getAudioInputStream(bis)
      }
      val f = ais.getFormat
      require(f.getSampleSizeInBits == 16 && f.getChannels == 1 &&
        !f.isBigEndian, s"unexpected decoded format: $f")
      val pcm = ais.readAllBytes()
      val out = new Array[Int](pcm.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = ((pcm(2 * i + 1).toInt << 8) | (pcm(2 * i) & 0xff))
        i += 1
      }
      (f.getSampleRate.toInt, out)
    }
  }

  /** One synthetic audio item: a real WAV encoding of [[wavSample]] at
    * (64 + id%97) samples, (8000 + 4000·(id%3)) Hz.
    */
  final case class WavItem(
      media_id: Long, sample_rate: Int, n_samples: Int, payload: Array[Byte])

  final case class WavDecodeStats(
      media_id: Long, sr: Long, n_samples: Long,
      sum_s: Long, sum_sq: Long, min_s: Long, max_s: Long,
      d_n: Long, d_sum: Long, d_sum_sq: Long)

  /** The WAV fixture table — encode runs executor-side (the
    * [[pngTable]] shape); only doc_id rides in.
    */
  def wavTable(s: SparkSession, dir: String): Dataset[WavItem] = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = 64 + (id % 97).toInt
          val sr = 8000 + 4000 * (id % 3).toInt
          WavItem(id, sr, n,
            WavIoCodec.encodeWav(Array.tabulate(n)(wavSample(id, _)), sr))
        }
      }
  }

  /** Decode + decimate through the REAL audio codec, verified against
    * the sample formula: per item, header sample rate + exact integer
    * sample stats, then the same after stride-2 decimation (take every
    * 2nd sample) re-encoded as its own WAV and re-decoded —
    * encode→decode→decimate→encode→decode, all executor-side, zero
    * shuffles before the output sort.
    */
  def qMultimodalAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    wavTable(s, dir)
      .mapPartitions { it =>
        it.map { wv =>
          val (sr, samples) = WavIoCodec.decodeWav(wv.payload)
          val dec = Array.range(0, samples.length, 2).map(samples(_))
          val (dsr, dsamples) =
            WavIoCodec.decodeWav(WavIoCodec.encodeWav(dec, sr))
          require(dsr == sr, s"decimated WAV changed rate: $sr -> $dsr")
          WavDecodeStats(
            wv.media_id, sr.toLong, samples.length.toLong,
            samples.foldLeft(0L)(_ + _),
            samples.foldLeft(0L)((a, v) => a + v.toLong * v),
            samples.min.toLong, samples.max.toLong,
            dsamples.length.toLong,
            dsamples.foldLeft(0L)(_ + _),
            dsamples.foldLeft(0L)((a, v) => a + v.toLong * v))
        }
      }
      .toDF().orderBy(col("media_id"))
  }

  /** Audio feature window: 16 samples per energy bin. */
  val AudioWindow = 16

  final case class WavFeatStats(
      media_id: Long, n_windows: Long,
      e_total: Long, e_max: Long, e_argmax: Long, e_xor: Long)

  /** Windowed-energy features over DECODED audio — the fingerprint an
    * audio dedup/similarity stack keys on (Shazam-class systems hash
    * exactly this profile): energy(k) = Σ s(i)² over window k of
    * [[AudioWindow]] samples (tail window partial). Exact integers, so
    * the per-item profile summary (total/max/argmax/xor) is
    * formula-derivable in DuckDB through the REAL codec: any header,
    * byte-order, or windowing error shifts the integers loudly.
    * Row-local decode + fold, zero shuffles before the output sort.
    */
  def qMultimodalAudioFeat(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    wavTable(s, dir)
      .mapPartitions { it =>
        it.map { wv =>
          val (_, samples) = WavIoCodec.decodeWav(wv.payload)
          val nw = (samples.length + AudioWindow - 1) / AudioWindow
          val e = Array.tabulate(nw) { k =>
            var acc = 0L
            var i = k * AudioWindow
            val end = math.min(i + AudioWindow, samples.length)
            while (i < end) { acc += samples(i).toLong * samples(i); i += 1 }
            acc
          }
          val maxE = e.max
          WavFeatStats(
            wv.media_id, nw.toLong, e.sum, maxE,
            e.indexWhere(_ == maxE).toLong,
            e.foldLeft(0L)(_ ^ _))
        }
      }
      .toDF().orderBy(col("media_id"))
  }

  // ------------------------------------------------------------------
  // Audio CONTENT dedup: same decoded samples, different container bytes
  // ------------------------------------------------------------------

  /** Seed modulus for the planted-duplicate audio fixture: docs sharing
    * doc_id mod 199 carry byte-for-byte IDENTICAL sample streams.
    */
  val AudioDupSeeds = 199L

  final case class WavDupItem(media_id: Long, payload: Array[Byte])
  final case class AudioFp(
      media_id: Long, sr: Long, n_samples: Long,
      sum_s: Long, sum_sq: Long, e_xor: Long)

  /** Planted-duplicate WAV fixture: the sample stream derives from
    * seed = doc_id % [[AudioDupSeeds]] — so ~25 docs per seed at sf0.1
    * share identical CONTENT — while the sample RATE still derives from
    * doc_id (8/12/16 kHz by doc_id % 3). Same samples + different rate =
    * different RIFF header = different payload bytes: exact byte-level
    * dedup (md5 of the blob, the [[Dedup]] entry stage) misses these
    * duplicates BY CONSTRUCTION; only decoding does not.
    */
  def wavDupTable(s: SparkSession, dir: String): Dataset[WavDupItem] = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val seed = id % AudioDupSeeds
          val n = 64 + (seed % 97).toInt
          val sr = 8000 + 4000 * (id % 3).toInt
          WavDupItem(id,
            WavIoCodec.encodeWav(Array.tabulate(n)(wavSample(seed, _)), sr))
        }
      }
  }

  /** Audio dedup on DECODED-content fingerprints — the modality analog
    * of canonical text dedup: cluster key = (n, Σs, Σs², xor of windowed
    * energies) of the decoded stream, all exact integers (verified
    * collision-free across the 199 seeds — cluster ≡ seed). Per cluster:
    * the keeper (min id), member count, and the count of DISTINCT
    * decoded sample rates — n_rates > 1 is the receipt that a byte/md5
    * dedup would have missed the cluster (different RIFF headers). The
    * decode + fingerprint fold is row-local; one shuffle of fixed-width
    * fingerprint rows (never payloads); the oracle re-derives clusters
    * from the seed arithmetic alone.
    */
  def qAudioDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    wavDupTable(s, dir)
      .mapPartitions { it =>
        it.map { wv =>
          val (sr, samples) = WavIoCodec.decodeWav(wv.payload)
          val nw = (samples.length + AudioWindow - 1) / AudioWindow
          var ex = 0L
          var k = 0
          while (k < nw) {
            var acc = 0L
            var i = k * AudioWindow
            val end = math.min(i + AudioWindow, samples.length)
            while (i < end) { acc += samples(i).toLong * samples(i); i += 1 }
            ex ^= acc
            k += 1
          }
          AudioFp(wv.media_id, sr.toLong, samples.length.toLong,
            samples.foldLeft(0L)(_ + _),
            samples.foldLeft(0L)((a, v) => a + v.toLong * v), ex)
        }
      }
      .groupBy(col("n_samples"), col("sum_s"), col("sum_sq"), col("e_xor"))
      .agg(
        min(col("media_id")).as("keeper"),
        count(lit(1)).as("n_members"),
        countDistinct(col("sr")).as("n_rates"))
      .select(col("keeper"), col("n_members"), col("n_rates"),
        col("n_samples"))
      .orderBy(col("keeper"))
  }

  // ------------------------------------------------------------------
  // REAL video decode path: deterministic synthetic animated GIFs,
  // written and read back through javax.imageio (pure JDK — the PNG/WAV
  // discipline extended to a MULTI-FRAME container). The per-frame gray
  // FORMULA is the oracle: exact integer frame statistics of the decoded
  // stream — including a stride-2 frame-sampling pass, the operation a
  // video curation pipeline actually runs — are recomputed by DuckDB
  // from the formula alone. A wrong frame count, palette, interlace
  // flag (the GIF writer interlaces by default and the reader honors
  // it — MODE_DISABLED is load-bearing), or sampling stride mismatches
  // loudly. GIF bytes never cross engines.
  // ------------------------------------------------------------------

  /** Frame-pixel formula: gray(id, f, x, y) = (5·id + 7·f + 3·x + 11·y)
    * mod 256 — every frame differs from its neighbors (f-term) so a
    * frame-order or frame-count error shifts the sums.
    */
  private def gifPixel(id: Long, f: Int, x: Int, y: Int): Int =
    ((5L * id + 7L * f + 3L * x + 11L * y) % 256L).toInt

  /** Real animated-GIF container codec over javax.imageio. Frames are
    * 8-bit indexed against an identity 256-gray palette, so the
    * quantizer never runs and the round-trip is bit-exact.
    */
  object GifIoCodec {
    private def grayPalette(): java.awt.image.IndexColorModel = {
      val g = Array.tabulate[Byte](256)(_.toByte)
      new java.awt.image.IndexColorModel(8, 256, g, g, g)
    }

    // Per-thread codec state (guide §4.5, the ImageIoCodec argument):
    // getImageReaders/WritersByFormatName instantiate a fresh
    // GIFImageReader/Writer per CALL and createImage{Input,Output}Stream
    // scan the stream-SPI registry per call; one instance per executor
    // thread re-aimed per payload runs the same codec without the churn.
    private val gifReaders =
      ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next())
    private val gifWriters =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next())

    /** Encode `frames` (row-major gray values) as one animated GIF. */
    def encodeGif(frames: Seq[Array[Int]], w: Int, h: Int): Array[Byte] = {
      val writer = gifWriters.get()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        val param = writer.getDefaultWriteParam
        // GIF's 4-pass interlace reorders rows on disk; the JDK writer
        // enables it for some geometries unless explicitly disabled, and a
        // sequential read of an interlaced frame returns scrambled rows.
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        writer.prepareWriteSequence(null)
        val cm = grayPalette()
        frames.foreach { frame =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { raster.setSample(x, y, 0, frame(y * w + x)); x += 1 }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
        }
        writer.endWriteSequence()
      } finally {
        writer.setOutput(null)
        ios.close()
      }
      bos.toByteArray
    }

    /** (w, h, frames) decoded from an animated-GIF payload. */
    def decodeGif(payload: Array[Byte]): (Int, Int, Seq[Array[Int]]) = {
      val reader = gifReaders.get()
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(/* allowSearch = */ true)
        require(n > 0, "no frames decoded — not an animated GIF payload")
        var w0 = 0
        var h0 = 0
        val frames = (0 until n).map { f =>
          val img = reader.read(f)
          val (w, h) = (img.getWidth, img.getHeight)
          if (f == 0) { w0 = w; h0 = h }
          // one bulk ARGB grab per frame (getRGB per pixel pays a
          // color-model call per pixel), blue channel = gray index
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          Array.tabulate(h * w)(i => px(i) & 0xff)
        }
        (w0, h0, frames)
      } finally {
        reader.setInput(null)
        iis.close()
      }
    }
  }

  /** One synthetic video: a real animated GIF of [[gifPixel]] at
    * (4 + id%9) × (3 + id%7), 2 + id%5 frames. Video docs only
    * (doc_id % 3 == 2, the [[mediaTable]] routing).
    */
  final case class GifItem(
      media_id: Long, width: Int, height: Int, n_frames: Int, payload: Array[Byte])

  final case class GifDecodeStats(
      media_id: Long, n_frames: Long, dec_w: Long, dec_h: Long,
      sum_all: Long, frame_xor: Long, n_sampled: Long, sum_sampled: Long)

  /** The GIF fixture table — encode runs executor-side (the [[pngTable]]
    * shape); only doc_id rides in.
    */
  def gifTable(s: SparkSession, dir: String): Dataset[GifItem] = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") % 3 === 2).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = 4 + (id % 9).toInt
          val h = 3 + (id % 7).toInt
          val n = 2 + (id % 5).toInt
          val frames = Seq.tabulate(n) { f =>
            Array.tabulate(h * w)(i => gifPixel(id, f, i % w, i / w))
          }
          GifItem(id, w, h, n, GifIoCodec.encodeGif(frames, w, h))
        }
      }
  }

  /** Decode + frame-sample through the REAL video codec, verified against
    * the frame formula: per video, decoded frame count, dims, exact gray
    * sum over all frames, xor of per-frame sums (the frame fingerprint a
    * video dedup keys on), and the count/sum over a stride-2 frame
    * sample — all executor-side, zero shuffles before the output sort.
    */
  def qMultimodalVideo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gifTable(s, dir)
      .mapPartitions { it =>
        it.map { gv =>
          val (w, h, frames) = GifIoCodec.decodeGif(gv.payload)
          val frameSums = frames.map(_.foldLeft(0L)(_ + _))
          val sampled = frameSums.indices.filter(_ % 2 == 0)
          GifDecodeStats(
            gv.media_id, frames.length.toLong, w.toLong, h.toLong,
            frameSums.sum, frameSums.foldLeft(0L)(_ ^ _),
            sampled.length.toLong, sampled.map(frameSums).sum)
        }
      }
      .toDF().orderBy(col("media_id"))
  }

  /** Keyframe threshold for [[qVideoKeyframes]]: the inter-frame
    * gray-sum delta is 7·w·h minus 256 per wrapped pixel, so 400 splits
    * the ≤1-wrap frames (keyframes) from the rest — both engines compute
    * the same exact integers, so the split is bit-stable.
    */
  val KeyframeDelta = 400L

  final case class KeyframeStats(
      media_id: Long, n_frames: Long, n_key: Long, key_xor: Long,
      sum_key: Long, max_delta: Long)

  /** Keyframe selection through the REAL codec — the shot-boundary
    * primitive of video curation (sample frames where content CHANGES,
    * not on a blind stride): decode every frame, reduce to per-frame
    * gray sums, mark frame 0 plus every frame whose absolute sum delta
    * from its predecessor reaches [[KeyframeDelta]]. All row-local
    * executor-side work after the decode ([[qMultimodalVideo]]'s scale
    * shape — the lag difference lives INSIDE the row's frame array, so
    * no window function and no shuffle before the output sort). The
    * oracle recomputes sums and deltas from the pixel formula; GIF bytes
    * never cross engines.
    */
  def qVideoKeyframes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gifTable(s, dir)
      .mapPartitions { it =>
        it.map { gv =>
          val (_, _, frames) = GifIoCodec.decodeGif(gv.payload)
          val fs = frames.map(_.foldLeft(0L)(_ + _))
          val deltas = fs.indices.map(f =>
            if (f == 0) 0L else math.abs(fs(f) - fs(f - 1)))
          val keys = fs.indices.filter(f =>
            f == 0 || deltas(f) >= KeyframeDelta)
          KeyframeStats(
            gv.media_id, fs.length.toLong, keys.length.toLong,
            keys.map(_.toLong).foldLeft(0L)(_ ^ _),
            keys.map(fs(_)).sum,
            deltas.drop(1).foldLeft(0L)(math.max))
        }
      }
      .toDF().orderBy(col("media_id"))
  }

  // ------------------------------------------------------------------
  // COLOR video path: the gray GIF pipeline above sidesteps palette
  // quantization with a 256-gray identity palette; this one proves the
  // CHANNEL-preserving variant with the fixed web-safe 216-color cube
  // (6 levels/channel at stride 51). Pixels are generated ON the cube,
  // so the quantizer still never runs and the round trip stays
  // bit-exact — per-channel sums decoded from real GIF bytes equal the
  // channel FORMULA recomputed by DuckDB. A palette-order bug, channel
  // swap, or frame drop shifts a per-channel sum loudly.
  // ------------------------------------------------------------------

  /** Channel-level formulas (0..5 on the web-safe cube; scaled ×51 at
    * encode): decorrelated coefficients per channel so a swap or drop of
    * any one channel moves its sum and not the others'.
    */
  private def rLvl(id: Long, f: Int, x: Int, y: Int): Int =
    ((5L * id + 7L * f + 3L * x + 11L * y) % 6L).toInt
  private def gLvl(id: Long, f: Int, x: Int, y: Int): Int =
    ((3L * id + 11L * f + 7L * x + 5L * y + 1L) % 6L).toInt
  private def bLvl(id: Long, f: Int, x: Int, y: Int): Int =
    ((11L * id + 5L * f + 13L * x + 7L * y + 2L) % 6L).toInt

  /** Animated-GIF codec against the fixed web-safe 216-color palette
    * (index = r6·36 + g6·6 + b6). Same writer discipline as
    * [[GifIoCodec]] (interlace disabled).
    */
  object ColorGifCodec {
    private def webSafePalette(): java.awt.image.IndexColorModel = {
      val r = Array.tabulate[Byte](216)(i => (51 * (i / 36)).toByte)
      val g = Array.tabulate[Byte](216)(i => (51 * ((i / 6) % 6)).toByte)
      val b = Array.tabulate[Byte](216)(i => (51 * (i % 6)).toByte)
      new java.awt.image.IndexColorModel(8, 216, r, g, b)
    }

    // same per-thread codec-state discipline as [[GifIoCodec]] (r15)
    private val gifReaders =
      ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next())
    private val gifWriters =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next())

    /** Encode frames of palette INDICES as one animated GIF. */
    def encodeGif(frames: Seq[Array[Int]], w: Int, h: Int): Array[Byte] = {
      val writer = gifWriters.get()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        val param = writer.getDefaultWriteParam
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        writer.prepareWriteSequence(null)
        val cm = webSafePalette()
        frames.foreach { frame =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { raster.setSample(x, y, 0, frame(y * w + x)); x += 1 }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
        }
        writer.endWriteSequence()
      } finally {
        writer.setOutput(null)
        ios.close()
      }
      bos.toByteArray
    }

    /** Per-frame (r, g, b) pixel channels decoded from a payload. */
    def decodeChannels(payload: Array[Byte]): Seq[Array[(Int, Int, Int)]] = {
      val reader = gifReaders.get()
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(/* allowSearch = */ true)
        require(n > 0, "no frames decoded — not an animated GIF payload")
        (0 until n).map { f =>
          val img = reader.read(f)
          val (w, h) = (img.getWidth, img.getHeight)
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          Array.tabulate(h * w) { i =>
            val rgb = px(i)
            ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
          }
        }
      } finally {
        reader.setInput(null)
        iis.close()
      }
    }
  }

  final case class ColorGifItem(media_id: Long, payload: Array[Byte])
  final case class ChannelStats(
      media_id: Long, n_frames: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, frame_xor: Long)

  /** Per-channel video statistics through the REAL color codec: encode
    * the web-safe-cube formula frames, decode the GIF bytes, and report
    * exact per-channel sums plus a bit_xor of per-frame totals (the
    * frame fingerprint). Executor-side row-local work, zero shuffles
    * before the output sort — the [[qMultimodalVideo]] scale shape with
    * channels. The oracle recomputes every number from the channel
    * FORMULA; the bytes never cross engines.
    */
  def qVideoChannels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") % 3 === 2).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = 4 + (id % 8).toInt
          val h = 3 + (id % 6).toInt
          val n = 2 + (id % 4).toInt
          val frames = Seq.tabulate(n) { f =>
            Array.tabulate(h * w) { i =>
              val (x, y) = (i % w, i / w)
              rLvl(id, f, x, y) * 36 + gLvl(id, f, x, y) * 6 + bLvl(id, f, x, y)
            }
          }
          ColorGifItem(id, ColorGifCodec.encodeGif(frames, w, h))
        }
      }
      .mapPartitions { it =>
        it.map { cv =>
          val frames = ColorGifCodec.decodeChannels(cv.payload)
          val frameSums = frames.map(_.foldLeft(0L) { case (a, (r, g, b)) =>
            a + r + g + b })
          ChannelStats(
            cv.media_id, frames.length.toLong,
            frames.map(_.foldLeft(0L)(_ + _._1)).sum,
            frames.map(_.foldLeft(0L)(_ + _._2)).sum,
            frames.map(_.foldLeft(0L)(_ + _._3)).sum,
            frameSums.foldLeft(0L)(_ ^ _))
        }
      }
      .toDF().orderBy(col("media_id"))
  }

  // ------------------------------------------------------------------
  // Image CONTENT dedup: perceptual hash (aHash) across SCALE variants.
  // The modality triad's third leg — text dedup keys on canonical
  // hashes, audio dedup (above) on decoded-sample fingerprints; image
  // near-dup keys on a fixed-grid perceptual hash that is invariant to
  // the resizes a crawl pipeline encounters (thumbnails, retina 2×/3×
  // assets of one source image).
  // ------------------------------------------------------------------

  /** Seed modulus for the planted-duplicate image fixture: docs sharing
    * doc_id mod 151 carry the SAME source image, re-encoded at scale
    * factor 1 + doc_id%3 — different bytes AND different dimensions, so
    * both md5 dedup and metadata (width, height) joins miss the
    * duplicates by construction; only a scale-normalizing perceptual
    * hash recovers them.
    */
  val ImageDupSeeds = 151L

  /** Base-image pixel formula: gray(seed, x, y) = (7·seed + 3·x + 11·y)
    * mod 256 at (4 + seed%9) × (3 + seed%7). A scale-k variant is the
    * nearest-neighbor upscale: pixel(x, y) = gray(seed, x//k, y//k).
    */
  private def imgPixel(seed: Long, x: Int, y: Int): Int =
    ((7L * seed + 3L * x + 11L * y) % 256L).toInt

  final case class PngDupItem(media_id: Long, payload: Array[Byte])
  final case class ImageFp(
      media_id: Long, dec_w: Long, hash_hi: Long, hash_lo: Long, grid_sum: Long)

  /** Planted-duplicate PNG fixture — encode runs executor-side (the
    * [[pngTable]] shape); only doc_id rides in.
    */
  def pngDupTable(s: SparkSession, dir: String): Dataset[PngDupItem] = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val seed = id % ImageDupSeeds
          val k = 1 + (id % 3).toInt
          val w = k * (4 + (seed % 9).toInt)
          val h = k * (3 + (seed % 7).toInt)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val g = imgPixel(seed, x / k, y / k)
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          PngDupItem(id, ImageIoCodec.encodePng(img))
        }
      }
  }

  /** The per-payload aHash through the REAL codec: decode, sample the
    * fixed 8×8 grid (nearest-neighbor, floor arithmetic), threshold
    * each cell against the integer grid mean (64·v > Σv — exact, no
    * division), pack 64 bits. Scale invariance is arithmetic, not
    * approximate: the grid cell of a k-scaled payload reads source
    * pixel ((i·k·w0)//8)//k = (i·w0)//8 (nested floor-division
    * identity), so every scale variant of one source image lands on
    * the SAME 64 source pixels.
    */
  private[operators] def aHash(payload: Array[Byte]): (Int, Long, Long) = {
    val (w, g) = ImageIoCodec.graySample8(payload)
    val gsum = g.foldLeft(0L)(_ + _)
    var hash = 0L
    var idx = 0
    while (idx < 64) {
      if (64L * g(idx) > gsum) hash |= 1L << idx
      idx += 1
    }
    (w, hash, gsum)
  }

  /** Image dedup on perceptual-hash clusters — cluster key = (aHash
    * bits, grid sum), both exact integers from the decoded pixels
    * (collision-free across the 151 seeds, spec-verified — cluster ≡
    * seed). Per cluster: the keeper (min id), member count, and the
    * count of DISTINCT decoded widths — n_dims > 1 is the receipt that
    * byte-level or metadata dedup would have missed the cluster. The
    * decode + hash is row-local; one shuffle of fixed-width fingerprint
    * rows (never payloads); the hash's two 32-bit halves cross engines
    * as non-negative BIGINTs (a packed 64-bit mask with bit 63 set
    * would need unsigned SQL arithmetic). The oracle re-derives the
    * grid, threshold, and halves from the pixel formula alone.
    */
  def qImageDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pngDupTable(s, dir)
      .mapPartitions { it =>
        it.map { p =>
          val (w, hash, gsum) = aHash(p.payload)
          ImageFp(p.media_id, w.toLong, hash >>> 32, hash & 0xffffffffL, gsum)
        }
      }
      .groupBy(col("hash_hi"), col("hash_lo"), col("grid_sum"))
      .agg(
        min(col("media_id")).as("keeper"),
        count(lit(1)).as("n_members"),
        countDistinct(col("dec_w")).as("n_dims"))
      .select(col("keeper"), col("n_members"), col("n_dims"),
        col("hash_hi"), col("hash_lo"), col("grid_sum"))
      .orderBy(col("keeper"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_meta" -> qMultimodalMeta,
    "q_multimodal_features" -> qMultimodalFeatures,
    "q_multimodal_frames" -> qMultimodalFrames,
    "q_multimodal_decode" -> qMultimodalDecode,
    "q_multimodal_audio" -> qMultimodalAudio,
    "q_multimodal_audio_feat" -> qMultimodalAudioFeat,
    "q_multimodal_video" -> qMultimodalVideo,
    "q_video_channels" -> qVideoChannels,
    "q_video_keyframes" -> qVideoKeyframes,
    "q_audio_dedup" -> qAudioDedup,
    "q_image_dedup" -> qImageDedup
  )

  def oracleSql: Map[String, String] = Map(
    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  CAST(n_chars % 640 AS BIGINT) AS width,
        |  CAST(n_chars % 480 AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS BIGINT) AS sample_rate,
        |  CAST(n_chars // 100 AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,
    "q_multimodal_features" ->
      """SELECT ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
        |  count(*) AS n_items,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY media_type""".stripMargin,
    // Cross-engine contract caveats (DuckDB 1.0 has no BLOB substr/md5,
    // so a byte-faithful oracle is not expressible): (1) substr(text,...)
    // slices CHARACTERS while Spark md5s the first FrameBytes BYTES of
    // the UTF-8 payload — identical only while the corpus text is ASCII
    // in the first frame (true for the synthetic corpus; a multi-byte
    // char inside the first FrameBytes would diverge). (2) WHERE n > 0
    // mirrors Spark's empty-group behavior: a zero-byte payload yields
    // no frames, hence no groupBy row — without the guard the oracle
    // would emit an n_sampled=0 row Spark never produces.
    // The decode oracle re-derives every statistic from the pixel FORMULA
    // (never from the PNG bytes): full-res channel sums over (x, y) ∈
    // w × h, then resized sums over the nearest-neighbor source mapping
    // ((x2·w)//w2, (y2·h)//h2) — the exact mapping ImageIoCodec.resize
    // implements. Agreement proves encode→decode→resize→decode end to end.
    "q_multimodal_decode" ->
      """WITH ids AS (
        |  SELECT doc_id AS media_id,
        |    4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h,
        |    greatest((4 + doc_id % 13) // 2, 1) AS w2,
        |    greatest((3 + doc_id % 11) // 2, 1) AS h2
        |  FROM documents),
        |px AS (SELECT media_id, w, h, unnest(range(0, w)) AS x FROM ids),
        |pxy AS (SELECT media_id, w, h, x, unnest(range(0, h)) AS y FROM px),
        |base AS (
        |  SELECT media_id, w, h,
        |    CAST(sum((7 * media_id + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_r,
        |    CAST(sum((11 * media_id + 2 * x + 7 * y) % 256) AS BIGINT) AS sum_g,
        |    CAST(sum((13 * media_id + x + 9 * y) % 256) AS BIGINT) AS sum_b
        |  FROM pxy GROUP BY media_id, w, h),
        |rpx AS (SELECT media_id, w, h, w2, h2, unnest(range(0, w2)) AS x2 FROM ids),
        |rpxy AS (SELECT media_id, w, h, w2, h2, x2, unnest(range(0, h2)) AS y2 FROM rpx),
        |rsum AS (
        |  SELECT media_id, w2, h2,
        |    CAST(sum((7 * media_id + 3 * ((x2 * w) // w2) + 5 * ((y2 * h) // h2)) % 256) AS BIGINT) AS rz_sum_r,
        |    CAST(sum((11 * media_id + 2 * ((x2 * w) // w2) + 7 * ((y2 * h) // h2)) % 256) AS BIGINT) AS rz_sum_g,
        |    CAST(sum((13 * media_id + ((x2 * w) // w2) + 9 * ((y2 * h) // h2)) % 256) AS BIGINT) AS rz_sum_b
        |  FROM rpxy GROUP BY media_id, w2, h2)
        |SELECT b.media_id,
        |  CAST(b.w AS BIGINT) AS dec_w, CAST(b.h AS BIGINT) AS dec_h,
        |  b.sum_r, b.sum_g, b.sum_b,
        |  CAST(r.w2 AS BIGINT) AS rz_w, CAST(r.h2 AS BIGINT) AS rz_h,
        |  r.rz_sum_r, r.rz_sum_g, r.rz_sum_b
        |FROM base b JOIN rsum r USING (media_id)
        |ORDER BY media_id""".stripMargin,
    // The audio oracle re-derives every statistic from the sample
    // FORMULA (never from the WAV bytes): full-stream integer stats over
    // i ∈ [0, n), then decimated stats over the even indices — the exact
    // stride-2 mapping the codec round-trips through its own encoder.
    // Agreement proves WAV encode→decode→decimate→encode→decode.
    "q_multimodal_audio" ->
      """WITH ids AS (
        |  SELECT doc_id AS media_id,
        |    64 + doc_id % 97 AS n,
        |    8000 + 4000 * (doc_id % 3) AS sr
        |  FROM documents),
        |sx AS (SELECT media_id, n, sr, unnest(range(0, n)) AS i FROM ids),
        |s AS (SELECT media_id, i,
        |    (17 * media_id + 31 * i) % 65536 - 32768 AS v
        |  FROM sx),
        |base AS (SELECT media_id,
        |    CAST(sum(v) AS BIGINT) AS sum_s,
        |    CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |    CAST(min(v) AS BIGINT) AS min_s,
        |    CAST(max(v) AS BIGINT) AS max_s
        |  FROM s GROUP BY media_id),
        |d AS (SELECT media_id,
        |    CAST(count(*) AS BIGINT) AS d_n,
        |    CAST(sum(v) AS BIGINT) AS d_sum,
        |    CAST(sum(v * v) AS BIGINT) AS d_sum_sq
        |  FROM s WHERE i % 2 = 0 GROUP BY media_id)
        |SELECT ids.media_id, CAST(sr AS BIGINT) AS sr,
        |  CAST(n AS BIGINT) AS n_samples,
        |  sum_s, sum_sq, min_s, max_s, d_n, d_sum, d_sum_sq
        |FROM ids JOIN base USING (media_id) JOIN d USING (media_id)
        |ORDER BY media_id""".stripMargin,
    "q_multimodal_audio_feat" ->
      s"""WITH ids AS (
         |  SELECT doc_id AS media_id, 64 + doc_id % 97 AS n FROM documents),
         |sx AS (SELECT media_id, unnest(range(0, n)) AS i FROM ids),
         |s AS (SELECT media_id, i // $AudioWindow AS k,
         |    (17 * media_id + 31 * i) % 65536 - 32768 AS v
         |  FROM sx),
         |e AS (SELECT media_id, k, CAST(sum(v * v) AS BIGINT) AS e
         |  FROM s GROUP BY media_id, k),
         |mx AS (SELECT media_id, max(e) AS e_max FROM e GROUP BY media_id),
         |agg AS (SELECT e.media_id,
         |    count(*) AS n_windows,
         |    CAST(sum(e.e) AS BIGINT) AS e_total,
         |    CAST(min(CASE WHEN e.e = mx.e_max THEN e.k END) AS BIGINT)
         |      AS e_argmax,
         |    bit_xor(e.e) AS e_xor
         |  FROM e JOIN mx USING (media_id) GROUP BY e.media_id)
         |SELECT agg.media_id, n_windows, e_total, mx.e_max, e_argmax, e_xor
         |FROM agg JOIN mx USING (media_id)
         |ORDER BY media_id""".stripMargin,
    // The audio-dedup oracle never decodes anything: clusters are the
    // seed classes by construction (fingerprints verified collision-free
    // across all 199 seeds), rates derive from doc_id % 3. Agreement
    // proves the decoded-content fingerprints recovered exactly the
    // planted content classes through the real codec.
    "q_audio_dedup" ->
      s"""WITH m AS (
         |  SELECT doc_id AS media_id,
         |    doc_id % $AudioDupSeeds AS seed,
         |    8000 + 4000 * (doc_id % 3) AS sr,
         |    64 + (doc_id % $AudioDupSeeds) % 97 AS n
         |  FROM documents)
         |SELECT min(media_id) AS keeper,
         |  count(*) AS n_members,
         |  CAST(count(DISTINCT sr) AS BIGINT) AS n_rates,
         |  CAST(min(n) AS BIGINT) AS n_samples
         |FROM m GROUP BY seed ORDER BY keeper""".stripMargin,
    // The image-dedup oracle never decodes anything: per seed it
    // recomputes the 8×8 grid from the pixel formula over the BASE
    // image ((i·w0)//8 — the scale-invariance identity says every
    // variant samples exactly these pixels), thresholds against the
    // integer grid mean, packs the two 32-bit halves, and groups docs
    // by seed arithmetic. Agreement proves decode → grid sample →
    // threshold → pack through the real codec recovered the planted
    // content classes across all three scale variants.
    "q_image_dedup" ->
      s"""WITH m AS (
         |  SELECT doc_id AS media_id, doc_id % $ImageDupSeeds AS seed,
         |    1 + doc_id % 3 AS k
         |  FROM documents),
         |cell AS (
         |  SELECT seed, unnest(range(0, 64)) AS idx
         |  FROM (SELECT DISTINCT seed FROM m)),
         |v AS (
         |  SELECT seed, idx,
         |    (7 * seed + 3 * (((idx % 8) * (4 + seed % 9)) // 8)
         |       + 11 * (((idx // 8) * (3 + seed % 7)) // 8)) % 256 AS v
         |  FROM cell),
         |gs AS (SELECT seed, CAST(sum(v) AS BIGINT) AS grid_sum
         |  FROM v GROUP BY seed),
         |hsh AS (
         |  SELECT v.seed,
         |    CAST(sum(CASE WHEN 64 * v.v > gs.grid_sum AND idx >= 32
         |      THEN 1::BIGINT << (idx - 32) ELSE 0 END) AS BIGINT) AS hash_hi,
         |    CAST(sum(CASE WHEN 64 * v.v > gs.grid_sum AND idx < 32
         |      THEN 1::BIGINT << idx ELSE 0 END) AS BIGINT) AS hash_lo
         |  FROM v JOIN gs USING (seed) GROUP BY v.seed)
         |SELECT min(m.media_id) AS keeper, count(*) AS n_members,
         |  CAST(count(DISTINCT m.k) AS BIGINT) AS n_dims,
         |  hsh.hash_hi, hsh.hash_lo, gs.grid_sum
         |FROM m JOIN hsh USING (seed) JOIN gs USING (seed)
         |GROUP BY m.seed, hsh.hash_hi, hsh.hash_lo, gs.grid_sum
         |ORDER BY keeper""".stripMargin,
    // The video oracle re-derives every statistic from the frame FORMULA
    // (never from the GIF bytes): per-frame gray sums over (f, x, y) ∈
    // n × w × h, then the whole-stream aggregates and the stride-2
    // frame-sample aggregates. Agreement proves the multi-frame
    // encode→decode→sample path — frame count, order, palette,
    // interlace — end to end.
    // channel-formula recomputation (levels ×51 on the web-safe cube);
    // the GIF bytes never cross engines
    "q_video_channels" ->
      """WITH ids AS (
        |  SELECT doc_id AS media_id,
        |    4 + doc_id % 8 AS w, 3 + doc_id % 6 AS h, 2 + doc_id % 4 AS n
        |  FROM documents WHERE doc_id % 3 = 2),
        |fx AS (SELECT media_id, w, h, n, unnest(range(0, n)) AS f FROM ids),
        |px AS (SELECT media_id, h, f, unnest(range(0, w)) AS x FROM fx),
        |pxy AS (SELECT media_id, f, x, unnest(range(0, h)) AS y FROM px),
        |ch AS (
        |  SELECT media_id, f,
        |    51 * ((5 * media_id + 7 * f + 3 * x + 11 * y) % 6) AS r,
        |    51 * ((3 * media_id + 11 * f + 7 * x + 5 * y + 1) % 6) AS g,
        |    51 * ((11 * media_id + 5 * f + 13 * x + 7 * y + 2) % 6) AS b
        |  FROM pxy),
        |fsum AS (
        |  SELECT media_id, f,
        |    CAST(sum(r) AS BIGINT) AS fr, CAST(sum(g) AS BIGINT) AS fg,
        |    CAST(sum(b) AS BIGINT) AS fb
        |  FROM ch GROUP BY media_id, f)
        |SELECT ids.media_id AS media_id,
        |  CAST(ids.n AS BIGINT) AS n_frames,
        |  CAST(sum(fr) AS BIGINT) AS sum_r,
        |  CAST(sum(fg) AS BIGINT) AS sum_g,
        |  CAST(sum(fb) AS BIGINT) AS sum_b,
        |  bit_xor(fr + fg + fb) AS frame_xor
        |FROM ids JOIN fsum ON ids.media_id = fsum.media_id
        |GROUP BY ids.media_id, ids.n ORDER BY ids.media_id""".stripMargin,
    "q_multimodal_video" ->
      """WITH ids AS (
        |  SELECT doc_id AS media_id,
        |    4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h, 2 + doc_id % 5 AS n
        |  FROM documents WHERE doc_id % 3 = 2),
        |fx AS (SELECT media_id, w, h, n, unnest(range(0, n)) AS f FROM ids),
        |px AS (SELECT media_id, w, h, f, unnest(range(0, w)) AS x FROM fx),
        |pxy AS (SELECT media_id, f, x, unnest(range(0, h)) AS y FROM px),
        |fsum AS (
        |  SELECT media_id, f,
        |    CAST(sum((5 * media_id + 7 * f + 3 * x + 11 * y) % 256) AS BIGINT) AS fs
        |  FROM pxy GROUP BY media_id, f)
        |SELECT ids.media_id,
        |  CAST(ids.n AS BIGINT) AS n_frames,
        |  CAST(ids.w AS BIGINT) AS dec_w, CAST(ids.h AS BIGINT) AS dec_h,
        |  CAST(sum(fs) AS BIGINT) AS sum_all,
        |  bit_xor(fs) AS frame_xor,
        |  count(*) FILTER (f % 2 = 0) AS n_sampled,
        |  CAST(sum(fs) FILTER (f % 2 = 0) AS BIGINT) AS sum_sampled
        |FROM ids JOIN fsum USING (media_id)
        |GROUP BY ids.media_id, ids.n, ids.w, ids.h
        |ORDER BY media_id""".stripMargin,
    "q_multimodal_frames" ->
      s"""WITH v AS (
         |  SELECT doc_id AS media_id, text,
         |    octet_length(encode(text)) AS n
         |  FROM documents WHERE doc_id % 3 = 2)
         |SELECT media_id,
         |  CAST(((n + ${FrameBytes - 1}) // $FrameBytes - 1) // $FrameStride + 1
         |    AS BIGINT) AS n_sampled,
         |  md5(substr(text, 1, $FrameBytes)) AS first_frame_md5
         |FROM v WHERE n > 0 ORDER BY media_id""".stripMargin,
    // same pixel-formula re-derivation as q_multimodal_video, plus the
    // lag delta (a window HERE is fine — the Spark side keeps the lag
    // inside the row's frame array)
    "q_video_keyframes" ->
      s"""WITH ids AS (
         |  SELECT doc_id AS media_id,
         |    4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h, 2 + doc_id % 5 AS n
         |  FROM documents WHERE doc_id % 3 = 2),
         |fx AS (SELECT media_id, w, h, n, unnest(range(0, n)) AS f FROM ids),
         |px AS (SELECT media_id, w, h, f, unnest(range(0, w)) AS x FROM fx),
         |pxy AS (SELECT media_id, f, x, unnest(range(0, h)) AS y FROM px),
         |fsum AS (
         |  SELECT media_id, f,
         |    CAST(sum((5 * media_id + 7 * f + 3 * x + 11 * y) % 256) AS BIGINT) AS fs
         |  FROM pxy GROUP BY media_id, f),
         |d AS (
         |  SELECT media_id, f, fs,
         |    coalesce(abs(fs - lag(fs) OVER (
         |      PARTITION BY media_id ORDER BY f)), 0) AS delta
         |  FROM fsum),
         |k AS (
         |  SELECT media_id, f, fs, delta,
         |    CASE WHEN f = 0 OR delta >= $KeyframeDelta THEN 1 ELSE 0 END
         |      AS isk
         |  FROM d)
         |SELECT media_id,
         |  CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(sum(isk) AS BIGINT) AS n_key,
         |  CAST(coalesce(bit_xor(f) FILTER (isk = 1), 0) AS BIGINT)
         |    AS key_xor,
         |  CAST(coalesce(sum(fs) FILTER (isk = 1), 0) AS BIGINT) AS sum_key,
         |  CAST(max(delta) AS BIGINT) AS max_delta
         |FROM k GROUP BY media_id ORDER BY media_id""".stripMargin
  )
}
