package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (north-star extension, BASELINE.json):
  * image/audio/video payloads as opaque `binary` columns with typed
  * metadata structs, decoded by a REAL codec — `javax.imageio` PNG
  * (JDK built-in, no new dependency). The decode kernel runs inside
  * `mapPartitions` (the JVM analog of a `mapInPandas` batch UDF):
  * codec state is per-partition, rows stream through it, no shuffle.
  *
  * Payloads that are not decodable images (e.g. the text-derived
  * fixture assets) keep their byte-level metadata (length, checksum)
  * and carry NULL image fields — the honest contract for a mixed
  * binary column.
  */
object Multimodal {

  /** CLIP-score gate of the cross-modal curation rows: a pair is
    * kept at cosine ≥ 0.999. */
  val ClipGate = 0.999

  // PNG encode buffers in memory, not a disk cache dir
  ImageIO.setUseCache(false)

  /** Build an assets table: opaque binary payload + metadata struct.
    * (Fixture stand-in: payload = UTF-8 bytes of document text — NOT
    * a decodable image, so decode-derived fields come back NULL; in
    * production this is the `binaryFile` source or a parquet binary
    * column. [[pngAssets]] is the decodable crafted set.) */
  def assetsFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("image/png").as("content_type"),
        col("source").as("origin"),
        col("n_chars").cast("int").as("declared_size")).as("meta"))

  /** Deterministic crafted PNG: width = 8 + id % 9, height =
    * 5 + id % 7, grayscale pixel (x, y) = (x·7 + y·13 + id·31) mod 256
    * — pure integer arithmetic, so an independent engine can predict
    * every decoded statistic without decoding anything (the same
    * crafted-fixture oracle recipe as FIXTURES.md's set). PNG is
    * lossless, so the decode returns these exact values. */
  private[multimodal] def craftedWidth(id: Long): Int = (8 + id % 9).toInt
  private[multimodal] def craftedHeight(id: Long): Int = (5 + id % 7).toInt

  def makePng(id: Long): Array[Byte] = {
    val w = craftedWidth(id)
    val h = craftedHeight(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((x * 7 + y * 13 + id * 31) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Crafted decodable asset table: `n` real PNG payloads, generated
    * executor-side (the driver ships only the id range). */
  def pngAssets(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long]
      .mapPartitions(_.map(id => (id, makePng(id))))
      .toDF("asset_id", "payload")
      .withColumn("meta", struct(
        lit("image/png").as("content_type"),
        lit("crafted").as("origin"),
        length(col("payload")).as("declared_size")))
  }

  /** A decoded image: dimensions, total luminance, 8-bucket luminance
    * histogram. Luminance = (299·r + 587·g + 114·b) / 1000 integer
    * arithmetic (the ITU-R 601 weights scaled to sum EXACTLY 1000, so
    * grayscale pixels decode to their own value and the oracle can
    * replay the math in SQL); bucket = lum / 32. */
  case class Decoded(width: Int, height: Int, lumSum: Long, hist: Array[Int])

  private def imageStats(img: java.awt.image.BufferedImage): Decoded = {
    val w = img.getWidth
    val h = img.getHeight
    val hist = new Array[Int](8)
    var lum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        val l = (r * 299 + g * 587 + b * 114) / 1000
        hist(l / 32) += 1
        lum += l
        x += 1
      }
      y += 1
    }
    Decoded(w, h, lum, hist)
  }

  /** REAL image decode via javax.imageio. Undecodable bytes → None
    * (ImageIO returns null or throws on non-image input). */
  def decodeImage(payload: Array[Byte]): Option[Decoded] =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      if (img == null) None else Some(imageStats(img))
    } catch { case _: Throwable => None }

  /** One decoded asset row (the mapPartitions element type). Image
    * fields are None when the payload isn't a decodable image. */
  case class AssetFeature(asset_id: Long, media_type: String,
      byte_length: Int, checksum: String, width: Option[Int],
      height: Option[Int], lum_sum: Option[Long], hist: Option[Array[Int]],
      feature: Option[Array[Float]])

  /** Feature extraction over binary payloads as `mapPartitions` —
    * the JVM analog of a `mapInPandas` batch UDF: codec state (the
    * digest; ImageIO readers are per-call) is instantiated ONCE per
    * partition and streamed over the partition's rows; no shuffle,
    * fan-in stays on the executor. `feature` is the L1-normalized
    * luminance histogram — the tiny stand-in for an embedding
    * vector. */
  def extractFeatures(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets
      .select(col("asset_id"), col("meta.content_type").as("media_type"),
        col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition codec state lives here
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, mediaType, payload) =>
          md.reset()
          val checksum = md.digest(payload).map(b => f"$b%02x").mkString
          decodeImage(payload) match {
            case Some(d) =>
              val n = d.hist.sum.toFloat
              val feat = if (n > 0) d.hist.map(_ / n) else d.hist.map(_.toFloat)
              AssetFeature(id, mediaType, payload.length, checksum,
                Some(d.width), Some(d.height), Some(d.lumSum), Some(d.hist),
                Some(feat))
            case None =>
              AssetFeature(id, mediaType, payload.length, checksum,
                None, None, None, None, None)
          }
        }
      }
      .toDF()
  }

  /** REAL image resize: decode → nearest-neighbor resample (explicit
    * src = (x·srcW)/dstW integer sampling — deterministic and
    * SQL-replayable, unlike Graphics2D's filtered scaling) → lossless
    * PNG re-encode. Undecodable payloads → null. */
  def resizeImage(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
    try {
      val src = ImageIO.read(new ByteArrayInputStream(payload))
      if (src == null) null
      else {
        val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            out.setRGB(x, y,
              src.getRGB(x * src.getWidth / w, y * src.getHeight / h))
            x += 1
          }
          y += 1
        }
        val bytes = new ByteArrayOutputStream()
        ImageIO.write(out, "png", bytes)
        bytes.toByteArray
      }
    } catch { case _: Throwable => null }

  /** Resize assets to target dimensions; payload replaced (null when
    * not a decodable image), metadata struct updated — per-row binary
    * transform, no shuffle. */
  def resize(assets: DataFrame, w: Int, h: Int): DataFrame = {
    val f = udf((p: Array[Byte]) => resizeImage(p, w, h))
    assets
      .withColumn("payload", f(col("payload")))
      .withColumn("meta", struct(
        col("meta.content_type"), col("meta.origin"),
        lit(w * h).as("declared_size")))
  }

  /** Deterministic crafted WAV: 16-bit PCM mono at 8 kHz, sample
    * s_i = ((i · k) mod 65536) − 32768 with k = 257 + (id mod 13)·97
    * and n = 160 + (id mod 5)·40 samples — pure integer arithmetic,
    * so an independent engine predicts every decoded statistic.
    * Encoded through the REAL JDK codec (`javax.sound.sampled
    * .AudioSystem.write`), not hand-rolled bytes. */
  private[multimodal] def craftedSamples(id: Long): Array[Short] = {
    val n = 160 + (id % 5).toInt * 40
    val k = 257 + (id % 13).toInt * 97
    Array.tabulate(n)(i => (((i.toLong * k) % 65536) - 32768).toShort)
  }

  def makeWav(id: Long): Array[Byte] = {
    import javax.sound.sampled._
    val samples = craftedSamples(id)
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(pcm.putShort)
    val fmt = new AudioFormat(8000f, 16, 1, true, false) // signed, LE
    val out = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm.array()), fmt,
        samples.length),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Crafted decodable audio asset table. */
  def wavAssets(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long]
      .mapPartitions(_.map(id => (id, makeWav(id))))
      .toDF("asset_id", "payload")
      .withColumn("meta", struct(
        lit("audio/wav").as("content_type"),
        lit("crafted").as("origin"),
        length(col("payload")).as("declared_size")))
  }

  /** [[craftedSamples]] with sample 5 nudged by +1 — the audio twin
    * of [[makePngNear]]'s one-pixel variant: a sub-audible one-sample
    * click. No overflow risk: sample 5 is (5k mod 65536) − 32768 with
    * 5k ≤ 7105, far from Short.MaxValue. The nudge moves ONE frame
    * energy, so at most the two delta bits that compare it flip —
    * hamming ≤ 2 ≤ 3, and the banded join's pigeonhole recall
    * guarantee makes every planted pair a certain catch. */
  private[multimodal] def craftedSamplesNear(id: Long): Array[Short] = {
    val s = craftedSamples(id)
    s(5) = (s(5) + 1).toShort
    s
  }

  private[multimodal] def makeWavNear(id: Long): Array[Byte] = {
    import javax.sound.sampled._
    val samples = craftedSamplesNear(id)
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(pcm.putShort)
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm.array()), fmt,
        samples.length),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** `n` crafted clips (asset_id 0..n−1) plus their one-sample
    * near-duplicates (asset_id 1000+id) — the known-positive fixture
    * for [[audioNearDup]]. */
  def wavAssetsWithNearDups(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long]
      .mapPartitions(_.flatMap(id =>
        Seq((id, makeWav(id)), (1000L + id, makeWavNear(id)))))
      .toDF("asset_id", "payload")
  }

  /** A decoded audio clip: rate, sample count, integer signal stats
    * and the zero-crossing count ((s_i ≥ 0) ≠ (s_{i−1} ≥ 0)) — the
    * classic cheap audio feature, all integer-exact. */
  case class DecodedAudio(sampleRate: Int, nSamples: Int, sSum: Long,
      sMin: Int, sMax: Int, zeroCross: Int)

  /** REAL audio decode via javax.sound.sampled (16-bit PCM mono
    * only); undecodable or other formats → None. */
  def decodeWav(payload: Array[Byte]): Option[DecodedAudio] =
    try {
      import javax.sound.sampled._
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
          fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED) None
      else {
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var sum = 0L
        var mn = Int.MaxValue
        var mx = Int.MinValue
        var zc = 0
        var prevNonNeg = false
        var i = 0
        while (i < n) {
          val lo = bytes(2 * i) & 0xff
          val hi = bytes(2 * i + 1).toInt
          val s = if (fmt.isBigEndian) ((lo << 8) | (hi & 0xff)).toShort.toInt
                  else ((hi << 8) | lo).toShort.toInt
          sum += s
          if (s < mn) mn = s
          if (s > mx) mx = s
          val nonNeg = s >= 0
          if (i > 0 && nonNeg != prevNonNeg) zc += 1
          prevNonNeg = nonNeg
          i += 1
        }
        Some(DecodedAudio(fmt.getSampleRate.toInt, n, sum, mn, mx, zc))
      }
    } catch { case _: Throwable => None }

  /** REAL audio decode to raw samples (16-bit PCM mono only) — the
    * fingerprint path's input; undecodable → None. Same codec and
    * sample reconstruction as [[decodeWav]]. */
  def decodeWavSamples(payload: Array[Byte]): Option[Array[Short]] =
    try {
      import javax.sound.sampled._
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
          fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED) None
      else {
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          val lo = bytes(2 * i) & 0xff
          val hi = bytes(2 * i + 1).toInt
          out(i) = if (fmt.isBigEndian) ((lo << 8) | (hi & 0xff)).toShort
                   else ((hi << 8) | lo).toShort
          i += 1
        }
        Some(out)
      }
    } catch { case _: Throwable => None }

  /** One decoded audio row. */
  case class AudioFeature(asset_id: Long, sample_rate: Option[Int],
      n_samples: Option[Int], s_sum: Option[Long], s_min: Option[Int],
      s_max: Option[Int], zero_cross: Option[Int])

  /** Audio feature extraction — same mapPartitions batch shape as
    * [[extractFeatures]]; non-audio payloads yield NULL fields. */
  def extractAudioFeatures(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        decodeWav(payload) match {
          case Some(d) => AudioFeature(id, Some(d.sampleRate), Some(d.nSamples),
            Some(d.sSum), Some(d.sMin), Some(d.sMax), Some(d.zeroCross))
          case None => AudioFeature(id, None, None, None, None, None, None)
        }
      })
      .toDF()
  }

  /** Deterministic crafted multi-frame GIF — the video-like payload:
    * frames = 2 + id mod 3, width = 8 + id mod 5, height =
    * 4 + id mod 4, grayscale pixel (x, y, frame f) =
    * (x·7 + y·13 + f·31 + id·17) mod 256 on an EXPLICIT 256-gray
    * indexed palette (the JDK GIF writer preserves it — verified
    * lossless frame round-trip; per-frame metadata stays null so the
    * writer derives each frame's table from the image itself). */
  private[multimodal] def gifFrames(id: Long): Int = 2 + (id % 3).toInt
  private[multimodal] def gifWidth(id: Long): Int = 8 + (id % 5).toInt
  private[multimodal] def gifHeight(id: Long): Int = 4 + (id % 4).toInt

  def makeGif(id: Long): Array[Byte] = {
    val grays = Array.tabulate[Byte](256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val wr = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    wr.setOutput(ios)
    // interlaced (progressive) GIF rows round-trip scrambled for
    // small heights through the JDK reader — write sequential rows
    val wp = wr.getDefaultWriteParam
    wp.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    wr.prepareWriteSequence(null)
    var f = 0
    while (f < gifFrames(id)) {
      val img = new BufferedImage(gifWidth(id), gifHeight(id),
        BufferedImage.TYPE_BYTE_INDEXED, cm)
      var y = 0
      while (y < gifHeight(id)) {
        var x = 0
        while (x < gifWidth(id)) {
          img.getRaster.setSample(x, y, 0,
            ((x * 7 + y * 13 + f * 31 + id * 17) % 256).toInt)
          x += 1
        }
        y += 1
      }
      wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), wp)
      f += 1
    }
    wr.endWriteSequence()
    ios.close()
    wr.dispose()
    bos.toByteArray
  }

  /** Crafted decodable multi-frame asset table. */
  def gifAssets(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long]
      .mapPartitions(_.map(id => (id, makeGif(id))))
      .toDF("asset_id", "payload")
      .withColumn("meta", struct(
        lit("image/gif").as("content_type"),
        lit("crafted").as("origin"),
        length(col("payload")).as("declared_size")))
  }

  /** REAL multi-frame decode via an ImageIO reader — each frame's
    * full pixel statistics; None for undecodable payloads. */
  def decodeFrames(payload: Array[Byte]): Option[Seq[Decoded]] = {
    var probe: javax.imageio.stream.ImageInputStream = null
    var in: javax.imageio.stream.ImageInputStream = null
    var rd: javax.imageio.ImageReader = null
    try {
      probe = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
      val it = ImageIO.getImageReaders(probe)
      if (!it.hasNext) None
      else {
        rd = it.next()
        // the reader needs its OWN stream positioned at the start
        in = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
        rd.setInput(in)
        val n = rd.getNumImages(true)
        Some((0 until n).map(f => imageStats(rd.read(f))))
      }
    } catch { case _: Throwable => None }
    finally {
      // per-row in mapPartitions — release native/stream resources
      // eagerly on BOTH the success and exception paths, never via GC
      if (rd != null) try rd.dispose() catch { case _: Throwable => () }
      if (in != null) try in.close() catch { case _: Throwable => () }
      if (probe != null) try probe.close() catch { case _: Throwable => () }
    }
  }

  /** One decoded frame row. */
  case class FrameFeature(asset_id: Long, frame_no: Int, n_frames: Int,
      width: Int, height: Int, lum_sum: Long)

  /** Per-frame feature extraction over multi-frame payloads — the
    * real frame-sampling shape (one asset row → one row per decoded
    * frame), mapPartitions, no shuffle. */
  def extractVideoFrames(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeFrames(payload).toSeq.flatMap(frames =>
          frames.zipWithIndex.map { case (d, f) =>
            FrameFeature(id, f, frames.length, d.width, d.height, d.lumSum)
          })
      })
      .toDF()
  }

  /** Frame-sampling stub for video-like payloads: emit every
    * `stride`-th 16-byte "frame" window with its offset — exercises
    * the one-row→many generator shape on binary columns. */
  def sampleFrames(assets: DataFrame, stride: Int = 64): DataFrame =
    assets
      .withColumn("frame_off",
        explode(sequence(lit(0), greatest(length(col("payload")) - 1, lit(0)),
          lit(stride))))
      .select(col("asset_id"), col("frame_off"),
        col("payload").substr(col("frame_off") + lit(1), lit(16)).as("frame"))

  // ===== perceptual-hash (aHash) image near-dup =====

  /** Near-duplicate variant of [[makePng]]: the same crafted pixel
    * formula with ONE pixel perturbed (+1 mod 256 at (0,0)) — the
    * constructed positive pair for the perceptual-hash dedup op. */
  def makePngNear(id: Long): Array[Byte] = {
    val w = craftedWidth(id)
    val h = craftedHeight(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = ((x * 7 + y * 13 + id * 31) % 256).toInt
        val v = if (x == 0 && y == 0) (base + 1) % 256 else base
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** `n` crafted originals (asset_id 0..n−1) plus their one-pixel
    * near-duplicates (asset_id 1000+id) — the known-positive fixture
    * for [[phashNearDup]]. */
  def pngAssetsWithNearDups(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long]
      .mapPartitions(_.flatMap(id =>
        Seq((id, makePng(id)), (1000L + id, makePngNear(id)))))
      .toDF("asset_id", "payload")
  }

  // ===== cross-modal (image↔caption) retrieval fixture =====

  /** Embedding width of the cross-modal crafted set — row 0 of each
    * [[makeClipPng]] carries exactly this many pixels. */
  val ClipDim = 8

  /** Crafted pixel value e(id, x) of the cross-modal set's embedding
    * row — pure integer arithmetic shared verbatim with the caption
    * generator and the DuckDB oracle (the [[makePng]] discipline).
    * The quadratic id·x² mix is what separates the 30 ids: a purely
    * linear-in-x row would put every id's vector on one 2-plane
    * (measured: top-1 margin 0.002 linear vs 0.047 with the mix). */
  def clipPixel(id: Long, x: Int): Int =
    ((id * 131 + x * 79 + id * x * 57 + id * x * x * 23) % 256).toInt

  /** CLIP-style crafted asset: an 8×4 grayscale PNG whose FIRST ROW
    * is the image's 8-dim embedding ([[clipPixel]]) and whose other
    * rows are [[makePng]] texture — the deterministic stand-in for a
    * learned image encoder (the [[graft.vector.BatchedEmbedder]]
    * real-model seam, made exactly replayable). PNG is lossless, so
    * a REAL decode recovers the embedding bit-exactly and the oracle
    * can predict it from the formula without decoding anything. */
  def makeClipPng(id: Long): Array[Byte] = {
    val w = ClipDim
    val h = 4
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = if (y == 0) clipPixel(id, x)
          else ((x * 7 + y * 13 + id * 31) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** `n` crafted cross-modal image payloads, generated executor-side
    * (the driver ships only the id range — the [[pngAssets]] shape). */
  def clipAssets(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long]
      .mapPartitions(_.map(id => (id, makeClipPng(id))))
      .toDF("asset_id", "payload")
  }

  /** Decode ONE clip payload to its embedding row — the per-row
    * kernel of [[clipImageVecs]]: ImageIO decode, row 0's ITU-601
    * integer luminances as `float[ClipDim]`, None on undecodable
    * payloads (decode-or-skip). */
  private[graft] def decodeClipVec(payload: Array[Byte]): Option[Array[Float]] =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      if (img == null || img.getWidth < ClipDim) None
      else Some(Array.tabulate(ClipDim) { x =>
        val rgb = img.getRGB(x, 0)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        ((r * 299 + g * 587 + b * 114) / 1000).toFloat
      })
    } catch { case _: Throwable => None }

  /** The caption-side encoder seam as a Column: parse a crafted
    * caption's quantized tone tokens back into the dequantized
    * `float[ClipDim]` vector (midpoint of the 4-wide cell) — used
    * by the batch caption table. */
  def captionParse(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(slice(split(c, " "), 4, ClipDim),
      t => (t.cast("int") * 4 + 2).cast("float"))

  /** REAL-decode image embeddings of a cross-modal asset table:
    * ImageIO decodes each payload and row 0's luminances (grayscale,
    * so lum == the written pixel value under the exact-1000 ITU
    * weights) become the `float[8]` embedding — `(vec_id,
    * embedding)` ready for the shared ANN funnel. Undecodable
    * payloads drop (decode-or-skip, the [[assetFeatures]] rule).
    * Map-only: at 100 TB this is one decode pass per asset, no
    * shuffle until the retrieval join. */
  def clipImageVecs(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeClipVec(payload).map(v => (id, v))
      })
      .toDF("vec_id", "embedding")
  }

  /** 8×8 average-hash of a decoded image as FOUR 16-bit band keys:
    * cell (i, j) nearest-neighbor-samples the pixel
    * `(j·w/8, i·h/8)` (the [[resizeImage]] integer sampling rule),
    * takes its ITU-601 integer luminance, and bit `k = i·8+j` is set
    * iff `64·lum_k ≥ Σ lums` — the mean threshold kept in exact
    * integer arithmetic (no division). Band `b = k/16` collects bits
    * `k mod 16`, so near-dup candidates are an equi-join on any
    * matching band and hamming distance is 4 XOR+popcounts. */
  private[multimodal] def aHashBands(img: java.awt.image.BufferedImage)
      : Array[Int] = {
    val w = img.getWidth
    val h = img.getHeight
    val lums = new Array[Int](64)
    var k = 0
    while (k < 64) {
      val x = (k % 8) * w / 8
      val y = (k / 8) * h / 8
      val rgb = img.getRGB(x, y)
      val r = (rgb >> 16) & 0xff
      val g = (rgb >> 8) & 0xff
      val b = rgb & 0xff
      lums(k) = (299 * r + 587 * g + 114 * b) / 1000
      k += 1
    }
    var total = 0L
    k = 0
    while (k < 64) { total += lums(k); k += 1 }
    val bands = new Array[Int](4)
    k = 0
    while (k < 64) {
      if (64L * lums(k) >= total) bands(k / 16) |= 1 << (k % 16)
      k += 1
    }
    bands
  }

  /** Per-asset aHash band keys — one decode+hash pass
    * (`mapPartitions`, the justified codec site); undecodable
    * payloads are dropped. */
  def imageBandKeys(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        try {
          val img = ImageIO.read(new ByteArrayInputStream(payload))
          if (img == null) None else Some((id, aHashBands(img).toSeq))
        } catch { case _: Throwable => None }
      })
      .toDF("asset_id", "bands")
  }

  /** Perceptual-hash near-dup detection — the image twin of MinHash
    * banding: signatures band-join (any equal 16-bit band is a
    * candidate; hamming ≤ 3 GUARANTEES a band match by pigeonhole,
    * so recall at the threshold is exact), then candidates confirm
    * with the full 64-bit hamming distance. Scale shape: decode+hash
    * is one map pass, only (asset_id, band) pairs shuffle, and the
    * confirm join touches candidates only — the 100 TB image-corpus
    * dedup plan. */
  def phashNearDup(assets: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingNearDup(imageBandKeys(assets), maxHamming)

  /** Banded-hamming candidate/confirm over ANY 4×16-bit signature
    * frame (`asset_id`, `bands`) — shared by the image
    * ([[phashNearDup]]) and audio ([[audioNearDup]]) fingerprints:
    * any equal band is a candidate (hamming ≤ 3 GUARANTEES a band
    * match by pigeonhole, so recall at the threshold is exact),
    * confirmed by the full 64-bit hamming distance. Only
    * (asset_id, band) pairs shuffle; the confirm join touches
    * candidates only. */
  def hammingNearDup(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = sigs.select(col("asset_id"),
      posexplode(col("bands")).as(Seq("band_idx", "key")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.key") === col("b.key") &&
          col("a.asset_id") < col("b.asset_id"))
      .select(col("a.asset_id").as("id_a"), col("b.asset_id").as("id_b"))
      .distinct()
    val ham = (1 to 4)
      .map(i => bit_count(element_at(col("sa"), i)
        .bitwiseXOR(element_at(col("sb"), i))))
      .reduce(_ + _)
    cand
      .join(sigs.select(col("asset_id").as("id_a"), col("bands").as("sa")), "id_a")
      .join(sigs.select(col("asset_id").as("id_b"), col("bands").as("sb")), "id_b")
      .withColumn("hamming", ham.cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** 64-frame energy-delta fingerprint of a decoded clip as FOUR
    * 16-bit band keys — the Chromaprint/Shazam shape reduced to its
    * integer core: sample i lands in frame `i·64/n` (integer
    * division), frame energy E_f = Σ s², and delta bit
    * `f ∈ [0, 63)` is set iff `E_f ≥ E_{f+1}`. Energies are exact
    * longs (|s| ≤ 32768, ≤ n/64+1 samples per frame), so the whole
    * fingerprint is integer arithmetic — DuckDB replays it from the
    * crafted sample formula. 63 bits over 4 bands (band 3 carries
    * 15): hamming ≤ 3 keeps the pigeonhole guarantee. */
  private[multimodal] def audioDeltaBands(samples: Array[Short]): Array[Int] = {
    val n = samples.length
    val e = new Array[Long](64)
    var i = 0
    while (i < n) {
      val s = samples(i).toLong
      e((i.toLong * 64 / n).toInt) += s * s
      i += 1
    }
    val bands = new Array[Int](4)
    var f = 0
    while (f < 63) {
      if (e(f) >= e(f + 1)) bands(f / 16) |= 1 << (f % 16)
      f += 1
    }
    bands
  }

  /** Per-asset audio fingerprint band keys — one decode+fingerprint
    * pass (`mapPartitions`, the justified codec site); undecodable
    * or empty payloads are dropped. */
  def audioBandKeys(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeWavSamples(payload).filter(_.nonEmpty)
          .map(s => (id, audioDeltaBands(s).toSeq))
      })
      .toDF("asset_id", "bands")
  }

  /** Audio fingerprint near-dup — the AUDIO twin of [[phashNearDup]]
    * and the third instance of the engine's banded candidate/confirm
    * discipline (MinHash text, aHash image, energy-delta audio): the
    * fingerprint is one decode pass, candidates band-join, hamming
    * confirms. */
  def audioNearDup(assets: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingNearDup(audioBandKeys(assets), maxHamming)
}
