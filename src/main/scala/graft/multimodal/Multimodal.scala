package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads modelled as opaque
  * `binary` columns with typed metadata, processed in partition-local
  * batches (the Scala equivalent of a batched pandas UDF — one buffer of
  * `batchSize` rows at a time through the decoder, never a whole partition
  * materialized).
  *
  * Two decode tiers:
  *  - [[decodeImage]] is a REAL image decode (JDK `javax.imageio` —
  *    PNG/JPEG/GIF/BMP, no external dependency), driven through the same
  *    batched partition-local path by [[decodeImageSummaries]] and
  *    oracle-verified end-to-end by `x_media_decode_real` (planted pixels
  *    → real PNG encode → real decode → arithmetic replica);
  *  - [[fakeDecode]] is the deterministic stand-in retained for the
  *    byte-stripe FEATURE path (audio/video codecs aren't in this
  *    environment): its integer-exactness contract is what lets an
  *    independent engine replicate feature values bit-for-bit. The
  *    plumbing — schema, typed Dataset, batch shape, partition-local
  *    execution — is identical for both tiers.
  */
object Multimodal {

  case class MediaRow(media_id: Long, content: Array[Byte], mime: String)
  case class MediaFeatures(
      media_id: Long, n_bytes: Int, digest: String, feature: Array[Float])

  /** Wrap a text table as a binary "media" table (UTF-8 payload, text/plain
    * mime) — the driver testdata has no binary column, so the engine's
    * media path is exercised on synthesized payloads. */
  def asMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      col(textCol).cast("binary").as("content"),
      lit("text/plain").as("mime"))

  /** STUB decoder — deterministic fake: 8 "channels" derived from byte
    * sums over 8 stripes of the payload, scaled by 1/256. Replace with a
    * real codec for production media.
    *
    * Exactness contract (what makes the DuckDB oracle bit-identical): the
    * stripe sums are exact integers, and dividing by 256 (a power of two)
    * only shifts the exponent — so for payloads whose stripe sums stay
    * below 2^24 (payload < ~0.5 MB) the float32 value, its float64
    * widening, and an independent engine's integer-sum/256.0 all agree to
    * the last bit. */
  def fakeDecode(content: Array[Byte]): Array[Float] = {
    val n = content.length
    val sums = new Array[Long](8)
    var i = 0
    while (i < n) {
      sums(((i.toLong * 8) / n).toInt) += (content(i) & 0xff).toLong
      i += 1
    }
    val out = new Array[Float](8)
    var c = 0
    while (c < 8) { out(c) = sums(c) / 256.0f; c += 1 }
    out
  }

  /** Batched feature extraction: partition-local, `batchSize` rows per
    * decode buffer (the mapInPandas batch shape, in Scala). */
  def extractFeatures(
      media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // one decode call per batch — the real-codec integration point
        batch.map { r =>
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest(r.content).map("%02x".format(_)).mkString
          MediaFeatures(r.media_id, r.content.length, digest, fakeDecode(r.content))
        }
      }
    }
  }

  /** Perceptual difference-hash (dHash) over the payload's byte stripes:
    * `stripes` integer stripe sums (same striping rule as [[fakeDecode]]),
    * bit i set iff stripe i's sum exceeds stripe i+1's — the gradient
    * signature real image dHash computes over resized pixel rows. Pure
    * integer, so an external engine replicates it exactly. Empty payloads
    * hash to 0. */
  def dHash(content: Array[Byte], stripes: Int = 32): Long = {
    val n = content.length
    if (n == 0) return 0L
    val sums = new Array[Long](stripes)
    var i = 0
    while (i < n) {
      sums(((i.toLong * stripes) / n).toInt) += (content(i) & 0xff).toLong
      i += 1
    }
    var h = 0L
    var c = 0
    while (c < stripes - 1) {
      if (sums(c) > sums(c + 1)) h |= (1L << c)
      c += 1
    }
    h
  }

  case class MediaHash(media_id: Long, phash: Long)

  /** Batched perceptual-hash extraction (the dedup-by-phash front half):
    * partition-local like [[extractFeatures]]. */
  def extractHashes(
      media: Dataset[MediaRow], stripes: Int = 32,
      batchSize: Int = 64): Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.map(r =>
        MediaHash(r.media_id, dHash(r.content, stripes))))
    }
  }

  /** STUB frame sampling: every `stride`-th fixed-size block of the payload
    * (the video-frame-sampling batch shape: one row in, many frames out). */
  def frameSample(
      content: Array[Byte], frameBytes: Int, stride: Int): Seq[Array[Byte]] =
    content.grouped(frameBytes).zipWithIndex
      .collect { case (frame, i) if i % stride == 0 => frame }
      .toSeq

  case class MediaFrame(media_id: Long, frame_no: Int, frame: Array[Byte])

  /** Frame explosion over the typed media set: one row per sampled frame
    * (flatMap through the partition-local batch path). */
  def sampleFrames(
      media: Dataset[MediaRow], frameBytes: Int = 64, stride: Int = 2): Dataset[MediaFrame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      frameSample(r.content, frameBytes, stride).zipWithIndex.map {
        case (f, i) => MediaFrame(r.media_id, i, f)
      }
    }
  }

  /** End-to-end media pipeline over the documents table: synthesize binary
    * payloads, extract batched features. */
  def documentFeatures(spark: SparkSession, docs: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    extractFeatures(asMedia(docs, "doc_id", "text").as[MediaRow])
  }

  // ---- REAL image decode (JDK javax.imageio — no external codec) -------

  /** A decoded raster: dimensions plus row-major 24-bit RGB pixels. */
  case class DecodedImage(width: Int, height: Int, rgb: Array[Int])

  /** Encode a raster as PNG bytes (JDK ImageIO, lossless for 24-bit RGB)
    * — the fixture side of the real-decode roundtrip: tests and the
    * x_media_decode_real query synthesize known pixels, push them through
    * a REAL encoder, and the decode operator must recover them exactly. */
  def encodePng(width: Int, height: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode via `javax.imageio.ImageIO.read` — PNG/JPEG/GIF/BMP
    * from the JDK's ImageReader registry, no external dependency. Returns
    * None for undecodable payloads (the permissive-ingestion contract:
    * corrupt media quarantines, it doesn't kill the task). PNG's 24-bit
    * RGB path is lossless, so decoded pixels are bit-exact against the
    * encoder's input — what makes an independent engine able to verify
    * DECODED values by pure arithmetic (see x_media_decode_real). */
  def decodeImage(content: Array[Byte]): Option[DecodedImage] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val px = new Array[Int](w * h)
        var y = 0
        var i = 0
        while (y < h) {
          var x = 0
          while (x < w) { px(i) = img.getRGB(x, y) & 0xffffff; x += 1; i += 1 }
          y += 1
        }
        Some(DecodedImage(w, h, px))
      }
    } catch { case _: java.io.IOException => None }

  /** Nearest-neighbor resize over a DECODED raster — the documented
    * deterministic rule (src index = ⌊out·srcDim⁄outDim⌋ per axis, the
    * standard integer nearest-neighbor map), applied to REAL decoded
    * pixels: unlike library scalers (area-average, bilinear — float and
    * implementation-defined), this rule is pure integer arithmetic, so an
    * independent engine can verify resized values of a real decode. */
  def resizeNearest(img: DecodedImage, outW: Int, outH: Int): DecodedImage = {
    val out = new Array[Int](outW * outH)
    var y = 0
    while (y < outH) {
      val sy = y * img.height / outH
      var x = 0
      while (x < outW) {
        val sx = x * img.width / outW
        out(y * outW + x) = img.rgb(sy * img.width + sx)
        x += 1
      }
      y += 1
    }
    DecodedImage(outW, outH, out)
  }

  /** Batched REAL decode + nearest-neighbor resize: summary of the
    * RESIZED raster (the decode → transform → feature pipeline shape). */
  def resizeSummaries(
      media: Dataset[MediaRow], outW: Int, outH: Int,
      batchSize: Int = 64): Dataset[ImageSummary] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.map { r =>
        decodeImage(r.content) match {
          case Some(img) =>
            val rz = resizeNearest(img, outW, outH)
            var s = 0L
            var i = 0
            while (i < rz.rgb.length) {
              val p = rz.rgb(i)
              s += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              i += 1
            }
            ImageSummary(r.media_id, decoded = true, rz.width, rz.height, s)
          case None => ImageSummary(r.media_id, decoded = false, 0, 0, 0L)
        }
      })
    }
  }

  // ---- REAL audio decode (JDK javax.sound.sampled — no external codec) -

  /** A decoded PCM clip: sample rate plus 16-bit signed samples (mono). */
  case class DecodedAudio(sampleRate: Int, samples: Array[Short])

  /** Encode 16-bit signed little-endian mono PCM as a WAV container
    * (44-byte RIFF header hand-assembled — byte-deterministic, no encoder
    * variance) — the fixture side of the audio roundtrip: the decode
    * operator must recover these exact samples through the REAL
    * `javax.sound.sampled` parser. */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)            // PCM
      .putShort(1.toShort)            // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)         // byte rate
      .putShort(2.toShort)            // block align
      .putShort(16.toShort)           // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** REAL audio decode via `javax.sound.sampled.AudioSystem` — WAV/AIFF/AU
    * PCM from the JDK's AudioFileReader registry, no external dependency.
    * Returns None for undecodable payloads (quarantine, not task death).
    * Only 16-bit signed PCM is accepted (the lossless path — decoded
    * samples are bit-exact against the encoder's input, which is what
    * lets an independent engine verify DECODED values by arithmetic). */
  def decodeAudio(content: Array[Byte]): Option[DecodedAudio] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      val f = in.getFormat
      if (f.getSampleSizeInBits != 16 || f.getChannels != 1 ||
        f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
        None
      else {
        val bytes = in.readAllBytes()
        val n = bytes.length / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          val lo = bytes(2 * i) & 0xff
          val hi = bytes(2 * i + 1).toInt
          out(i) = (if (f.isBigEndian) (lo << 8) | (hi & 0xff)
          else (hi << 8) | lo).toShort
          i += 1
        }
        Some(DecodedAudio(math.round(f.getSampleRate), out))
      }
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** Per-clip decode summary: rate, length, exact Σ|sample| and peak —
    * all integers, so an oracle that knows the planted sample formula
    * replays them without any codec. */
  case class AudioSummary(
      media_id: Long, decoded: Boolean, sample_rate: Int, n_samples: Int,
      sum_abs: Long, peak: Int)

  /** Batched REAL audio decode — same partition-local batch shape as
    * [[decodeImageSummaries]], genuine AudioSystem parse inside. */
  def decodeAudioSummaries(
      media: Dataset[MediaRow], batchSize: Int = 64): Dataset[AudioSummary] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.map { r =>
        decodeAudio(r.content) match {
          case Some(clip) =>
            var s = 0L
            var pk = 0
            var i = 0
            while (i < clip.samples.length) {
              val a = math.abs(clip.samples(i).toInt)
              s += a
              if (a > pk) pk = a
              i += 1
            }
            AudioSummary(r.media_id, decoded = true, clip.sampleRate,
              clip.samples.length, s, pk)
          case None => AudioSummary(r.media_id, decoded = false, 0, 0, 0L, 0)
        }
      })
    }
  }

  /** Per-image decode summary: dimensions and the exact sum of all R+G+B
    * channel values — integer, so an oracle that knows the planted pixel
    * formula replays it without any codec. `decoded = false` rows carry
    * zeros (quarantined, not dropped). */
  case class ImageSummary(
      media_id: Long, decoded: Boolean, width: Int, height: Int, rgb_sum: Long)

  /** Batched REAL decode over the typed media set — same partition-local
    * `batchSize`-buffer shape as [[extractFeatures]] (the mapInPandas
    * batch contract), but the decoder inside is the genuine ImageIO path,
    * not [[fakeDecode]]. */
  def decodeImageSummaries(
      media: Dataset[MediaRow], batchSize: Int = 64): Dataset[ImageSummary] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.map { r =>
        decodeImage(r.content) match {
          case Some(img) =>
            var s = 0L
            var i = 0
            while (i < img.rgb.length) {
              val p = img.rgb(i)
              s += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              i += 1
            }
            ImageSummary(r.media_id, decoded = true, img.width, img.height, s)
          case None => ImageSummary(r.media_id, decoded = false, 0, 0, 0L)
        }
      })
    }
  }
}
