package graft.multimodal

import graft.SparkSpec
import graft.core.Tables

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media plumbing: binary payloads, batch extraction, typed features") {
    val feats = Multimodal.documentFeatures(
      spark, Tables.documents(spark, "/root/testdata/sf0.001"))
    val rows = feats.collect()
    assert(rows.length === 500)
    // digest is a real md5 of the payload
    assert(rows.forall(_.digest.matches("[0-9a-f]{32}")))
    // stub decode: fixed 8-channel shape, deterministic
    assert(rows.forall(_.feature.length === 8))
    val again = Multimodal.documentFeatures(
      spark, Tables.documents(spark, "/root/testdata/sf0.001")).collect()
    assert(rows.sortBy(_.media_id).map(_.feature.toSeq).toSeq ===
      again.sortBy(_.media_id).map(_.feature.toSeq).toSeq)
  }

  test("frame sampling strides") {
    val frames = Multimodal.frameSample((0 until 300).map(_.toByte).toArray,
      frameBytes = 64, stride = 2)
    assert(frames.length === 3) // blocks 0,2,4 of the 5 blocks
    assert(frames.head.length === 64)
  }

  test("sampleFrames explodes media rows into typed frames") {
    val frames = Multimodal.sampleFrames(
      Multimodal.asMedia(
        graft.core.Tables.documents(spark, "/root/testdata/sf0.001"),
        "doc_id", "text")
        .as[Multimodal.MediaRow](org.apache.spark.sql.Encoders.product),
      frameBytes = 32, stride = 2)
    val got = frames.collect()
    assert(got.nonEmpty)
    assert(got.forall(_.frame.length <= 32))
    assert(got.groupBy(_.media_id).values.forall(fs =>
      fs.map(_.frame_no).sorted.toSeq == (0 until fs.length)))
  }

  test("embeddingNearDupPairs finds planted duplicate vectors") {
    import graft.dedup.Dedup
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0.99f, 0.1f, 0f)), // near-dup pair
      (3L, Array(0f, 1f, 0f))).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.95,
      planes = 6, dim = 3, probes = 1)
      .as[(Long, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
  }

  test("fakeDecode stripes bytes into 8 channels") {
    val f = Multimodal.fakeDecode("abcdefgh".getBytes("UTF-8"))
    assert(f.length === 8)
    assert(f.forall(_ > 0))
    assert(Multimodal.fakeDecode(Array.emptyByteArray).forall(_ == 0f))
  }

  test("dHash: identical payloads collide, gradient flips a bit, empty → 0") {
    def h(s: String) = Multimodal.dHash(s.getBytes("UTF-8"), stripes = 4)
    assert(h("aabb") === h("aabb"))
    // 4 stripes of 1 byte: bits = (s0>s1, s1>s2, s2>s3)
    // "dcba" → sums d,c,b,a strictly decreasing → all 3 bits set
    assert(h("dcba") === 7L)
    // "abcd" ascending → no bits
    assert(h("abcd") === 0L)
    assert(Multimodal.dHash(Array.emptyByteArray) === 0L)
  }

  test("decodeImage: a known 2x2 PNG decodes to its exact pixels; " +
    "garbage bytes quarantine as None") {
    // known raster: red, green / blue, white — through the REAL JDK PNG
    // encoder and back through the REAL ImageIO decoder, bit-exact
    val px = Map((0, 0) -> 0xff0000, (1, 0) -> 0x00ff00,
      (0, 1) -> 0x0000ff, (1, 1) -> 0xffffff)
    val bytes = Multimodal.encodePng(2, 2, (x, y) => px((x, y)))
    // PNG magic present — this is a real container, not a fake
    assert((bytes(0) & 0xff) === 0x89 && bytes(1) === 'P'.toByte &&
      bytes(2) === 'N'.toByte && bytes(3) === 'G'.toByte)
    val img = Multimodal.decodeImage(bytes).get
    assert(img.width === 2 && img.height === 2)
    assert(img.rgb.toSeq === Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff))
    assert(Multimodal.decodeImage("not an image at all".getBytes).isEmpty)
    assert(Multimodal.decodeImage(Array.emptyByteArray).isEmpty)
  }

  test("decodeImageSummaries: batched real decode recovers planted " +
    "dimensions and channel sums; corrupt rows quarantine with " +
    "decoded = false") {
    val media = Seq(
      Multimodal.MediaRow(1L, Multimodal.encodePng(3, 2,
        (x, y) => ((y * 3 + x) << 16) | 0x000102), "image/png"),
      Multimodal.MediaRow(2L, "corrupt payload".getBytes, "image/png")
    ).toDS()
    val got = Multimodal.decodeImageSummaries(media, batchSize = 1)
      .collect().map(s => s.media_id -> s).toMap
    val ok = got(1L)
    assert(ok.decoded && ok.width === 3 && ok.height === 2)
    // rgb sum: Σ_{i<6} i (red) + 6·(1 + 2) (green+blue planted constant)
    assert(ok.rgb_sum === (0 until 6).sum + 6 * 3)
    val bad = got(2L)
    assert(!bad.decoded && bad.width === 0 && bad.rgb_sum === 0L)
  }

  test("resizeNearest: upscale duplicates pixels per the integer index " +
    "map; downscale to 1x1 keeps the (0,0) source pixel") {
    val px = Map((0, 0) -> 0xff0000, (1, 0) -> 0x00ff00,
      (0, 1) -> 0x0000ff, (1, 1) -> 0xffffff)
    val img = Multimodal.decodeImage(
      Multimodal.encodePng(2, 2, (x, y) => px((x, y)))).get
    val up = Multimodal.resizeNearest(img, 4, 4)
    // sx = x*2/4 = x/2: each source pixel becomes a 2x2 block
    assert(up.rgb.toSeq === Seq(
      0xff0000, 0xff0000, 0x00ff00, 0x00ff00,
      0xff0000, 0xff0000, 0x00ff00, 0x00ff00,
      0x0000ff, 0x0000ff, 0xffffff, 0xffffff,
      0x0000ff, 0x0000ff, 0xffffff, 0xffffff))
    val down = Multimodal.resizeNearest(img, 1, 1)
    assert(down.rgb.toSeq === Seq(0xff0000))
  }

  test("decodeAudio: a known WAV clip decodes to its exact 16-bit PCM " +
    "samples (negatives included); garbage quarantines as None") {
    val samples = Array[Short](0, 1, -1, 32767, -32768, 1000, -999)
    val bytes = Multimodal.encodeWav(8000, samples)
    // RIFF/WAVE magic present — a real container through the real parser
    assert(new String(bytes.slice(0, 4), "US-ASCII") === "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") === "WAVE")
    val clip = Multimodal.decodeAudio(bytes).get
    assert(clip.sampleRate === 8000)
    assert(clip.samples.toSeq === samples.toSeq)
    assert(Multimodal.decodeAudio("not audio".getBytes).isEmpty)
    assert(Multimodal.decodeAudio(Array.emptyByteArray).isEmpty)
    // batched summary path: exact |sum| and peak
    val media = Seq(
      Multimodal.MediaRow(1L, bytes, "audio/wav"),
      Multimodal.MediaRow(2L, "corrupt".getBytes, "audio/wav")).toDS()
    val got = Multimodal.decodeAudioSummaries(media, batchSize = 1)
      .collect().map(s => s.media_id -> s).toMap
    assert(got(1L).decoded && got(1L).n_samples === 7)
    assert(got(1L).sum_abs === samples.map(s => math.abs(s.toLong)).sum)
    assert(got(1L).peak === 32768)
    assert(!got(2L).decoded && got(2L).n_samples === 0)
  }

  test("extractHashes groups exact payload duplicates under one phash") {
    val media = Seq(
      Multimodal.MediaRow(1L, "the same payload body".getBytes, "text/plain"),
      Multimodal.MediaRow(2L, "the same payload body".getBytes, "text/plain"),
      Multimodal.MediaRow(3L, "a rather different one".getBytes, "text/plain")
    ).toDS()
    val got = Multimodal.extractHashes(media).collect()
    assert(got.length === 3)
    val byId = got.map(m => m.media_id -> m.phash).toMap
    assert(byId(1L) === byId(2L))
  }
}
