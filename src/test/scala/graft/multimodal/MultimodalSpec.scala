package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  test("media features are stable across repartitioning (batch-shape safety)") {
    val media = Multimodal.mediaFromDocuments(spark, sf)
    def features(parts: Int) =
      Multimodal.withImageFeatures(media.repartition(parts), "blob", FakeDecoder)
        .select(col("doc_id"), col("image_features.phash"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(features(1) == features(7))
  }

  test("sniff metadata carries byte length") {
    val media = Multimodal.mediaFromDocuments(spark, sf)
    val out = Multimodal.withMediaMeta(media, "blob", FakeDecoder)
      .select(col("doc_id"), col("media_meta.n_bytes"), length(col("blob")).cast("long"))
      .collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2)))
  }

  test("sampledFrames explodes one row per frame with stable index") {
    val media = Multimodal.mediaFromDocuments(spark, sf).limit(10)
    val frames = Multimodal.sampledFrames(media, "doc_id", "blob", 1000, FakeDecoder)
    val counts = frames.groupBy("id").count().collect().map(_.getLong(1))
    assert(counts.forall(c => c >= 1 && c <= 4))
  }

  test("resize emits a binary column") {
    val media = Multimodal.mediaFromDocuments(spark, sf).limit(5)
    val out = Multimodal.resized(media, "blob", 32, 32, FakeDecoder)
    assert(out.schema("resized").dataType.typeName == "binary")
    assert(out.count() == 5)
  }

  // ---- real JDK ImageIO decoder ---------------------------------------

  import java.awt.image.BufferedImage
  import java.io.ByteArrayOutputStream
  import javax.imageio.ImageIO

  private def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  /** 4×4 with a known 2×2 checker of pure black/white quadrants. */
  private def checker(w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if ((x < w / 2) == (y < h / 2)) 0xFFFFFF else 0x000000)
    img
  }

  test("ImageIoDecoder sniffs format + dimensions from the header") {
    val png = encode(checker(20, 12), "png")
    val m = Multimodal.ImageIoDecoder.sniff(png)
    assert(m == Multimodal.MediaMeta("image", "png", 20, 12, 0L, png.length.toLong))
    val bmp = encode(checker(20, 12), "bmp")
    val mb = Multimodal.ImageIoDecoder.sniff(bmp)
    assert(mb.format == "bmp" && mb.width == 20 && mb.height == 12)
    val gif = encode(checker(20, 12), "gif")
    assert(Multimodal.ImageIoDecoder.sniff(gif).format == "gif")
    val jpg = encode(checker(20, 12), "jpg")
    assert(Multimodal.ImageIoDecoder.sniff(jpg).format == "jpeg")
  }

  test("mean luma is exact on known pixels; sharpness is 0 on a flat image") {
    val d = Multimodal.ImageIoDecoder
    // half white half black checker → mean luma 0.5 exactly
    val f = d.imageFeatures(encode(checker(16, 16), "png"))
    assert(math.abs(f.mean_luma - 0.5) < 1e-9, s"luma ${f.mean_luma}")
    assert(f.sharpness > 0.0) // edges present
    // flat mid-gray → luma 128/255, zero Laplacian variance
    val flat = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) flat.setRGB(x, y, 0x808080)
    val ff = d.imageFeatures(encode(flat, "png"))
    assert(math.abs(ff.mean_luma - 128.0 / 255.0) < 1e-9)
    assert(ff.sharpness == 0.0)
  }

  test("pixelStats: exact integer plane sums, matching the renderPng closed form") {
    val d = Multimodal.ImageIoDecoder
    // known pixels: 2×1 image with (10,20,30) and (40,50,60)
    val img = new BufferedImage(2, 1, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, (10 << 16) | (20 << 8) | 30)
    img.setRGB(1, 0, (40 << 16) | (50 << 8) | 60)
    assert(d.pixelStats(encode(img, "png")) ==
      Multimodal.PixelStats(2L, 50L, 70L, 90L))
    // renderPng closed form: recompute the sums from the id directly
    val id = 137L
    val w = 32 + (id % 29).toInt; val h = 24 + (id % 23).toInt
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val stripe = if (((x + y + id) % 11) < 3) 96 else 0
      sr += (x * 7 + id * 31) % 256
      sg += (y * 13 + id * 17) % 256
      sb += ((x + y) * 5 + id * 11 + stripe) % 256
    }
    assert(d.pixelStats(Multimodal.renderPng(id)) ==
      Multimodal.PixelStats(w.toLong * h, sr, sg, sb))
    // container independence: the same pixels through bmp sum identically
    assert(d.pixelStats(encode(checker(16, 16), "png")) ==
      d.pixelStats(encode(checker(16, 16), "bmp")))
  }

  test("pHash depends on pixels, not the container: png == bmp, near for jpeg") {
    val d = Multimodal.ImageIoDecoder
    val hp = d.imageFeatures(encode(checker(40, 40), "png")).phash
    val hb = d.imageFeatures(encode(checker(40, 40), "bmp")).phash
    assert(hp == hb, "lossless containers must hash identically")
    // jpeg proximity on a SPECTRUM-RICH image (checkers/pure gradients are
    // pathological: most low-freq DCT coeffs sit exactly at the median and
    // coin-flip under compression noise — real pictures don't)
    val rich = ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.renderPng(42L)))
    val gp = d.imageFeatures(encode(rich, "png")).phash
    val gj = d.imageFeatures(encode(rich, "jpg")).phash
    assert(java.lang.Long.bitCount(gp ^ gj) <= 16,
      s"jpeg artifacts moved the hash too far: ${java.lang.Long.bitCount(gp ^ gj)} bits")
    // different picture → distant hash
    val other = d.imageFeatures(Multimodal.renderPng(7L)).phash
    assert(java.lang.Long.bitCount(hp ^ other) > 10)
  }

  test("resize produces a decodable PNG of the requested size") {
    val d = Multimodal.ImageIoDecoder
    val out = d.resize(encode(checker(40, 20), "png"), 10, 5)
    val m = d.sniff(out)
    assert(m.format == "png" && m.width == 10 && m.height == 5)
  }

  test("sampleFrames: still image yields one frame; stride respects everyMs") {
    val d = Multimodal.ImageIoDecoder
    val frames = d.sampleFrames(encode(checker(8, 8), "png"), everyMs = 1000)
    assert(frames.size == 1)
    assert(d.sniff(frames.head).width == 8)
  }

  test("q60 pipeline decodes real PNGs distributed; features stable across partitioning") {
    val media = Multimodal.syntheticImages(spark, sf).limit(50)
    def run(parts: Int) =
      Multimodal.withImageFeatures(media.repartition(parts), "blob", Multimodal.ImageIoDecoder)
        .select(col("doc_id"), col("image_features.phash"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val a = run(2)
    assert(a.size == 50)
    assert(a == run(7))
    // ids render distinct images → hashes are not all equal
    assert(a.values.toSet.size > 10)
  }
}
