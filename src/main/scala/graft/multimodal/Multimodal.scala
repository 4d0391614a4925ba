package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Load

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata. The Spark-side contract — schema,
  * partition sizing, batch-shaped per-partition processing — is real and
  * tested, and so is decoding where the JDK ships a codec: IMAGES
  * ([[ImageIoDecoder]], `javax.imageio`: PNG/JPEG/GIF/BMP/TIFF) and
  * AUDIO ([[JavaSoundCodec]], `javax.sound.sampled`: WAV/AIFF/AU with
  * PCM/U8/μ-law/a-law conversion). Only compressed a/v codecs the JDK
  * lacks (mp3/opus/mp4/webm) route through deterministic fakes behind
  * the same seams (JNI/FFI in production).
  *
  * Scale design: decode runs as `mapPartitions` (the Scala analogue of
  * pandas-batched UDFs) so per-partition setup (codec init) is amortized;
  * blobs never enter a shuffle — all derived features are computed in the
  * same narrow stage and the blob is dropped before any wide operation.
  */
object Multimodal {

  /** Typed metadata carried next to every media blob. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image|audio|video
    StructField("format", StringType),       // png|jpeg|wav|mp4|...
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("n_bytes", LongType)))

  final case class MediaMeta(
      media_type: String, format: String, width: Int, height: Int,
      duration_ms: Long, n_bytes: Long)

  final case class ImageFeatures(
      mean_luma: Double, sharpness: Double, phash: Long)

  /** Integer per-plane pixel sums — the decode-EXACTNESS checksum. All
    * values are exact integers, so (for a corpus whose pixels are
    * closed-form in the id, like [[renderPng]]) an independent engine
    * can recompute them from ids alone and hash-gate the whole
    * encode → container → decode path: one mis-parsed byte anywhere
    * changes a sum.
    */
  final case class PixelStats(n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** Interior milli-luma Laplacian sums (spatial-layout checksum). */
  final case class LumaLapStats(n_interior: Long, lap_sum: Long, lap_sq: Long)

  /** ALL integer image features in ONE decode: plane sums + interior
    * Laplacian. Every downstream float feature ([[ImageFeatures]]) has an
    * exact fixed-point twin derivable from these in pure column
    * arithmetic — mean luma (milli-units) = (299·Σr + 587·Σg + 114·Σb)
    * div n_px, sharpness variance numerator = n·Σlap² − (Σlap)² — which
    * is what lets the full feature pipeline hash-gate against a SQL
    * oracle (q110's quantize-then-integer-sum discipline applied to the
    * image path).
    */
  final case class FixedImageStats(
      n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long,
      n_interior: Long, lap_sum: Long, lap_sq: Long)

  /** The image/video-frame codec seam: image decoding is REAL (JDK
    * ImageIO — see [[ImageIoDecoder]]); video containers (mp4/webm) have
    * no JDK codec and use the deterministic fake. Swap in a JNI/FFI
    * decoder in production; nothing else changes. Audio has its own seam
    * ([[AudioCodec]]) with a REAL JDK WAV/AIFF/AU implementation.
    */
  trait Decoder extends Serializable {
    def sniff(bytes: Array[Byte]): MediaMeta
    def imageFeatures(bytes: Array[Byte]): ImageFeatures
    def pixelStats(bytes: Array[Byte]): PixelStats
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte]
    def sampleFrames(bytes: Array[Byte], everyMs: Long): Seq[Array[Byte]]

    /** The ERROR-POLICY decode for corpus pipelines: a NULL or
      * undecodable blob yields None — the caller surfaces it as null
      * features and COUNTS it (never a silent drop, never a task
      * failure: one truncated PNG in a 100 TB corpus must not kill a
      * stage). Strict [[imageFeatures]] stays the default for paths
      * where a bad blob is a bug, not data. */
    final def tryImageFeatures(bytes: Array[Byte]): Option[ImageFeatures] =
      if (bytes == null) None
      else try Some(imageFeatures(bytes))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Real image codec on the JDK's `javax.imageio` + `java.awt` — zero
    * external dependencies. Handles PNG/JPEG/GIF/BMP (+ WBMP/TIFF where
    * the JDK ships readers):
    *
    *  - `sniff`: container magic + header-only dimension read (no pixel
    *    decode — an ImageReader reports width/height from the header);
    *  - `imageFeatures`: mean luma (Rec.601), sharpness = variance of the
    *    4-neighbour Laplacian of the luma plane, and a 64-bit DCT pHash
    *    (32×32 luma downscale → 2D DCT-II → 8×8 low-frequency block,
    *    bit i = coeff_i > median) — features depend only on decoded
    *    PIXELS, so the same picture hashes identically across containers;
    *  - `resize`: bilinear Graphics2D rescale, re-encoded as PNG (the
    *    JDK's PNG writer is deterministic — no timestamps in the stream);
    *  - `sampleFrames`: every frame of a multi-frame container (animated
    *    GIF) at a nominal 100 ms/frame cadence stride; still images yield
    *    their single frame. Video containers (mp4/webm) have no JDK
    *    codec — route those through an FFI decoder behind this same seam.
    */
  object ImageIoDecoder extends Decoder {
    import java.awt.RenderingHints
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    // keep ImageIO off its /tmp disk cache: decode fully in-memory
    ImageIO.setUseCache(false)

    private def containerFormat(b: Array[Byte]): String =
      if (b.length >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
      else if (b.length >= 2 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) "jpeg"
      else if (b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "gif"
      else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
      else if (b.length >= 4 && ((b(0) == 'I' && b(1) == 'I') || (b(0) == 'M' && b(1) == 'M'))) "tiff"
      else "unknown"

    private def withReader[T](bytes: Array[Byte])(f: javax.imageio.ImageReader => T): T = {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext)
          throw new IllegalArgumentException(
            s"no ImageIO reader for ${containerFormat(bytes)} (${bytes.length} bytes)")
        val r = readers.next()
        // seekForwardOnly=false: getNumImages(allowSearch=true) needs seeks
        r.setInput(iis, false, true)
        try f(r) finally r.dispose()
      } finally iis.close()
    }

    private def decode(bytes: Array[Byte]): BufferedImage = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null)
        throw new IllegalArgumentException(
          s"undecodable image (${containerFormat(bytes)}, ${bytes.length} bytes)")
      img
    }

    def sniff(bytes: Array[Byte]): MediaMeta = withReader(bytes) { r =>
      MediaMeta("image", containerFormat(bytes),
        width = r.getWidth(0), height = r.getHeight(0),
        duration_ms = 0L, n_bytes = bytes.length.toLong)
    }

    private def lumaPlane(img: BufferedImage): Array[Double] = {
      val w = img.getWidth; val h = img.getHeight
      // bulk getRGB: one color-model conversion pass instead of a
      // per-pixel call (measured ~4× on the q60 decode stage)
      val rgb = img.getRGB(0, 0, w, h, null, 0, w)
      val out = new Array[Double](w * h)
      var i = 0
      while (i < rgb.length) {
        val p = rgb(i)
        out(i) = 0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) + 0.114 * (p & 0xFF)
        i += 1
      }
      out
    }

    private def scaled(img: BufferedImage, w: Int, h: Int): BufferedImage = {
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
      g.dispose()
      out
    }

    /** 1D DCT-II along rows then columns of an n×n plane (n=32: ~65k
      * multiplies — negligible next to the decode itself).
      */
    private def dct2d(plane: Array[Double], n: Int): Array[Double] = {
      val cos = Array.tabulate(n, n)((k, i) => math.cos((2 * i + 1) * k * math.Pi / (2.0 * n)))
      val tmp = new Array[Double](n * n)
      val out = new Array[Double](n * n)
      var y = 0
      while (y < n) {                       // rows
        var k = 0
        while (k < n) {
          var s = 0.0; var i = 0
          while (i < n) { s += plane(y * n + i) * cos(k)(i); i += 1 }
          tmp(y * n + k) = s
          k += 1
        }
        y += 1
      }
      var k = 0
      while (k < n) {                       // columns
        var x = 0
        while (x < n) {
          var s = 0.0; var i = 0
          while (i < n) { s += tmp(i * n + x) * cos(k)(i); i += 1 }
          out(k * n + x) = s
          x += 1
        }
        k += 1
      }
      out
    }

    def imageFeatures(bytes: Array[Byte]): ImageFeatures = {
      val img = decode(bytes)
      val w = img.getWidth; val h = img.getHeight
      val lum = lumaPlane(img)
      var sum = 0.0; var i = 0
      while (i < lum.length) { sum += lum(i); i += 1 }
      val meanLuma = sum / lum.length / 255.0
      // sharpness: variance of the 4-neighbour Laplacian over the interior
      var lapSum = 0.0; var lapSq = 0.0; var cnt = 0L
      var y = 1
      while (y < h - 1) {
        var x = 1
        while (x < w - 1) {
          val l = 4 * lum(y * w + x) - lum(y * w + x - 1) - lum(y * w + x + 1) -
            lum((y - 1) * w + x) - lum((y + 1) * w + x)
          lapSum += l; lapSq += l * l; cnt += 1
          x += 1
        }
        y += 1
      }
      val sharp = if (cnt == 0) 0.0 else (lapSq / cnt) - math.pow(lapSum / cnt, 2)
      // pHash: 32×32 luma → DCT → top-left 8×8, bit = coeff > median
      val n = 32
      val small = lumaPlane(scaled(img, n, n))
      val freq = dct2d(small, n)
      val block = Array.tabulate(64)(j => freq((j / 8) * n + (j % 8)))
      val med = { val s = block.sorted; (s(31) + s(32)) / 2.0 }
      var hash = 0L; var j = 0
      while (j < 64) { if (block(j) > med) hash |= (1L << j); j += 1 }
      ImageFeatures(meanLuma, sharp, hash)
    }

    def pixelStats(bytes: Array[Byte]): PixelStats = {
      val img = decode(bytes)
      val w = img.getWidth; val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var sr = 0L; var sg = 0L; var sb = 0L
      var i = 0
      while (i < px.length) {
        val p = px(i)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        i += 1
      }
      PixelStats(w.toLong * h, sr, sg, sb)
    }

    /** Integer milli-luma (299r+587g+114b) 4-neighbour Laplacian sums
      * over the interior — exact int64, so the decode's SPATIAL layout
      * (row-major indexing, x/y orientation, interior bounds) is
      * SQL-oracle-able. Complements [[pixelStats]], whose channel sums
      * are orientation-invariant: a transposed or mirrored decode passes
      * pixelStats but breaks these sums. The float features
      * ([[imageFeatures]]: Rec.601 mean, Laplacian variance) are this
      * same arithmetic in double precision — gating the integer form
      * pins their pixel addressing without a float-equality oracle.
      */
    def lumaLaplacian(bytes: Array[Byte]): LumaLapStats = {
      val img = decode(bytes)
      val w = img.getWidth; val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      val lum = new Array[Long](px.length)
      var i = 0
      while (i < px.length) {
        val p = px(i)
        lum(i) = 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
          114L * (p & 0xff)
        i += 1
      }
      var n = 0L; var s = 0L; var sq = 0L
      var y = 1
      while (y < h - 1) {
        var x = 1
        while (x < w - 1) {
          val l = 4 * lum(y * w + x) - lum(y * w + x - 1) - lum(y * w + x + 1) -
            lum((y - 1) * w + x) - lum((y + 1) * w + x)
          n += 1; s += l; sq += l * l
          x += 1
        }
        y += 1
      }
      LumaLapStats(n, s, sq)
    }

    /** One decode, every integer feature (see [[FixedImageStats]]).
      * Bound check for the q60 corpus (w ≤ 60, h ≤ 46): milli-luma ≤
      * 255·1000, |lap| ≤ 4·255000 ≈ 1.02e6, Σlap² ≤ 2552·1.05e12 ≈
      * 2.7e15, and the variance numerator n·Σlap² ≤ 6.8e18 < 2⁶³ — all
      * exact in int64.
      */
    def fixedImageStats(bytes: Array[Byte]): FixedImageStats = {
      val img = decode(bytes)
      val w = img.getWidth; val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      val lum = new Array[Long](px.length)
      var sr = 0L; var sg = 0L; var sb = 0L
      var i = 0
      while (i < px.length) {
        val p = px(i)
        val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
        sr += r; sg += g; sb += b
        lum(i) = 299L * r + 587L * g + 114L * b
        i += 1
      }
      var n = 0L; var s = 0L; var sq = 0L
      var y = 1
      while (y < h - 1) {
        var x = 1
        while (x < w - 1) {
          val l = 4 * lum(y * w + x) - lum(y * w + x - 1) - lum(y * w + x + 1) -
            lum((y - 1) * w + x) - lum((y + 1) * w + x)
          n += 1; s += l; sq += l * l
          x += 1
        }
        y += 1
      }
      FixedImageStats(w.toLong * h, sr, sg, sb, n, s, sq)
    }

    private def encodePng(img: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      encodePng(scaled(decode(bytes), w, h))

    def sampleFrames(bytes: Array[Byte], everyMs: Long): Seq[Array[Byte]] =
      withReader(bytes) { r =>
        val n = math.max(1, r.getNumImages(true))
        val stride = math.max(1L, everyMs / 100L).toInt  // nominal 100 ms/frame
        (0 until n by stride).map(i => encodePng(r.read(i)))
      }
  }

  /** Attach sniffed metadata: one narrow mapPartitions pass, decoder
    * initialized once per partition.
    */
  def withMediaMeta(df: DataFrame, blobCol: String, decoder: Decoder): DataFrame = {
    val schema = df.schema.add("media_meta", mediaMetaSchema)
    val enc = Encoders.row(schema)
    val blobIdx = df.schema.fieldIndex(blobCol)
    df.mapPartitions { rows =>
      // per-partition decoder setup happens here (amortized)
      rows.map { r =>
        val bytes = r.get(blobIdx).asInstanceOf[Array[Byte]]
        val m = decoder.sniff(bytes)
        Row.fromSeq(r.toSeq :+ Row(m.media_type, m.format, m.width, m.height,
          m.duration_ms, m.n_bytes))
      }
    }(enc)
  }

  /** Per-blob image features, batch-shaped. */
  def withImageFeatures(df: DataFrame, blobCol: String, decoder: Decoder): DataFrame = {
    val featSchema = StructType(Seq(
      StructField("mean_luma", DoubleType),
      StructField("sharpness", DoubleType),
      StructField("phash", LongType)))
    val schema = df.schema.add("image_features", featSchema)
    val enc = Encoders.row(schema)
    val blobIdx = df.schema.fieldIndex(blobCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val f = decoder.imageFeatures(r.get(blobIdx).asInstanceOf[Array[Byte]])
        Row.fromSeq(r.toSeq :+ Row(f.mean_luma, f.sharpness, f.phash))
      }
    }(enc)
  }

  /** [[withImageFeatures]] under the error policy: the feature struct is
    * NULL for a null or undecodable blob instead of failing the task —
    * the caller counts the nulls (no silent drop). Used by the frame
    * pipelines ([[VideoDedup]]), where one corrupt frame in a billion
    * must cost a counter, not a stage retry loop.
    */
  def withImageFeaturesLenient(df: DataFrame, blobCol: String,
      decoder: Decoder): DataFrame = {
    val featSchema = StructType(Seq(
      StructField("mean_luma", DoubleType),
      StructField("sharpness", DoubleType),
      StructField("phash", LongType)))
    val schema = df.schema.add("image_features", featSchema, nullable = true)
    val enc = Encoders.row(schema)
    val blobIdx = df.schema.fieldIndex(blobCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val feat = decoder
          .tryImageFeatures(r.get(blobIdx).asInstanceOf[Array[Byte]])
          .map(f => Row(f.mean_luma, f.sharpness, f.phash)).orNull
        Row.fromSeq(r.toSeq :+ feat)
      }
    }(enc)
  }

  /** Per-blob integer pixel-plane sums, batch-shaped — the decode
    * checksum column for hash-gating the image path (see [[PixelStats]]).
    */
  def withPixelStats(df: DataFrame, blobCol: String, decoder: Decoder): DataFrame = {
    val statSchema = StructType(Seq(
      StructField("n_px", LongType), StructField("sum_r", LongType),
      StructField("sum_g", LongType), StructField("sum_b", LongType)))
    val schema = df.schema.add("pixel_stats", statSchema)
    val enc = Encoders.row(schema)
    val blobIdx = df.schema.fieldIndex(blobCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val s = decoder.pixelStats(r.get(blobIdx).asInstanceOf[Array[Byte]])
        Row.fromSeq(r.toSeq :+ Row(s.n_px, s.sum_r, s.sum_g, s.sum_b))
      }
    }(enc)
  }

  /** Integer milli-luma Laplacian sums (see
    * [[ImageIoDecoder.lumaLaplacian]]), batch-shaped. ImageIO-specific:
    * it gates the REAL decode's spatial layout, which a fake decoder has
    * no notion of.
    */
  def withLumaLaplacian(df: DataFrame, blobCol: String): DataFrame = {
    val statSchema = StructType(Seq(
      StructField("n_interior", LongType), StructField("lap_sum", LongType),
      StructField("lap_sq", LongType)))
    val schema = df.schema.add("luma_lap", statSchema)
    val enc = Encoders.row(schema)
    val blobIdx = df.schema.fieldIndex(blobCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val s = ImageIoDecoder.lumaLaplacian(r.get(blobIdx).asInstanceOf[Array[Byte]])
        Row.fromSeq(r.toSeq :+ Row(s.n_interior, s.lap_sum, s.lap_sq))
      }
    }(enc)
  }

  /** All-integer image features in one decode per blob (see
    * [[FixedImageStats]]), batch-shaped. ImageIO-specific — these sums
    * checksum the REAL decode's plane layout and spatial addressing.
    */
  def withFixedImageStats(df: DataFrame, blobCol: String): DataFrame = {
    val statSchema = StructType(Seq(
      StructField("n_px", LongType), StructField("sum_r", LongType),
      StructField("sum_g", LongType), StructField("sum_b", LongType),
      StructField("n_interior", LongType), StructField("lap_sum", LongType),
      StructField("lap_sq", LongType)))
    val schema = df.schema.add("fixed_stats", statSchema)
    val enc = Encoders.row(schema)
    val blobIdx = df.schema.fieldIndex(blobCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val s = ImageIoDecoder.fixedImageStats(r.get(blobIdx).asInstanceOf[Array[Byte]])
        Row.fromSeq(r.toSeq :+ Row(s.n_px, s.sum_r, s.sum_g, s.sum_b,
          s.n_interior, s.lap_sum, s.lap_sq))
      }
    }(enc)
  }

  /** Resize: blob → blob, same narrow stage. */
  def resized(df: DataFrame, blobCol: String, w: Int, h: Int, decoder: Decoder): DataFrame = {
    val schema = df.schema.add("resized", BinaryType)
    val enc = Encoders.row(schema)
    val blobIdx = df.schema.fieldIndex(blobCol)
    df.mapPartitions { rows =>
      rows.map(r => Row.fromSeq(r.toSeq :+ decoder.resize(r.get(blobIdx).asInstanceOf[Array[Byte]], w, h)))
    }(enc)
  }

  /** Frame sampling: one row per sampled frame (flatMap — the UDTF shape). */
  def sampledFrames(df: DataFrame, idCol: String, blobCol: String, everyMs: Long,
      decoder: Decoder): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame", BinaryType)))
    val enc = Encoders.row(schema)
    df.select(col(idCol).cast(LongType).as("id"), col(blobCol).as("blob"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decoder.sampleFrames(r.get(1).asInstanceOf[Array[Byte]], everyMs)
            .zipWithIndex.map { case (f, i) => Row(r.getLong(0), i, f) }
        }
      }(enc)
  }

  /** Build a media table from the documents fixture: text bytes stand in
    * for opaque blobs — exercises the plumbing without any codec.
    */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): DataFrame =
    Load.table(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))

  /** Deterministic PNG render for a doc id: size and pixel pattern derive
    * from the id alone (mixed gradients + a diagonal stripe, so luma,
    * sharpness and pHash genuinely vary per image). Used to synthesize a
    * REAL image corpus on the executors — generation is a narrow
    * mapPartitions, exactly like a production decode stage.
    */
  def renderPng(id: Long): Array[Byte] = {
    import java.awt.image.BufferedImage
    val w = 32 + (id % 29).toInt
    val h = 24 + (id % 23).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val stripe = if (((x + y + id) % 11) < 3) 96 else 0
        val r = (x * 7 + id * 31) % 256
        val g = (y * 13 + id * 17) % 256
        val b = ((x + y) * 5 + id * 11 + stripe) % 256
        px(y * w + x) = (r.toInt << 16) | (g.toInt << 8) | b.toInt
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w) // bulk write — no per-pixel sync
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // ---- audio: REAL JDK codec (javax.sound.sampled) ---------------------

  final case class AudioFeatures(
      sample_rate: Int, channels: Int, duration_ms: Long,
      rms: Double, peak: Double, zcr: Double)

  /** Audio codec seam, mirroring [[Decoder]]: WAV/AIFF/AU decode is REAL
    * (the JDK ships container parsers + PCM/U8/μ-law/a-law converters in
    * `javax.sound.sampled`); compressed codecs (mp3/opus/aac) have no JDK
    * decoder and route through the fake (JNI/FFI in production).
    */
  trait AudioCodec extends Serializable {
    def audioFeatures(bytes: Array[Byte]): AudioFeatures
    def resample(bytes: Array[Byte], targetRate: Int): Array[Byte]

    /** Per-window energy of channel 0: Σ|sample| over each consecutive
      * `windowSamples`-sample window (last window may be partial), as
      * exact integers on the 16-bit grid — energy 0 ⟺ every sample in
      * the window is EXACTLY zero, the integer-exact silence test the
      * VAD tier (q207) segments on. */
    def energyWindows(bytes: Array[Byte], windowSamples: Int): Seq[Long]

    /** Error-policy twin of [[Decoder.tryImageFeatures]]: None for a
      * NULL or undecodable blob (bad container, truncated stream);
      * Some(Seq.empty) for a VALID zero-sample stream — the two cases
      * are distinct downstream (counted as bad vs. reported with zero
      * windows). */
    final def tryEnergyWindows(bytes: Array[Byte],
        windowSamples: Int): Option[Seq[Long]] =
      if (bytes == null) None
      else try Some(energyWindows(bytes, windowSamples))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  object JavaSoundCodec extends AudioCodec {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

    /** Container parse + decode to channel-0 samples in [-1, 1): any
      * JDK-readable stream is converted to PCM_SIGNED 16-bit LE first
      * (source channel count preserved; channel 0 extracted).
      */
    private def decodePcm(bytes: Array[Byte]): (Int, Int, Array[Double]) = {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val src = in.getFormat
        val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          src.getSampleRate, 16, src.getChannels, src.getChannels * 2,
          src.getSampleRate, false)
        val pcm = if (src.matches(target)) in
          else AudioSystem.getAudioInputStream(target, in)
        val raw = pcm.readAllBytes()
        val ch = target.getChannels
        val n = raw.length / (2 * ch)
        val out = new Array[Double](n)
        var i = 0
        while (i < n) {
          val lo = raw(i * 2 * ch) & 0xFF
          val hi = raw(i * 2 * ch + 1).toInt
          out(i) = ((hi << 8) | lo) / 32768.0
          i += 1
        }
        (math.round(src.getSampleRate).toInt, ch, out)
      } finally in.close()
    }

    /** Duration, RMS, peak and zero-crossing rate of channel 0. On
      * constant-magnitude signals (e.g. square waves) every step here is
      * IEEE-exact, which is what lets q61's oracle be closed-form
      * arithmetic instead of a SQL re-decode.
      */
    def audioFeatures(bytes: Array[Byte]): AudioFeatures = {
      val (rate, ch, s) = decodePcm(bytes)
      val n = s.length
      var sq = 0.0; var peak = 0.0; var zc = 0L
      var i = 0
      while (i < n) {
        val v = s(i)
        sq += v * v
        if (math.abs(v) > peak) peak = math.abs(v)
        if (i > 0 && (v < 0) != (s(i - 1) < 0)) zc += 1
        i += 1
      }
      AudioFeatures(rate, ch,
        duration_ms = if (rate == 0) 0L else n.toLong * 1000L / rate,
        rms = if (n == 0) 0.0 else math.sqrt(sq / n),
        peak = peak,
        zcr = if (n < 2) 0.0 else zc.toDouble / (n - 1).toDouble)
    }

    /** Mono linear-interpolation resample re-encoded as 16-bit WAV (the
      * JDK converter chain doesn't do rate conversion, so the kernel is
      * explicit — deterministic and branch-free per sample).
      */
    def resample(bytes: Array[Byte], targetRate: Int): Array[Byte] = {
      val (rate, _, s) = decodePcm(bytes)
      val n = s.length
      // a valid zero-frame stream resamples to a zero-frame stream (the
      // interpolation loop below indexes s and must not run)
      val m = if (n == 0) 0
        else math.max(1, (n.toLong * targetRate / math.max(1, rate)).toInt)
      val pcm = new Array[Byte](m * 2)
      var j = 0
      while (j < m) {
        val pos = j.toDouble * rate / targetRate
        val i0 = math.min(n - 1, pos.toInt)
        val i1 = math.min(n - 1, i0 + 1)
        val frac = pos - i0
        val v = (s(i0) * (1 - frac) + s(i1) * frac) * 32767.0
        val q = math.max(-32768, math.min(32767, math.round(v).toInt))
        pcm(2 * j) = (q & 0xFF).toByte
        pcm(2 * j + 1) = ((q >> 8) & 0xFF).toByte
        j += 1
      }
      val fmt = new AudioFormat(targetRate.toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, m.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** Exact integer window energies: decodePcm yields k/32768.0 for
      * 16-bit sample k (a power-of-two division, so k recovers exactly
      * by multiplication) — Σ|k| per window is bit-deterministic and 0
      * precisely when the window is digital silence. */
    def energyWindows(bytes: Array[Byte], windowSamples: Int): Seq[Long] = {
      require(windowSamples > 0, s"bad window $windowSamples")
      val (_, _, s) = decodePcm(bytes)
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      var i = 0
      while (i < s.length) {
        var e = 0L
        val end = math.min(i + windowSamples, s.length)
        while (i < end) {
          e += math.abs(math.round(s(i) * 32768.0))
          i += 1
        }
        out += e
      }
      out.toSeq
    }
  }

  /** Per-blob audio features, batch-shaped like [[withImageFeatures]]. */
  def withAudioFeatures(df: DataFrame, blobCol: String, codec: AudioCodec): DataFrame = {
    val featSchema = StructType(Seq(
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("duration_ms", LongType),
      StructField("rms", DoubleType),
      StructField("peak", DoubleType),
      StructField("zcr", DoubleType)))
    val schema = df.schema.add("audio_features", featSchema)
    val enc = Encoders.row(schema)
    val blobIdx = df.schema.fieldIndex(blobCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val f = codec.audioFeatures(r.get(blobIdx).asInstanceOf[Array[Byte]])
        Row.fromSeq(r.toSeq :+ Row(f.sample_rate, f.channels, f.duration_ms,
          f.rms, f.peak, f.zcr))
      }
    }(enc)
  }

  /** Deterministic 8 kHz mono 16-bit square-wave WAV for a doc id:
    * half-period, length and amplitude all derive from the id, and the
    * run structure makes RMS (= amplitude), peak, duration and
    * zero-crossing rate CLOSED-FORM — a real container decode checked by
    * pure arithmetic (see q61's oracle).
    */
  def renderWav(id: Long): Array[Byte] = {
    val hp = 1 + (id % 7).toInt             // half-period, samples
    val n = hp * (200 + (id % 11).toInt)    // whole runs only
    val a = (1000L + (id * 37L) % 20000L).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = if ((i / hp) % 2 == 0) a else -a
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** A real audio corpus: one deterministic WAV per document id,
    * generated on the executors (narrow, like a production ingest).
    */
  def syntheticAudio(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = graft.ops.Par.fanOut(
      Load.table(spark, sfDir, "documents").select(col("doc_id")))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("blob", BinaryType)))
    val enc = Encoders.row(schema)
    ids.mapPartitions { rows =>
      rows.map { r => Row(r.getLong(0), renderWav(r.getLong(0))) }
    }(enc)
  }

  /** A speech-shaped WAV: 20 + id%5 blocks of 400 samples each; block b
    * is DIGITAL SILENCE iff (id + b) % 3 == 0, else the q61 square wave
    * — so q207's voice-activity segmentation has a closed-form oracle
    * (the silence pattern is pure arithmetic on (id, window index)).
    */
  def renderSpeechWav(id: Long): Array[Byte] =
    renderSpeechWav(id, (20 + id % 5).toInt)

  /** As above with an explicit block count — `blocks = 0` renders a
    * VALID zero-sample WAV (44-byte container, no data), the "empty but
    * well-formed" case of the decode error policy. */
  def renderSpeechWav(id: Long, blocks: Int): Array[Byte] = {
    val w = 400
    val hp = 1 + (id % 7).toInt
    val a = (1000L + (id * 37L) % 20000L).toInt
    val n = blocks * w
    val pcm = new Array[Byte](n * 2)
    var b = 0
    while (b < blocks) {
      val silent = (id + b) % 3 == 0
      var i = 0
      while (i < w) {
        val v = if (silent) 0 else if ((i / hp) % 2 == 0) a else -a
        val j = (b * w + i) * 2
        pcm(j) = (v & 0xFF).toByte
        pcm(j + 1) = ((v >> 8) & 0xFF).toByte
        i += 1
      }
      b += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** A speech corpus with planted silence gaps (every sampled doc id). */
  def syntheticSpeech(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = graft.ops.Par.fanOut(
      Load.table(spark, sfDir, "documents")
        .select(col("doc_id")).filter(col("doc_id") % 7 === 3))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("blob", BinaryType)))
    val enc = Encoders.row(schema)
    ids.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        // planted error-policy rows: id%13==5 is NOT audio at all (the
        // undecodable case → decode_ok = 0); id%13==7 is a VALID WAV
        // with zero sample frames (→ n_windows = 0, decode_ok = 1)
        val blob =
          if (id % 13 == 5) s"NOT-A-WAV-$id".getBytes("UTF-8")
          else if (id % 13 == 7) renderSpeechWav(id, blocks = 0)
          else renderSpeechWav(id)
        Row(id, blob)
      }
    }(enc)
  }

  /** A real "video" corpus: one frame ARRAY per sampled document id —
    * video as the schema the prompt prescribes (opaque binary frames +
    * typed metadata), no container codec. Construction is fully
    * deterministic so q206's oracle derives the expected scene algebra
    * from arithmetic: video doc_id has 6 + id%5 frames, the scene
    * changes every 3 frames (scene image id = id·16 + f div 3 — scene
    * ids never collide across videos since scenes/video ≤ 4 < 16), and
    * every id % 13 == 0 video ships an identical replica at
    * id + 10'000'000 (the cross-video dup the pipeline must find).
    */
  def syntheticVideos(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = graft.ops.Par.fanOut(
      Load.table(spark, sfDir, "documents")
        .select(col("doc_id")).filter(col("doc_id") % 7 === 0))
    val schema = StructType(Seq(
      StructField("video_id", LongType),
      StructField("frames", ArrayType(BinaryType))))
    val enc = Encoders.row(schema)
    ids.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val nf = (6 + id % 5).toInt
        val good: Seq[Array[Byte]] =
          (0 until nf).map(f => renderPng(id * 16 + f / 3))
        // id % 11: append a TRUNCATED PNG (magic + partial header) —
        // the planted undecodable frame the error policy must count,
        // not drop and not crash on. Replicas inherit it, so the
        // corrupted pair still dedups on its decodable scenes.
        val frames: Array[Array[Byte]] =
          (if (id % 11 == 0) good :+ renderPng(id).take(20) else good).toArray
        val base = Row(id, frames)
        val withDup =
          if (id % 13 == 0) Seq(base, Row(id + 10000000L, frames))
          else Seq(base)
        // id % 17: plant an EMPTY video (zero frames) — the spine case
        // posexplode_outer must surface with n_frames = 0
        if (id % 17 == 0)
          withDup :+ Row(id + 20000000L, Array.empty[Array[Byte]])
        else withDup
      }
    }(enc)
  }

  /** A real image corpus: one deterministic PNG per document id. */
  def syntheticImages(spark: SparkSession, sfDir: String): DataFrame = {
    // fanOut: the ids arrive as ONE file partition at test SFs, which
    // would serialize the render+decode pipeline onto a single core
    // (measured 4.7 s -> 0.6 s at sf0.1 on local[32])
    val ids = graft.ops.Par.fanOut(
      Load.table(spark, sfDir, "documents").select(col("doc_id")))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("blob", BinaryType)))
    val enc = Encoders.row(schema)
    ids.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, renderPng(id))
      }
    }(enc)
  }
}
