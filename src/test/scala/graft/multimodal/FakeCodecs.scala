package graft.multimodal

import graft.multimodal.Multimodal._

/** Deterministic fake: features are hashes of content — stable across
  * runs/partitionings, so specs can golden-test the plumbing.
  */
object FakeDecoder extends Decoder {
  private def h(bytes: Array[Byte], seed: Long): Long = {
    var x = seed
    var i = 0
    while (i < bytes.length) { x = x * 31 + (bytes(i) & 0xFF); i += 1 }
    x
  }
  def sniff(bytes: Array[Byte]): MediaMeta = {
    val k = h(bytes, 17)
    MediaMeta("image", "fake",
      width = 64 + (math.abs(k) % 1024).toInt,
      height = 64 + (math.abs(k / 7) % 1024).toInt,
      duration_ms = 0L, n_bytes = bytes.length.toLong)
  }
  def imageFeatures(bytes: Array[Byte]): ImageFeatures = {
    val k = h(bytes, 99)
    ImageFeatures(
      mean_luma = (math.abs(k) % 256) / 255.0,
      sharpness = (math.abs(k / 13) % 1000) / 1000.0,
      phash = k)
  }
  def pixelStats(bytes: Array[Byte]): PixelStats = {
    val k = h(bytes, 41)
    PixelStats(
      n_px = 1L + math.abs(k) % 4096,
      sum_r = math.abs(k / 3) % 1000000,
      sum_g = math.abs(k / 5) % 1000000,
      sum_b = math.abs(k / 7) % 1000000)
  }
  def resize(bytes: Array[Byte], w: Int, h0: Int): Array[Byte] =
    bytes.take(math.max(16, math.min(bytes.length, w * h0 / 64)))
  def sampleFrames(bytes: Array[Byte], everyMs: Long): Seq[Array[Byte]] =
    bytes.grouped(math.max(64, bytes.length / 4)).take(4).toSeq
}

/** Deterministic fake for codecs outside the JDK (mp3/opus): features
  * are content hashes — stable across runs and partitionings.
  */
object FakeAudioCodec extends AudioCodec {
  private def h(bytes: Array[Byte], seed: Long): Long = {
    var x = seed; var i = 0
    while (i < bytes.length) { x = x * 31 + (bytes(i) & 0xFF); i += 1 }
    x
  }
  def audioFeatures(bytes: Array[Byte]): AudioFeatures = {
    val k = h(bytes, 41)
    AudioFeatures(44100, 2, math.abs(k) % 600000L,
      (math.abs(k) % 1000) / 1000.0, (math.abs(k / 7) % 1000) / 1000.0,
      (math.abs(k / 13) % 1000) / 1000.0)
  }
  def resample(bytes: Array[Byte], targetRate: Int): Array[Byte] =
    bytes.take(math.max(16, bytes.length / 2))
  def energyWindows(bytes: Array[Byte], windowSamples: Int): Seq[Long] = {
    // 8 hash-derived windows; every third is silent — gives specs a
    // deterministic island structure without any decode
    val k = h(bytes, 53)
    (0 until 8).map(w =>
      if ((math.abs(k) + w) % 3 == 0) 0L
      else 1L + math.abs(h(bytes, w + 100)) % 1000L)
  }
}
