package graft.multimodal

import graft.SparkSpec

class AudioSegmentsSpec extends SparkSpec {
  import spark.implicits._

  test("real WAV: planted silence pattern segments exactly (id=3)") {
    // id=3: 23 blocks, silent at (3+b)%3==0 -> b = 0,3,...,21 (8 silent,
    // each isolated): runs = 8 silent + 8 speech = 16 segments
    val df = Seq((3L, Multimodal.renderSpeechWav(3L))).toDF("id", "blob")
    val out = AudioSegments.silenceSegments(df, "id", "blob",
      Multimodal.JavaSoundCodec, windowSamples = 400).collect()(0)
    assert(out.getLong(1) == 23L, "n_windows")
    assert(out.getLong(2) == 16L, "n_segments")
    assert(out.getLong(3) == 15L, "speech_windows")
    assert(out.getLong(4) == 15L * 65536L / 23L, "ratio floor")
  }

  test("an all-speech recording is ONE segment; all-silence likewise") {
    // id=1: silence at (1+b)%3==0 -> b=2,5,... ; craft custom patterns
    // via the fake codec instead: it emits 8 windows, every third silent
    val df = Seq((7L, "blobA".getBytes("UTF-8"))).toDF("id", "blob")
    val out = AudioSegments.silenceSegments(df, "id", "blob",
      FakeAudioCodec, windowSamples = 400).collect()(0)
    assert(out.getLong(1) == 8L)
    // fake plants silence every 3rd window from a hash offset: islands
    // must alternate, so segments is in [5, 7] and speech+silent = 8
    assert(out.getLong(2) >= 5L && out.getLong(2) <= 7L)
    assert(out.getLong(3) > 0L && out.getLong(3) < 8L)
  }

  test("undecodable and zero-sample blobs surface, never vanish") {
    // round-9 advisor: flatMap over energy windows dropped both cases
    val df = Seq(
      (1L, Multimodal.renderSpeechWav(1L)),       // normal speech
      (2L, "garbage, not audio".getBytes("UTF-8")), // undecodable
      (3L, Multimodal.renderSpeechWav(3L, blocks = 0))) // valid, empty
      .toDF("id", "blob")
    val got = AudioSegments.silenceSegments(df, "id", "blob",
        Multimodal.JavaSoundCodec, windowSamples = 400)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "every input id must surface")
    assert(got(1L).getLong(1) == 21L && got(1L).getLong(5) == 1L)
    // undecodable: decode_ok = 0, zeroed counters, NULL ratio
    assert(got(2L).getLong(1) == 0L && got(2L).getLong(2) == 0L &&
      got(2L).getLong(3) == 0L && got(2L).isNullAt(4) &&
      got(2L).getLong(5) == 0L)
    // valid zero-sample WAV: decode_ok = 1, zero windows, NULL ratio
    assert(got(3L).getLong(1) == 0L && got(3L).isNullAt(4) &&
      got(3L).getLong(5) == 1L)
  }

  test("windows spanning a partial tail window still count") {
    // renderSpeechWav always emits whole 400-sample blocks; a 150-sample
    // window size forces partial-window arithmetic through the decode
    val df = Seq((10L, Multimodal.renderSpeechWav(10L))).toDF("id", "blob")
    val out = AudioSegments.silenceSegments(df, "id", "blob",
      Multimodal.JavaSoundCodec, windowSamples = 150).collect()(0)
    // 20 blocks * 400 = 8000 samples -> ceil(8000/150) = 54 windows
    assert(out.getLong(1) == 54L)
  }
}
