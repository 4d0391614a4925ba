package graft.multimodal

import graft.SparkSpec

class VideoDedupSpec extends SparkSpec {
  import spark.implicits._

  private val A = "frameA".getBytes("UTF-8")
  private val B = "frameB".getBytes("UTF-8")

  private def run(vs: Seq[(Long, Seq[Array[Byte]])]) =
    VideoDedup.sceneSummary(
        vs.toDF("video_id", "frames"), "video_id", "frames",
        FakeDecoder)
      .collect()
      // (n_frames, n_segments, dup_group_size); n_bad_frames is col 3
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4))))
      .toMap

  test("run-length collapses consecutive equal frames; sequence fp finds dups") {
    val got = run(Seq(
      1L -> Seq(A, A, B, B, B, A), // [AA][BBB][A] -> 3 scenes
      2L -> Seq(A, A, B, B, B, A), // exact dup of 1
      3L -> Seq(A, B, A),          // alternating -> 3 scenes, no dup
      4L -> Seq(A, A, A)))         // one static shot
    assert(got(1L) == ((6L, 3L, 2L)))
    assert(got(2L) == ((6L, 3L, 2L)))
    assert(got(3L) == ((3L, 3L, 1L)))
    assert(got(4L) == ((3L, 1L, 1L)))
  }

  test("same scene MULTISET but different ORDER is not a duplicate") {
    val got = run(Seq(
      1L -> Seq(A, A, B),   // [AA][B]
      2L -> Seq(B, A, A)))  // [B][AA] - same scenes, reversed timeline
    assert(got(1L)._3 == 1L && got(2L)._3 == 1L,
      "sequence fingerprint must be order-sensitive")
  }

  test("empty and NULL frame arrays surface with zero counts, never vanish") {
    // round-9 advisor: posexplode silently dropped these videos
    val df = Seq(
      (1L, Some(Seq(A, A, B))),
      (2L, Some(Seq.empty[Array[Byte]])),
      (3L, None: Option[Seq[Array[Byte]]]))
      .toDF("video_id", "frames")
    val got = VideoDedup.sceneSummary(df, "video_id", "frames",
        FakeDecoder)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L), "every input video must surface")
    assert(got(1L) == ((3L, 2L, 0L, 1L)))
    // empty + NULL both report zero frames/segments/bad, and share the
    // empty fingerprint (identical empty scene sequences -> dup pair)
    assert(got(2L) == ((0L, 0L, 0L, 2L)))
    assert(got(3L) == ((0L, 0L, 0L, 2L)))
  }

  test("an undecodable frame is counted, not dropped — and scenes span it") {
    // REAL decoder: two renderPng frames of the same image with a
    // truncated PNG between them — the run-length must carry across the
    // bad frame (one scene), and n_bad_frames must say 1
    val p = Multimodal.renderPng(42L)
    val df = Seq(
      (1L, Seq(p, p.take(20), p)),
      (2L, Seq(p, p)))
      .toDF("video_id", "frames")
    val got = VideoDedup.sceneSummary(df, "video_id", "frames",
        Multimodal.ImageIoDecoder)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // both videos: 2 decodable frames, ONE scene, same fingerprint
    assert(got(1L) == ((2L, 1L, 1L, 2L)))
    assert(got(2L) == ((2L, 1L, 0L, 2L)))
  }

  test("partition invariance under an 11-way repartition") {
    val vs = (0L until 40L).map(i =>
      i -> (0 until (3 + i % 4).toInt).map(f =>
        s"v${i % 5}f${f / 2}".getBytes("UTF-8")))
    val a = run(vs)
    val b = VideoDedup.sceneSummary(
        vs.toDF("video_id", "frames").repartition(11), "video_id", "frames",
        FakeDecoder)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4))))
      .toMap
    assert(a == b)
  }
}
