package graft.dedup

import graft.SparkSpec
import graft.queries.{DedupQueries, TextQueries}

/** q231/q232 planted semantics. Sweep: a tight pair (1-token mutation,
  * J > 0.95) survives every θ while a loose pair (8-token mutation,
  * J ≈ 0.86) drops out by θ = 0.90 — counts must be non-increasing in θ
  * and the affected-doc counts must track the surviving pairs. Curve:
  * exact rank deciles follow the (rank−1)·10 div n law — 25 equal-mass
  * docs split 3/2/3/2/… and the cumulative share ends at 1000‰.
  */
class ThresholdSweepSpec extends SparkSpec {

  test("q231: tight pair survives all θ, loose pair drops by 0.90") {
    val s = spark
    import s.implicits._
    val base = (1 to 100).map("tok" + _)
    def doc(repl: Map[Int, String]) =
      base.zipWithIndex.map { case (w, i) => repl.getOrElse(i, w) }
        .mkString(" ")
    val loose = (1 to 100).map("yyy" + _)
    val rows = Seq(
      (0L, doc(Map.empty)), (1L, doc(Map(50 -> "x1"))), // tight pair
      (10L, loose.mkString(" ")), // loose pair partner
      (11L, loose.zipWithIndex.map { case (w, i) =>
        if (i < 8) "ddd" + i else w }.mkString(" ")),
      (99L, (1 to 100).map("zzz" + _).mkString(" "))) // isolated
      .map { case (id, t) => (id, t, "en", "s", 0L) }
    val dir = scratch("q231")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = DedupQueries.q231ThresholdSensitivity(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(800L, 850L, 900L, 950L))
    assert(out(800L) == ((2L, 4L)), s"both pairs at 0.80: ${out(800L)}")
    assert(out(900L) == ((1L, 2L)), s"only the tight pair: ${out(900L)}")
    assert(out(950L) == ((1L, 2L)), s"tight survives 0.95: ${out(950L)}")
    val counts = Seq(800L, 850L, 900L, 950L).map(out(_)._1)
    assert(counts == counts.sorted.reverse, "non-increasing in θ")
  }

  test("q232: exact decile law on 25 equal-mass docs") {
    val s = spark
    import s.implicits._
    val rows = (1L to 25L).map(i =>
      (i, s"filler text number $i with the and of words", "en", "s", 100L))
    val dir = scratch("q232")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.q232QualityTokenCurve(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == (0L to 9L), "all 10 buckets")
    assert(out.map(_.getLong(1)).toSeq ==
      Seq(3L, 2L, 3L, 2L, 3L, 2L, 3L, 2L, 3L, 2L),
      "(rank-1)*10 div 25 sizes")
    assert(out.last.getLong(4) == 1000L, "curve ends at 1000 per-mille")
    assert(out.map(_.getLong(2)).sum == 2500L, "mass conservation")
    val cums = out.map(_.getLong(3)).toSeq
    assert(cums == cums.sorted && cums.last == 2500L, "cumulative")
  }
}
