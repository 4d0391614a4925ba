package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The exact-tier ↔ sketch-tier contract (round-9 verdict #6: the
  * 100 TB swap must be code, not a comment).
  *
  * Agreement is pinned on the LOSSLESS GRID — values that are their own
  * histogram-bucket lower bound (all v with |v| < 16 qualify: 0..7 map
  * to themselves, 8..15 land one per sub-bucket). On that grid the
  * histogram is an exact value distribution, so the sketch tier must
  * reproduce the exact tier bit-for-bit. Off the grid the sketch
  * quantizes to bucket resolution (rel err < 12.5%) — pinned here as
  * monotonicity + bucket-count sanity on arbitrary values.
  */
class QuantileTierSpec extends SparkSpec {
  import spark.implicits._

  private def both(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val e = Quantiles.rankBuckets(df, Seq("k"), "v", "tie", k, "bucket",
      sketch = false).select("k", "tie", "bucket")
    val s = Quantiles.rankBuckets(df, Seq("k"), "v", "tie", k, "bucket",
      sketch = true).select("k", "tie", "bucket")
    (e.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap,
      s.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap)
  }

  test("rankBuckets: tiers agree on the lossless grid (k | n and k ∤ n)") {
    // key "a": n = 15 distinct values 0..14 (divisible by 3)
    // key "b": n = 16 distinct values 0..15 (not divisible by 3)
    // key "c": n = 5 (small group)
    val df = ((0 until 15).map(i => ("a", i.toLong, i.toLong)) ++
      (0 until 16).map(i => ("b", i.toLong, i.toLong)) ++
      (0 until 5).map(i => ("c", i.toLong, i.toLong)))
      .toDF("k", "v", "tie")
    val (e, s) = both(df, 3)
    assert(e == s, s"tier mismatch:\nexact  $e\nsketch $s")
    // spot-check the algebra itself: 15 rows -> 5/5/5
    assert((0 until 15).map(i => e(("a", i.toLong))) ==
      Seq(0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 2, 2, 2, 2, 2).map(_.toLong))
  }

  test("rankBuckets sketch: ties share a bucket; shuffled input is invariant") {
    val df = Seq(("a", 0L, 1L), ("a", 0L, 2L), ("a", 3L, 3L),
      ("a", 5L, 4L), ("a", 5L, 5L), ("a", 9L, 6L))
      .toDF("k", "v", "tie").repartition(7)
    val s = Quantiles.rankBuckets(df, Seq("k"), "v", "tie", 3, "bucket",
        sketch = true)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toSeq
    // equal values never straddle a sketch boundary
    val byV = s.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(byV.values.forall(_.size == 1), s"ties straddled a boundary: $s")
    // monotone in v
    val sorted = s.sortBy(_._1).map(_._2)
    assert(sorted == sorted.sorted, s"bucket not monotone in value: $s")
  }

  test("percentileRank: tiers agree on the lossless grid, including ties") {
    val df = Seq(("a", 0L), ("a", 0L), ("a", 1L), ("a", 2L), ("a", 2L),
      ("a", 3L), ("b", 5L), ("b", 7L), ("b", 11L), ("c", 4L))
      .toDF("k", "v")
    val e = Quantiles.percentileRank(df, Seq("k"), "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val s = Quantiles.percentileRankSketch(df, Seq("k"), "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(e.sameElements(s),
      s"tier mismatch:\nexact  ${e.toSeq}\nsketch ${s.toSeq}")
  }

  test("percentileRankSketch: negative values stay monotone (signed buckets)") {
    val vals = Seq(-500L, -123L, -16L, -9L, -1L, 0L, 3L, 17L, 250L, 9999L)
    val df = vals.map(("a", _)).toDF("k", "v")
    val out = Quantiles.percentileRankSketch(df, Seq("k"), "v")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val pcts = vals.sorted.map(out)
    assert(pcts == pcts.sorted, s"pct not monotone over negatives: $out")
    assert(out(-500L) == 0L && out(9999L) == (1L << 30),
      s"extremes must hit 0 and 2^30: $out")
  }

  test("quantileNormalize: tiers agree on the lossless grid") {
    val a = Seq(("a", 0L, 1L), ("a", 2L, 2L), ("a", 5L, 3L), ("a", 9L, 4L))
      .toDF("k", "v", "tie")
    val ref = ((0 until 8).map(i => ("a", (i * 2).toLong)))
      .toDF("k", "v") // ref values 0,2,..,14 — all on the grid
    val e = Quantiles.quantileNormalize(a, ref, Seq("k"), "v", "tie")
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    val s = Quantiles.quantileNormalizeSketch(a, ref, Seq("k"), "v")
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(e == s, s"tier mismatch:\nexact  $e\nsketch $s")
  }

  test("q205 sketch tier: buckets in range and monotone per lang at spec sf") {
    val out = graft.queries.AuditQueries
      .q205PerplexityBuckets(spark, sf, sketch = true)
      .select("lang", "ppl_fix", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.forall(r => r._3 >= 0 && r._3 <= 2))
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_._2).map(_._3).toSeq
      assert(sorted == sorted.sorted,
        s"$lang: sketch bucket not monotone in ppl_fix")
    }
  }
}
