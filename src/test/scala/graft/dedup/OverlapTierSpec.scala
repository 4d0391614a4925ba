package graft.dedup

import graft.SparkSpec
import graft.queries.DedupQueries

/** q215's exact ↔ sketch tier agreement on the lossless grid: a KMV
  * signature is exhaustive below k distinct values, so while every
  * source pair's gram union holds < k = 256 grams the sketch tier must
  * reproduce the exact tier bit-for-bit — the same contract
  * QuantileTierSpec pins for the q205 rank swap. Beyond k the sketch
  * degrades to Broder's bounded-state estimate (the 100 TB mode), which
  * has no exactness claim and is not asserted here.
  */
class OverlapTierSpec extends SparkSpec {

  test("q215: tiers agree bit-for-bit while unions stay below k") {
    val s = spark
    import s.implicits._
    // three sources, ~30 grams each with planted cross-source overlap,
    // plus a gram-free source — far below k = 256 union-wide
    def text(words: Range) = words.map("w" + _).mkString(" ")
    val rows = Seq(
      (0L, text(0 to 40), "en", "a", 0L),
      (1L, text(20 to 60), "en", "b", 0L),   // overlaps a on w20..w40
      (2L, text(100 to 140), "en", "c", 0L), // disjoint
      (3L, "too short", "en", "d", 0L))
    val base = scratch("q215_tier")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    def matrix(sketch: Boolean) =
      DedupQueries.q215SourceOverlapMatrix(spark, base, sketch)
        .collect().map(_.toSeq).toSeq
    val exact = matrix(sketch = false)
    val sketch = matrix(sketch = true)
    assert(exact == sketch,
      s"tier drift:\nexact  $exact\nsketch $sketch")
    // the planted overlap is real: pair (a, b) intersects
    val ab = exact.find(r => r(0) == "a" && r(1) == "b").get
    assert(ab(4).asInstanceOf[Long] > 0L, s"planted overlap: $ab")
    // and the gram-free source rides the spine in BOTH tiers
    assert(exact.count(r => r(0) == "d" || r(1) == "d") == 3)
  }
}
