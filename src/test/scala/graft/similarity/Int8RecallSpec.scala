package graft.similarity

import graft.SparkSpec
import graft.queries.DedupQueries

/** q221's planted-topology semantics, the cases the real corpus doesn't
  * exercise: (1) two candidates whose code vectors COLLIDE under int8
  * (components below scale/2 round to the same code) tie at sim8 = 1.0
  * and the id tie-break flips the int8 top-1 away from the exact top-1
  * — hits stays 5 (same SET) but top1_agree reads 0; (2) an exact
  * duplicate survives as top-1 in both tiers (top1_agree = 1); (3) zero
  * vectors (scale 0) are excluded from both sides — a NaN sim8 must
  * never float to rank 1, and a zero probe must not emit a row.
  */
class Int8RecallSpec extends SparkSpec {

  test("q221: int8 tie flips top-1, exact dup survives, zeros excluded") {
    val s = spark
    import s.implicits._
    // query 0 = (1,0): candidates 100/101 differ only in a component
    // below scale/2 (0.003, 0.002 → code 0) — both quantize to (127,0);
    // 102..105 fan out at distinct code angles. exact top-5 =
    // {101,100,102,103,104}, int8 top-5 = same set but 100 wins the
    // sim8=1.0 tie on id. query 1 = (.6,.8): candidate 200 is an exact
    // duplicate, 201..204 fan out; top-1 in both tiers.
    val rows = Seq(
      0L -> Array(1f, 0f), 1L -> Array(0.6f, 0.8f),
      2L -> Array(0f, 0f), // zero probe: must not emit a row
      100L -> Array(1f, 0.003f), 101L -> Array(1f, 0.002f),
      102L -> Array(1f, 0.1f), 103L -> Array(1f, 0.2f),
      104L -> Array(1f, 0.3f), 105L -> Array(1f, 0.4f),
      200L -> Array(0.6f, 0.8f), 201L -> Array(0.6f, 0.9f),
      202L -> Array(0.6f, 1.0f), 203L -> Array(0.6f, 1.1f),
      204L -> Array(0.6f, 1.2f),
      300L -> Array(0f, 0f)) // zero candidate: excluded, not NaN-top
    val dir = scratch("q221")
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = DedupQueries.q221Int8Recall(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3))))
      .toMap
    assert(out.keySet == Set(0L, 1L), s"zero probe must drop: ${out.keySet}")
    assert(out(0L) == ((5L, 100L, 0)),
      s"code-collision tie: same top-5 set, flipped top-1: ${out(0L)}")
    assert(out(1L) == ((5L, 100L, 1)),
      s"exact dup holds top-1 in both tiers: ${out(1L)}")
  }
}
