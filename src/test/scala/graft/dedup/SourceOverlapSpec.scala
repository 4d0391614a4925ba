package graft.dedup

import graft.SparkSpec
import graft.queries.DedupQueries

/** q215 source-overlap matrix — planted gram algebra on a three-source
  * corpus, including a gram-free source that must still surface on the
  * documents spine (zeros, not absence). The DuckDB oracle carries the
  * full-corpus gate; this pins the closed-form matrix.
  */
class SourceOverlapSpec extends SparkSpec {

  test("q215: planted pairwise gram algebra, gram-free source surfaces") {
    val s = spark
    import s.implicits._
    // source a: tokens w1..w9 -> grams {w1..w8, w2..w9}; source b: the
    // first gram only; source c: too short for any 8-gram
    val nine = (1 to 9).map("w" + _).mkString(" ")
    val eight = (1 to 8).map("w" + _).mkString(" ")
    val base = scratch("q215")
    Seq((0L, nine, "en", "a", 0L), (1L, eight, "en", "b", 0L),
        (2L, "tiny text", "en", "c", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val out = DedupQueries.q215SourceOverlapMatrix(spark, base, sketch = false)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")),
      s"spine pairs: ${out.keySet}")
    // |a|=2, |b|=1, inter=1: J = 1/2, containment = 1/1
    assert(out(("a", "b")) == ((2L, 1L, 1L, 32768L, 65536L)),
      s"a-b algebra: ${out(("a", "b"))}")
    assert(out(("a", "c")) == ((2L, 0L, 0L, 0L, 0L)),
      s"gram-free c vs a: ${out(("a", "c"))}")
    assert(out(("b", "c")) == ((1L, 0L, 0L, 0L, 0L)),
      s"gram-free c vs b: ${out(("b", "c"))}")
  }
}
