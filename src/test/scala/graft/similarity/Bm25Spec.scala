package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 semantics on hand-checkable fixtures (q120 carries the DuckDB
  * hash oracle at driver scale; the strategy-equality law over both
  * scorings is in LexicalSpec).
  */
class Bm25Spec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted

  private def corpus: DataFrame = LexicalSpec.lengthSpread(spark)

  test("length normalization: same tf, shorter doc scores higher") {
    // both docs contain the probe term once; doc 2 is 4x longer
    val c = docs(
      1L -> "zebra alpha beta",
      2L -> "zebra one two three four five six seven eight nine ten eleven",
      3L -> "filler words only nothing shared")
    val q = docs(9L -> "zebra")
    val out = Bm25.topKNaive(c, q, "text", "doc_id", "doc_id", k = 2)
      .orderBy(desc("score")).collect()
    assert(out.length === 2)
    assert(out(0).getLong(1) === 1L, "shorter doc must rank first")
    assert(out(0).getLong(2) > out(1).getLong(2))
  }

  test("tf saturation: 8 repeats score less than 8x a single occurrence") {
    // same doc length (pad with distinct fillers), tf 1 vs 8
    val c = docs(
      1L -> "whale a1 a2 a3 a4 a5 a6 a7",
      2L -> "whale whale whale whale whale whale whale whale",
      3L -> "b1 b2 b3 b4 b5 b6 b7 b8")
    val q = docs(9L -> "whale")
    val byDoc = Bm25.topKNaive(c, q, "text", "doc_id", "doc_id", k = 2)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byDoc(2L) > byDoc(1L), "higher tf still scores higher")
    assert(byDoc(2L) < 8L * byDoc(1L), "saturation must bite well below linear")
  }

  test("rarer terms out-weigh common ones at equal tf and length") {
    // 'rare' appears in 1 doc, 'common' in 5; probe docs share length
    val c = docs(
      1L -> "rare pad1 pad2 pad3",
      2L -> "common pad4 pad5 pad6",
      3L -> "common x1 x2",
      4L -> "common y1 y2",
      5L -> "common z1 z2",
      6L -> "common w1 w2")
    val q = docs(9L -> "rare common")
    val byDoc = Bm25.topKNaive(c, q, "text", "doc_id", "doc_id", k = 6)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byDoc(1L) > byDoc(2L))
  }

  test("zero-token and non-matching docs never surface; empty query matches nothing") {
    val c = docs(1L -> "alpha beta", 2L -> "", 3L -> "gamma delta")
    val q = docs(9L -> "alpha", 8L -> "")
    val out = Bm25.topKNaive(c, q, "text", "doc_id", "doc_id", k = 5).collect()
    assert(out.map(_.getLong(0)).distinct === Array(9L))
    assert(out.map(_.getLong(1)).toSet === Set(1L))
  }

  test("index merge law: merged parts serve identically to a from-scratch build") {
    // parts with very different average doc length: a pre-floored
    // per-part avgdl (instead of raw (n, tot) scalars) would change
    // the saturation of every posting and break this equality
    val c = corpus
    val partA = c.filter(col("doc_id") % 2 === 0)
    val partB = c.filter(col("doc_id") % 2 =!= 0)
    val merged = Lexical.mergeIndex(Seq(
      Bm25.index(partA, "text", "doc_id"),
      Bm25.index(partB, "text", "doc_id")))
    val q = docs(9L -> "spark shuffle join", 8L -> "partition cost")
    val inc = Bm25.topKFromIndex(merged._1, merged._2, q, "text",
      "doc_id", k = 6)
    val direct = Bm25.topKNaive(c, q, "text", "doc_id", "doc_id", k = 6)
    assert(rows(inc) == rows(direct))
    // the merged scalars are the exact sums, not an average-of-averages
    val s = merged._2.collect()(0)
    val totTokens = c.collect()
      .map(_.getString(1).split("\\s+").count(_.nonEmpty).toLong).sum
    assert((s.getLong(0), s.getLong(1)) == ((c.count(), totTokens)))
  }

  test("scores are non-negative and bounded by idfcap * satcap * |q|") {
    val qs = corpus
    val out = Bm25.topKNaive(corpus, qs, "text", "doc_id", "doc_id", k = 6)
      .agg(min("score"), max("score")).head
    assert(out.getLong(0) >= 0L)
    // sat < 2.2 * 2^14; 10-term query; idf here is far below the cap,
    // but the hard ceiling is what the int64 argument rests on
    assert(out.getLong(1) < Bm25.IdfCap * (22528L * Bm25.SatScale / 10240L) * 10)
  }
}
