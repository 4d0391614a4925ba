package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Laws of the one lexical path, each run over both scorings. */
class LexicalSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  for (scoring <- Seq(TfIdf, Bm25))
    test(s"$scoring: dense, tiered and naive return identical rows at every df share") {
      // (corpus, queries, shares, df floor): the common-term corpus with
      // queries 1,4,7,10 — some bound-safe, some (the all-common doc 8)
      // must fall back — swept from 0.0 (everything common: pure
      // fallback) to 1.0 (nothing common: pure phase A); and the
      // length-spread corpus with queries 1 and 5
      val common = LexicalSpec.commonTerms(spark)
      val spread = LexicalSpec.lengthSpread(spark)
      val cases = Seq(
        (common, common.filter(col("doc_id") % 3 === 1), Seq(0.0, 0.05, 0.3, 0.7, 1.0), 0L),
        (spread, spread.filter(col("doc_id").isin(1L, 5L)), Seq(0.01, 0.2, 0.9), 1L))
      for (((corpus, queries, shares, minDf), i) <- cases.zipWithIndex) {
        val naive = rows(scoring.topKNaive(corpus, queries, "text", "doc_id", "doc_id", k = 3))
        for (share <- shares) {
          val tiered = scoring.topKTiered(corpus, queries, "text", "doc_id", "doc_id",
            k = 3, commonDfShare = share, minCommonDf = minDf)
          assert(rows(tiered) === naive, s"case $i: tiered diverged from naive at share=$share")
        }
        val dense = scoring.topKDense(corpus, queries, "text", "doc_id", "doc_id", k = 3)
        assert(rows(dense) === naive, s"case $i: dense diverged from naive")
      }
    }
}

object LexicalSpec {

  private def docs(spark: SparkSession, rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Genuinely common terms ("the"/"and" in nearly every doc) plus rare
    * discriminative ones.
    */
  def commonTerms(spark: SparkSession): DataFrame = docs(spark,
    1L -> "the quick zyzzyva and the lazy aardwolf ran off the cliff",
    2L -> "the common words and the usual filler run on and on here",
    3L -> "the zyzzyva appeared again and the observer noted the time",
    4L -> "and the weather stayed calm the entire quiet evening there",
    5L -> "quantum chromodynamics and the lattice the gauge the field",
    6L -> "the aardwolf and the aardvark share the letter the prefix",
    7L -> "the gauge field and the lattice spacing govern the theory",
    8L -> "the and the and the and the and the and",
    9L -> "observer effects and the measurement the problem the core",
    10L -> "prefix trees and the suffix arrays the index the text")

  /** A shared common term, rare discriminative terms, and length spread —
    * enough to exercise idf, saturation, and length normalization together.
    */
  def lengthSpread(spark: SparkSession): DataFrame = docs(spark,
    1L -> "spark shuffle exchange partition spark spark",
    2L -> "spark catalyst optimizer rule rewrite plan cost model join order",
    3L -> "shuffle shuffle shuffle shuffle shuffle shuffle shuffle shuffle",
    4L -> "partition pruning at the scan keeps io down spark",
    5L -> "an entirely unrelated recipe for bread flour water salt yeast",
    6L -> "catalyst expression codegen stage fusion spark plan")
}
