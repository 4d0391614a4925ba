package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer (SentencePiece-style) — the Viterbi complement
  * to [[Bpe]]: where BPE tokenizes by replaying trained merges, the
  * unigram tokenizer covers each word with the min-total-cost set of
  * vocabulary pieces (costs = fixed-point −log₂ p). Kernel semantics
  * and the exactness story live in
  * [[graft.functions.UnigramKernel]]; q123 gates the encode against a
  * recursive-CTE DP replay in DuckDB.
  */
object Unigram {

  /** Tokenize `textCol` word-by-word with Viterbi segmentation. Output:
    * (original columns…, widx, tidx, token) — one row per piece, the
    * [[Bpe.encode]] shape. Pure narrow map + explode: no shuffle; the
    * vocabulary is built once per JVM from its piece list.
    */
  def encode(df: DataFrame, textCol: String, pieces: Seq[(String, Long)],
      unkCost: Long): DataFrame = {
    val words = df.withColumn("__ws", Decontaminate.wordTokens(col(textCol)))
      .select(col("*"), posexplode(col("__ws")).as(Seq("widx", "__word")))
      .drop("__ws")
    words
      .withColumn("__toks", graft.functions.UnigramExprs.unigramEncode(
        col("__word"), pieces, unkCost))
      .select(col("*"), posexplode(col("__toks")).as(Seq("tidx", "token")))
      .drop("__toks", "__word")
  }

  /** Derive piece costs from corpus counts — the artifact-building half
    * for callers without a trained SentencePiece model: every substring
    * of length ≤ `maxPieceLen` occurring ≥ `minCount` times becomes a
    * piece with cost −log₂(cnt / total) in 16.16 fixed point via the
    * exact integer binary log ([[graft.functions.FixedLogExprs]] —
    * probability floored to 2⁻³⁰ granularity first, the
    * [[Scrub.weightedSample]] discipline, so costs are engine-stable;
    * exact while cnt < 2³³, the log2fix multiply bound). One corpus
    * shuffle (substring counts, map-side combined); the returned
    * relation is the bounded vocabulary artifact — persist it as
    * parquet like the BPE merge table (q112) and feed `collect`ed
    * pairs to [[encode]].
    *
    * This is frequency-proportional costing, not the SentencePiece EM
    * fit — the right first-order weights, and exactly reproducible.
    */
  def pieceCosts(df: DataFrame, textCol: String, maxPieceLen: Int,
      minCount: Long): DataFrame = {
    val words = df.select(explode(Decontaminate.wordTokens(col(textCol))).as("__w"))
    // all codepoint substrings of length 1..maxPieceLen per word
    val subs = words
      .select(explode(sequence(lit(1), least(lit(maxPieceLen), length(col("__w")))))
        .as("__l"), col("__w"))
      .select(col("__l"), col("__w"),
        explode(sequence(lit(1), length(col("__w")) - col("__l") + 1)).as("__s"))
      .select(expr("substring(__w, __s, __l)").as("piece"))
    val counts = subs.groupBy("piece").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val total = counts.agg(sum("cnt").as("__tot"))
    counts.crossJoin(broadcast(total))
      .withColumn("__p30", expr("(cnt * 1073741824L) div __tot"))
      .withColumn("cost",
        -graft.functions.FixedLogExprs.log2fix(col("__p30"), 30, 16))
      .select("piece", "cnt", "cost")
  }
}
