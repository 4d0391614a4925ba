package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.text.Decontaminate

/** Inverted-index TF-IDF text retrieval: top-k documents per query by
  * Σ_{t ∈ q ∩ d} tf_d(t) · idf(t) — the lexical-search complement of the
  * embedding ANN tiers in [[Ann]] (BM25's shape without the length
  * normalization — see [[Bm25]] for the full Okapi form; the idf is the
  * RSJ/BM25 one sans log, which preserves its ordering).
  *
  * Exactness across engines: idf is kept LN-FREE and fixed-point —
  * `w(t) = floor((N − df + ½)/(df + ½) · 2²⁰)` — because `x.5` values,
  * IEEE division, and a power-of-two scale are all exactly rounded the
  * same everywhere, so scores are exact int64 sums and the whole
  * operator hash-matches a SQL oracle bit-for-bit (transcendental `ln`
  * is the one piece two engines may round differently; a monotone
  * substitute keeps the RANKING identical to BM25-idf's).
  *
  * Probe machinery and the 100 TB scale shape live in [[LexicalProbe]]
  * (shared with [[Bm25]]): postings are built with ONE corpus shuffle,
  * query terms broadcast, and the probe is either dense vocab-indexed
  * scoring or the two-tier WAND bound-pruned form — measured at the 10×
  * bench scale, the pruning is what keeps retrieval linear in the
  * corpus (the one-tier form was 115× at 10× data, SCALING.md §8).
  */
object TfIdfSearch {

  /** Fixed-point scale: exact power of two (no rounding in the scale
    * multiply itself).
    */
  val Scale: Long = 1L << 20

  /** Terms in more than this share of corpus docs are "common": they are
    * bound-pruned, not fanned out per query. Any value is exact (the
    * bound logic is share-independent); the share only moves cost between
    * phase A (lower share → fewer rare terms to fan out, more queries at
    * risk of fallback) and the completion join.
    */
  val DefaultCommonDfShare: Double = 0.05

  /** Absolute df floor under which a term is never "common". At small
    * corpora a pure share cutoff classifies mid-frequency DISCRIMINATIVE
    * terms as common, inflating every query's bound until B_q ≥ θ_q and
    * the whole query set falls back; the floor pins "common" to
    * stopword-grade df there. Irrelevant at scale (share·N dominates).
    */
  val MinCommonDf: Long = 64L

  private def tok(textCol: String): Column =
    Decontaminate.wordTokens(col(textCol))

  /** Postings (term, doc_id, tf) — the single corpus shuffle. */
  private def buildPostings(corpus: DataFrame, textCol: String, idCol: String): DataFrame =
    corpus
      .select(col(idCol).cast(LongType).as("doc_id"),
        explode(tok(textCol)).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))

  private def qTermsOf(queries: DataFrame, textCol: String, qidCol: String): DataFrame =
    queries.select(col(qidCol).cast(LongType).as("query_id"),
      explode(array_distinct(tok(textCol))).as("term"))

  /** The ln-free fixed-point idf weight (see object doc). */
  private def idfW(n: Column, df: Column): Column =
    floor(((n - df + lit(0.5)) / (df + lit(0.5))) * lit(Scale.toDouble))
      .cast(LongType)

  /** Query vocabularies at or under this size take the DENSE tier:
    * small query vocab means the score matrix is cheap per pair and —
    * in the corpora where a small vocab arises (templated or synthetic
    * text) — dense enough that bound pruning cannot fire, so the Q×N
    * work is unavoidable and the win is doing it with ZERO wide
    * exchange. Large vocabs (real Zipfian text) take the two-tier
    * bound-pruned probe, which never materializes Q×N.
    */
  val DenseVocabMax: Long = 2048L

  /** Top-k corpus docs per query row. Queries carry (qidCol, textCol);
    * output: (query_id, doc_id, score) with score = Σ tf·w fixed-point
    * int64, ties broken by doc_id. Identical results to [[topKNaive]]
    * whichever strategy runs (spec-asserted); strategy choice is a COST
    * decision made from the query vocabulary size — one SMALL eager job
    * over the query set (contract: queries are the bounded side).
    */
  def topK(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int,
      commonDfShare: Double = DefaultCommonDfShare,
      minCommonDf: Long = MinCommonDf): DataFrame = {
    val vq = queries
      .select(explode(array_distinct(tok(textCol))).as("__t"))
      .agg(countDistinct(col("__t"))).head.getLong(0)
    if (vq <= DenseVocabMax)
      topKDense(corpus, queries, textCol, idCol, qidCol, k)
    else
      topKTiered(corpus, queries, textCol, idCol, qidCol, k,
        commonDfShare, minCommonDf)
  }

  /** Dense tier: vocab-indexed integer scoring ([[LexicalProbe.dense]]).
    * On the 31-term bench corpus this replaced a ~2·10⁹-row shuffle
    * aggregate (SCALING.md §8).
    */
  def topKDense(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int): DataFrame = {
    val postings = buildPostings(corpus, textCol, idCol)
    val qTerms = qTermsOf(queries, textCol, qidCol)
    val qVocab = qTerms.select("term").distinct()
    val n = corpus.select(count(lit(1)).as("__n"))
    val pruned = postings.join(broadcast(qVocab), Seq("term"))
    val stats = pruned.groupBy("term").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(n))
      .withColumn("__w", idfW(col("__n"), col("__df")))
      .select("term", "__w")
    LexicalProbe.dense(pruned.withColumnRenamed("tf", "v"), qTerms, stats, k)
  }

  /** Two-tier bound-pruned probe ([[LexicalProbe.tiered]]). Identical
    * results to [[topKNaive]] at every commonDfShare (spec-asserted);
    * the share is a COST knob.
    */
  def topKTiered(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int,
      commonDfShare: Double = DefaultCommonDfShare,
      minCommonDf: Long = MinCommonDf): DataFrame = {
    val postings = buildPostings(corpus, textCol, idCol)
    val qTerms = qTermsOf(queries, textCol, qidCol)
    val qVocab = qTerms.select("term").distinct()
    val n = corpus.select(count(lit(1)).as("__n"))

    // postings pruned to query vocabulary — term-pruning cannot change
    // how many docs contain a surviving term, so df/tfmax read off the
    // pruned relation are exactly the full-corpus values
    val pruned = postings.join(broadcast(qVocab), Seq("term"))

    // per-term stats: query-vocab-sized → broadcastable by the same
    // contract that broadcasts the query terms themselves. u = w·tfmax
    // upper-bounds any doc's contribution from that term.
    val stats = pruned.groupBy("term")
      .agg(count(lit(1)).as("__df"), max("tf").as("__tfmax"))
      .crossJoin(broadcast(n))
      .withColumn("__w", idfW(col("__n"), col("__df")))
      .withColumn("__common",
        col("__df") > greatest(col("__n") * lit(commonDfShare), lit(minCommonDf)))
      .withColumn("__u", col("__w") * col("__tfmax"))
      .select("term", "__w", "__common", "__u")

    LexicalProbe.tiered(pruned.withColumnRenamed("tf", "v"), qTerms, stats, k)
  }

  /** The one-tier reference formulation (what [[topK]] must equal —
    * SearchOpsSpec asserts row-for-row equality across commonDfShare
    * settings). Kept public as the executable spec of the semantics; it
    * fans every query term across the full posting list, which is
    * exactly quadratic when the query set grows with the corpus.
    */
  def topKNaive(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int): DataFrame = {
    val postings = buildPostings(corpus, textCol, idCol)
    val qTerms = qTermsOf(queries, textCol, qidCol)
    val qVocab = qTerms.select("term").distinct()
    val n = corpus.select(count(lit(1)).as("__n"))
    val pruned = postings.join(broadcast(qVocab), Seq("term"))
    val stats = pruned
      .withColumn("__df", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("term")))
      .select("term", "__df").distinct()
      .crossJoin(broadcast(n))
      .withColumn("__w", idfW(col("__n"), col("__df")))
      .select("term", "__w")
    LexicalProbe.naive(pruned.withColumnRenamed("tf", "v"), qTerms, stats, k)
  }
}
