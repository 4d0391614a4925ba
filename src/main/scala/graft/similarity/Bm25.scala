package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.text.Decontaminate

/** Okapi BM25 top-k retrieval, all-integer fixed point:
  *
  *   score(q, d) = Σ_{t ∈ q ∩ d}  idf(t) · sat(t, d)
  *   sat(t, d)   = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * with the classic k1 = 1.2, b = 0.75. This is [[TfIdfSearch]] plus the
  * piece that matters on real corpora: the saturated, LENGTH-NORMALIZED
  * tf — doubling a doc's length without adding information halves its
  * per-term saturation, and repeated terms see diminishing returns.
  *
  * Exactness across engines — the whole score is integer:
  *  - idf is the same ln-free fixed-point weight as [[TfIdfSearch]]
  *    (`floor((N − df + ½)/(df + ½) · 2²⁰)` — monotone in the BM25 idf,
  *    exactly-rounded IEEE ops only);
  *  - `avgdl` is pre-floored to `adl = max(1, tot DIV N)` so the
  *    normalized length `L = (dl·1024) DIV adl` is one bounded integer
  *    division (never `dl·N/tot`, whose product overflows int64 on a
  *    long doc in a 10¹¹-doc corpus — `dl·1024 ≤ 2⁴⁰` always fits);
  *  - with k1 = 6/5 and b = 3/4, multiplying sat's numerator and
  *    denominator by 10240 = 10·1024 clears every fraction:
  *    `sat = (22528·tf·2¹⁴) DIV (10240·tf + 3072 + 9·L)` — exact
  *    integer floor division in both engines, value ≤ ⌈(k1+1)·2¹⁴⌉.
  *  Bounds: sat < 2.2·2¹⁴ < 2¹⁶ and idf is capped at [[IdfCap]] = 2⁴⁰
  *  (terms rarer than ~1-in-2²⁰ docs all weigh the same — the same
  *  move as Lucene's idf ceiling), so a per-term product is < 2⁵⁶ and
  *  even a 64-term query sums inside int64 at ANY corpus size.
  *
  * Scale shape: identical to [[TfIdfSearch]] — ONE corpus shuffle
  * builds (term, doc_id, tf, dl) postings (dl rides the explode, so
  * the corpus is tokenized once and never re-joined for lengths); the
  * scalar (N, tot) aggregate is map-side-combined; probe strategies
  * come from [[LexicalProbe]] (dense vocab-indexed vs two-tier WAND
  * bound-pruning with u(t) = idf(t)·satmax(t)).
  */
object Bm25 {

  /** idf fixed-point scale (power of two — exact multiply). */
  val Scale: Long = 1L << 20

  /** sat fixed-point scale. */
  val SatScale: Long = 1L << 14

  /** idf ceiling: terms rarer than ~1 in 2²⁰ docs all weigh the same.
    * Keeps idf·sat·|q| inside int64 at any corpus size (2²⁰·2²⁰ · 2¹⁶
    * · 2⁶ = 2⁶²) without changing any bench-scale ranking (the cap
    * binds only when N > 2²⁰·df).
    */
  val IdfCap: Long = (1L << 20) * Scale

  // sat = tf·(k1+1) / (tf + k1(1−b) + k1·b·L/1024), k1 = 6/5, b = 3/4,
  // numerator and denominator ×10240: constants below.
  private val Num = 22528L   // 11·2048    = (k1+1)·10240 / tf-coefficient
  private val DenTf = 10240L // 10·1024
  private val DenC = 3072L   // 3·1024     = k1(1−b)·10240
  private val DenL = 9L      //            = k1·b·10240 / 1024

  private def tok(textCol: String): Column =
    Decontaminate.wordTokens(col(textCol))

  /** (term, doc_id, tf, __dl) — the single corpus shuffle; doc length
    * rides the group key (constant per doc) instead of a second
    * tokenize + re-join.
    */
  private def buildPostings(corpus: DataFrame, textCol: String, idCol: String): DataFrame =
    corpus
      .select(col(idCol).cast(LongType).as("doc_id"), tok(textCol).as("__ws"))
      .select(col("doc_id"), size(col("__ws")).cast(LongType).as("__dl"),
        explode(col("__ws")).as("term"))
      .groupBy("term", "doc_id", "__dl")
      .agg(count(lit(1)).as("tf"))

  private def qTermsOf(queries: DataFrame, textCol: String, qidCol: String): DataFrame =
    queries.select(col(qidCol).cast(LongType).as("query_id"),
      explode(array_distinct(tok(textCol))).as("term"))

  private def idfW(n: Column, df: Column): Column =
    least(floor(((n - df + lit(0.5)) / (df + lit(0.5))) * lit(Scale.toDouble))
      .cast(LongType), lit(IdfCap))

  /** Saturated-tf posting values: (term, doc_id, v). `scalars` is the
    * broadcast 1-row (__adl) relation.
    */
  private def satPostings(pruned: DataFrame, scalars: DataFrame): DataFrame =
    pruned.crossJoin(broadcast(scalars))
      .withColumn("__L", expr("(__dl * 1024) div __adl"))
      .withColumn("v", expr(
        s"($Num * tf * $SatScale) div ($DenTf * tf + $DenC + $DenL * __L)"))
      .select("term", "doc_id", "v")

  /** RAW scalar relation: one row (__n docs, __tot tokens). N counts
    * every corpus row (zero-token docs lengthen nothing but do count
    * as documents); tot = Σ tf reads off the postings — no second
    * tokenize. Raw (n, tot) rather than the derived avgdl is what the
    * MERGEABLE index stores: counts add across parts, a pre-floored
    * average would not.
    */
  private def rawScalarsOf(corpus: DataFrame, postings: DataFrame): DataFrame =
    postings.agg(coalesce(sum("tf"), lit(0L)).as("__tot"))
      .crossJoin(corpus.select(count(lit(1)).as("__n")))
      .select("__n", "__tot")

  private def withAdl(raw: DataFrame): DataFrame =
    raw.withColumn("__adl",
        greatest(lit(1L), expr("__tot div __n")))
      .select("__n", "__adl")

  /** Mergeable inverted-index artifact: (postings, rawScalars) —
    * postings are the raw (term, doc_id, tf, __dl) relation (sat and
    * idf are DERIVED at query time because both depend on global
    * avgdl / N, which change under merge), rawScalars the 1-row
    * (__n, __tot). Persist both as parquet; [[mergeIndex]] +
    * [[topKFromIndex]] then serve queries without ever re-tokenizing
    * history — the incremental-maintenance path for a 100 TB corpus
    * whose index grows by ingest deltas.
    */
  def index(corpus: DataFrame, textCol: String, idCol: String)
      : (DataFrame, DataFrame) = {
    val postings = buildPostings(corpus, textCol, idCol)
    (postings, rawScalarsOf(corpus, postings))
  }

  /** Merge index artifacts of DISJOINT doc sets: postings union as-is
    * (each doc's rows live in exactly one part), scalar counts add —
    * merge(index(A), index(B)) == index(A ∪ B) exactly, the
    * [[graft.ops.Profile]] artifact-algebra law.
    */
  def mergeIndex(parts: Seq[(DataFrame, DataFrame)])
      : (DataFrame, DataFrame) = {
    val postings = parts.map(_._1).reduce(_ unionByName _)
    val scalars = parts.map(_._2).reduce(_ unionByName _)
      .agg(sum("__n").as("__n"), sum("__tot").as("__tot"))
    (postings, scalars)
  }

  /** [[topK]] served from a prebuilt (possibly merged) index artifact —
    * identical results to building from the corpus, with history's
    * tokenize + postings shuffle replaced by a parquet scan.
    */
  def topKFromIndex(postings: DataFrame, rawScalars: DataFrame,
      queries: DataFrame, textCol: String, qidCol: String, k: Int,
      commonDfShare: Double = TfIdfSearch.DefaultCommonDfShare,
      minCommonDf: Long = TfIdfSearch.MinCommonDf): DataFrame = {
    val (vPost, qTerms, stats) =
      prepFromIndex(postings, rawScalars, queries, textCol, qidCol)
    val vq = queries
      .select(explode(array_distinct(tok(textCol))).as("__t"))
      .agg(countDistinct(col("__t"))).head.getLong(0)
    if (vq <= TfIdfSearch.DenseVocabMax)
      LexicalProbe.dense(vPost, qTerms, stats.select("term", "__w"), k)
    else {
      val full = stats
        .withColumn("__common",
          col("__df") > greatest(col("__n") * lit(commonDfShare),
            lit(minCommonDf)))
        .withColumn("__u", col("__w") * col("__satmax"))
        .select("term", "__w", "__common", "__u")
      LexicalProbe.tiered(vPost, qTerms, full, k)
    }
  }

  /** Top-k corpus docs per query row by exact integer BM25; output
    * (query_id, doc_id, score), ties by doc_id. Identical results to
    * [[topKNaive]] whichever strategy runs (spec-asserted); selection
    * mirrors [[TfIdfSearch.topK]].
    */
  def topK(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int,
      commonDfShare: Double = TfIdfSearch.DefaultCommonDfShare,
      minCommonDf: Long = TfIdfSearch.MinCommonDf): DataFrame = {
    val vq = queries
      .select(explode(array_distinct(tok(textCol))).as("__t"))
      .agg(countDistinct(col("__t"))).head.getLong(0)
    if (vq <= TfIdfSearch.DenseVocabMax)
      topKDense(corpus, queries, textCol, idCol, qidCol, k)
    else
      topKTiered(corpus, queries, textCol, idCol, qidCol, k,
        commonDfShare, minCommonDf)
  }

  private def prep(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String): (DataFrame, DataFrame, DataFrame) = {
    val postings = buildPostings(corpus, textCol, idCol)
    prepFromIndex(postings, rawScalarsOf(corpus, postings), queries,
      textCol, qidCol)
  }

  private def prepFromIndex(postings: DataFrame, rawScalars: DataFrame,
      queries: DataFrame, textCol: String, qidCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val qTerms = qTermsOf(queries, textCol, qidCol)
    val qVocab = qTerms.select("term").distinct()
    // prune BEFORE sat: term-pruning cannot change df or dl of the
    // surviving postings, so stats stay full-corpus exact — but tot
    // (inside rawScalars) aggregates the UNPRUNED postings (every
    // token counts toward average length)
    val pruned = postings.join(broadcast(qVocab), Seq("term"))
    val scalars = withAdl(rawScalars)
    val vPost = satPostings(pruned, scalars.select("__adl"))
    val stats = vPost.groupBy("term")
      .agg(count(lit(1)).as("__df"), max("v").as("__satmax"))
      .crossJoin(broadcast(scalars.select("__n")))
      .withColumn("__w", idfW(col("__n"), col("__df")))
      .select("term", "__df", "__satmax", "__w", "__n")
    (vPost, qTerms, stats)
  }

  def topKDense(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int): DataFrame = {
    val (vPost, qTerms, stats) = prep(corpus, queries, textCol, idCol, qidCol)
    LexicalProbe.dense(vPost, qTerms, stats.select("term", "__w"), k)
  }

  def topKTiered(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int,
      commonDfShare: Double = TfIdfSearch.DefaultCommonDfShare,
      minCommonDf: Long = TfIdfSearch.MinCommonDf): DataFrame = {
    val (vPost, qTerms, stats) = prep(corpus, queries, textCol, idCol, qidCol)
    val full = stats
      .withColumn("__common",
        col("__df") > greatest(col("__n") * lit(commonDfShare), lit(minCommonDf)))
      .withColumn("__u", col("__w") * col("__satmax"))
      .select("term", "__w", "__common", "__u")
    LexicalProbe.tiered(vPost, qTerms, full, k)
  }

  /** One-tier reference formulation — the executable spec [[topK]]
    * must equal (Bm25Spec asserts row-for-row equality).
    */
  def topKNaive(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int): DataFrame = {
    val (vPost, qTerms, stats) = prep(corpus, queries, textCol, idCol, qidCol)
    LexicalProbe.naive(vPost, qTerms, stats.select("term", "__w"), k)
  }
}
