package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.text.Decontaminate

/** Exact-integer lexical top-k retrieval: the top-k corpus documents per
  * query under
  *
  *   score(q, d) = Σ_{t ∈ q ∩ d}  v(t, d) · w(t)
  *
  * One postings build, one stats build, one idf and one probe dispatch
  * serve two scorings, which differ only in data:
  *
  *  - [[TfIdf]]: v = tf, idf uncapped, postings keyed (term, doc_id);
  *  - [[Bm25]]: v = Okapi BM25's saturated, LENGTH-NORMALIZED tf
  *    (k1 = 1.2, b = 0.75) in fixed point, idf capped at [[Bm25.IdfCap]],
  *    postings keyed (term, doc_id, __dl).
  *
  * Exactness across engines — the whole score is integer:
  *  - idf is ln-free and fixed-point,
  *    `w(t) = floor((N − df + ½)/(df + ½) · 2²⁰)`: `x.5` values, IEEE
  *    division and a power-of-two scale are exactly rounded the same
  *    everywhere (transcendental `ln` is the one piece two engines may
  *    round differently), and the weight is monotone in the BM25 idf, so
  *    the RANKING is BM25-idf's while scores are exact int64 sums that
  *    hash-match a SQL oracle bit-for-bit;
  *  - BM25's avgdl is pre-floored to `adl = max(1, tot DIV N)`, so the
  *    normalized length `L = (dl·1024) DIV adl` is one bounded integer
  *    division (never `dl·N/tot`, whose product overflows int64 on a long
  *    doc in a 10¹¹-doc corpus — `dl·1024 ≤ 2⁴⁰` always fits);
  *  - with k1 = 6/5 and b = 3/4, multiplying sat's numerator and
  *    denominator by 10240 = 10·1024 clears every fraction:
  *    `sat = (22528·tf·2¹⁴) DIV (10240·tf + 3072 + 9·L)`, an exact floor
  *    division in both engines, value ≤ ⌈(k1+1)·2¹⁴⌉ < 2¹⁶. With the idf
  *    capped at 2⁴⁰ (terms rarer than ~1 in 2²⁰ docs all weigh the same —
  *    Lucene's idf ceiling) a per-term product is < 2⁵⁶, and even a
  *    64-term query sums inside int64 at ANY corpus size.
  *
  * Scale shape: ONE corpus shuffle builds the postings (BM25's doc length
  * rides the group key, so the corpus is tokenized once and never
  * re-joined for lengths); the scalar (N, tot) aggregates are
  * map-side-combined; query terms broadcast; the probe is
  * [[LexicalProbe]]'s dense vocab-indexed tier or its two-tier WAND
  * bound-pruned tier — measured at the 10× bench scale, the pruning is
  * what keeps retrieval linear in the corpus (the one-tier form was 115×
  * at 10× data, SCALING.md §8).
  *
  * The index artifact ([[index]], [[Lexical.mergeIndex]],
  * [[topKFromIndex]]) is the raw postings plus the raw scalars
  * (__n [, __tot]): v and w derive at query time because both depend on
  * the global N (and avgdl), which change under merge — the
  * incremental-maintenance path for a corpus whose index grows by ingest
  * deltas, history never re-tokenized.
  */
sealed abstract class Lexical {
  import Lexical._

  /** The posting value v, over the postings' (tf [, __dl]) and the
    * scalars' (__n [, __tot]).
    */
  protected def value: Column

  /** An upper bound on the idf weight, if the scoring needs one. */
  protected def idfCap: Option[Long]

  /** v reads doc length: postings key on __dl and scalars carry __tot. */
  protected def docLength: Boolean

  /** Postings (term, doc_id [, __dl], tf) — the single corpus shuffle;
    * doc length rides the group key (constant per doc) instead of a
    * second tokenize + re-join.
    */
  private def postingsOf(corpus: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keys = if (docLength) Seq("term", "doc_id", "__dl") else Seq("term", "doc_id")
    corpus
      .select(col(idCol).cast(LongType).as("doc_id"), tok(textCol).as("__ws"))
      .select(col("doc_id"), size(col("__ws")).cast(LongType).as("__dl"),
        explode(col("__ws")).as("term"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("tf"))
  }

  /** RAW scalar relation, one row: __n docs (every corpus row counts —
    * zero-token docs lengthen nothing but are documents) and, when v
    * reads doc length, __tot tokens = Σ tf off the postings (no second
    * tokenize). Raw counts rather than the derived avgdl are what the
    * mergeable index stores: counts add across parts, a pre-floored
    * average would not.
    */
  private def scalarsOf(corpus: DataFrame, postings: DataFrame): DataFrame = {
    val n = corpus.select(count(lit(1)).as("__n"))
    if (!docLength) n
    else postings.agg(coalesce(sum("tf"), lit(0L)).as("__tot")).crossJoin(n)
      .select("__n", "__tot")
  }

  /** The ln-free fixed-point idf weight (see class doc). */
  private def idfW(n: Column, df: Column): Column = {
    val w = floor(((n - df + lit(0.5)) / (df + lit(0.5))) * lit(Scale.toDouble)).cast(LongType)
    idfCap.fold(w)(cap => least(w, lit(cap)))
  }

  /** The probe inputs ([[LexicalProbe]]'s relation contracts): value
    * postings (term, doc_id, v) pruned to the query vocabulary, query
    * terms, and per-term stats (term, __df, __vmax, __w, __n).
    */
  private def prep(postings: DataFrame, scalars: DataFrame, queries: DataFrame,
      textCol: String, qidCol: String): (DataFrame, DataFrame, DataFrame) = {
    val qTerms = queries.select(col(qidCol).cast(LongType).as("query_id"),
      explode(array_distinct(tok(textCol))).as("term"))
    // prune BEFORE valuing: term-pruning cannot change df or dl of the
    // surviving postings, so stats stay full-corpus exact — but tot
    // (inside scalars) counts the UNPRUNED postings
    val pruned = postings.join(broadcast(qTerms.select("term").distinct()), Seq("term"))
    // when v reads the scalars, __n rides the valued postings into the
    // stats: read alone, it would come from a copy of the (n, tot) scalars
    // whose sum(tf) column pruning empties, and Catalyst would tokenize
    // and explode the corpus again under that empty aggregate
    val n = if (docLength) Seq(col("__n")) else Nil
    val valued = (if (docLength) pruned.crossJoin(broadcast(scalars)) else pruned)
      .select(Seq(col("term"), col("doc_id"), value.as("v")) ++ n: _*)
    // every v is >= 0, so count_if(v >= 0) is df; unlike count(1) (or
    // count(v), which the optimizer rewrites to it) it reads v, so the
    // stats read the same postings aggregate as the probe and AQE replays
    // ONE postings shuffle for both instead of a tf-free copy
    val perTerm = valued.groupBy("term").agg(count_if(col("v") >= 0).as("__df"),
      max("v").as("__vmax") +: n.map(max(_).as("__n")): _*)
    val stats = (if (docLength) perTerm else perTerm.crossJoin(broadcast(scalars)))
      .withColumn("__w", idfW(col("__n"), col("__df")))
    (valued.select("term", "doc_id", "v"), qTerms, stats)
  }

  private def prep(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String): (DataFrame, DataFrame, DataFrame) = {
    val (postings, scalars) = index(corpus, textCol, idCol)
    prep(postings, scalars, queries, textCol, qidCol)
  }

  /** Mergeable inverted-index artifact: (postings, raw scalars). Persist
    * both as parquet; [[Lexical.mergeIndex]] + [[topKFromIndex]] then
    * serve queries without re-tokenizing history.
    */
  def index(corpus: DataFrame, textCol: String, idCol: String): (DataFrame, DataFrame) = {
    val postings = postingsOf(corpus, textCol, idCol)
    (postings, scalarsOf(corpus, postings))
  }

  /** Top-k corpus docs per query row. Queries carry (qidCol, textCol);
    * output (query_id, doc_id, score), ties broken by doc_id. Identical
    * results to [[topKNaive]] whichever tier runs (spec-asserted).
    */
  def topK(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int): DataFrame = {
    val (postings, scalars) = index(corpus, textCol, idCol)
    topKFromIndex(postings, scalars, queries, textCol, qidCol, k)
  }

  /** [[topK]] served from a prebuilt (possibly merged) index artifact —
    * identical results to building from the corpus, with history's
    * tokenize + postings shuffle replaced by a parquet scan.
    *
    * The tier is a COST decision made from the query vocabulary size —
    * one SMALL eager job over the query set (contract: queries are the
    * bounded side). A small vocabulary arises in templated or synthetic
    * text, where the score matrix is dense enough that bound pruning
    * cannot fire: the Q×N work is unavoidable and the win is doing it
    * with ZERO wide exchange. Large vocabularies (real Zipfian text) take
    * the two-tier bound-pruned probe, which never materializes Q×N.
    */
  def topKFromIndex(postings: DataFrame, scalars: DataFrame, queries: DataFrame,
      textCol: String, qidCol: String, k: Int): DataFrame = {
    val vq = queries
      .select(explode(array_distinct(tok(textCol))).as("__t"))
      .agg(countDistinct(col("__t"))).head.getLong(0)
    val (vPost, qTerms, stats) = prep(postings, scalars, queries, textCol, qidCol)
    if (vq <= DenseVocabMax) LexicalProbe.dense(vPost, qTerms, stats, k)
    else LexicalProbe.tiered(vPost, qTerms, stats, k, DefaultCommonDfShare, MinCommonDf)
  }

  /** Dense tier ([[LexicalProbe.dense]]). */
  def topKDense(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int): DataFrame = {
    val (vPost, qTerms, stats) = prep(corpus, queries, textCol, idCol, qidCol)
    LexicalProbe.dense(vPost, qTerms, stats, k)
  }

  /** Two-tier bound-pruned tier ([[LexicalProbe.tiered]]). Identical
    * results to [[topKNaive]] at every commonDfShare (spec-asserted): the
    * share and the df floor are COST knobs.
    */
  def topKTiered(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int,
      commonDfShare: Double = DefaultCommonDfShare,
      minCommonDf: Long = MinCommonDf): DataFrame = {
    val (vPost, qTerms, stats) = prep(corpus, queries, textCol, idCol, qidCol)
    LexicalProbe.tiered(vPost, qTerms, stats, k, commonDfShare, minCommonDf)
  }

  /** The one-tier reference formulation ([[LexicalProbe.naive]]) — the
    * executable spec of the semantics that every tier must equal. It fans
    * every query term across the full posting list, which is exactly
    * quadratic when the query set grows with the corpus.
    */
  def topKNaive(corpus: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qidCol: String, k: Int): DataFrame = {
    val (vPost, qTerms, stats) = prep(corpus, queries, textCol, idCol, qidCol)
    LexicalProbe.naive(vPost, qTerms, stats, k)
  }
}

/** TF-IDF: Σ tf · idf — BM25's shape without saturation or length
  * normalization.
  */
object TfIdf extends Lexical {
  override def toString: String = "tf-idf"
  protected def value: Column = col("tf")
  protected def idfCap: Option[Long] = None
  protected def docLength: Boolean = false
}

/** Okapi BM25 in integer fixed point (see [[Lexical]]):
  *
  *   sat(t, d) = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * doubling a doc's length without adding information lowers its
  * per-term saturation, and repeated terms see diminishing returns.
  */
object Bm25 extends Lexical {

  /** sat fixed-point scale. */
  val SatScale: Long = 1L << 14

  /** idf ceiling: terms rarer than ~1 in 2²⁰ docs all weigh the same.
    * Keeps idf·sat·|q| inside int64 at any corpus size (2²⁰·2²⁰ · 2¹⁶
    * · 2⁶ = 2⁶²) without changing any bench-scale ranking (the cap
    * binds only when N > 2²⁰·df).
    */
  val IdfCap: Long = (1L << 20) * Lexical.Scale

  // sat = tf·(k1+1) / (tf + k1(1−b) + k1·b·L/1024), k1 = 6/5, b = 3/4,
  // numerator and denominator ×10240: constants below.
  private val Num = 22528L   // 11·2048    = (k1+1)·10240 / tf-coefficient
  private val DenTf = 10240L // 10·1024
  private val DenC = 3072L   // 3·1024     = k1(1−b)·10240
  private val DenL = 9L      //            = k1·b·10240 / 1024

  override def toString: String = "bm25"
  protected def value: Column = expr(s"($Num * tf * $SatScale) div " +
    s"($DenTf * tf + $DenC + $DenL * ((__dl * 1024) div greatest(1L, __tot div __n)))")
  protected def idfCap: Option[Long] = Some(IdfCap)
  protected def docLength: Boolean = true
}

object Lexical {

  /** idf fixed-point scale: exact power of two (no rounding in the scale
    * multiply itself).
    */
  val Scale: Long = 1L << 20

  /** Query vocabularies at or under this size take the dense tier (see
    * `topKFromIndex`).
    */
  val DenseVocabMax: Long = 2048L

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

  /** Merge index artifacts of DISJOINT doc sets: postings union as-is
    * (each doc's rows live in exactly one part), scalar counts add —
    * merge(index(A), index(B)) == index(A ∪ B) exactly, the
    * [[graft.ops.Profile]] artifact-algebra law.
    */
  def mergeIndex(parts: Seq[(DataFrame, DataFrame)]): (DataFrame, DataFrame) = {
    val postings = parts.map(_._1).reduce(_ unionByName _)
    val scalars = parts.map(_._2).reduce(_ unionByName _)
    val sums = scalars.columns.toSeq.map(c => sum(c).as(c))
    (postings, scalars.agg(sums.head, sums.tail: _*))
  }
}
