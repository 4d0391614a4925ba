package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The probe engine behind [[Lexical]] retrieval (both scorings,
  * [[TfIdf]] and [[Bm25]]): top-k documents per query under any score of
  * the form
  *
  *   score(q, d) = Σ_{t ∈ q ∩ d}  v(t, d) · w(t)
  *
  * where `v` is an integer DOC-side value per posting (tf for TF-IDF;
  * the fixed-point saturated-tf factor for BM25) and `w` an integer
  * QUERY-vocabulary term weight (the ln-free idf). Everything here is
  * exact int64 arithmetic, so whichever strategy runs, results
  * hash-match a SQL oracle bit-for-bit.
  *
  * Scale shape (corpus ~100 TB, query set ~thousands): the value
  * postings arrive from ONE corpus shuffle built by the caller; query
  * terms broadcast; the postings side never reshuffles for the probe;
  * per-(query, doc) scores feed the bounded-heap
  * [[graft.plans.TopKPerKey]] operator — never a global sort, never
  * the full score matrix.
  *
  * Strategies (spec-asserted row-identical to [[naive]]):
  *
  *  - [[dense]]: docs reduce to sorted (vocab-idx, v) pair arrays over
  *    the query vocabulary, queries broadcast as sorted (vocab-idx, w)
  *    arrays, each (doc, query) score is one codegen'd two-pointer
  *    merge ([[graft.functions.VectorExprs.sparseDotLong]]). The Q×N
  *    score matrix is computed but never shuffled, sorted, or
  *    hash-aggregated — right when the query vocabulary is small
  *    enough that bound pruning cannot fire (templated/synthetic text).
  *  - [[tiered]]: the term-at-a-time form of Broder et al.'s WAND
  *    pruning. Terms split rare/common; phase A scores docs on rare
  *    terms only; B_q = Σ_{t ∈ q, common} u(t) (with u(t) an upper
  *    bound on v·w for any doc) bounds what common terms can add to
  *    ANY doc; θ_q = k-th best rare score. Since contributions are
  *    ≥ 0: the final k-th best ≥ θ_q, a doc with s_rare + B_q < θ_q
  *    can never reach top-k, and a doc matching no rare term tops out
  *    at B_q — so when B_q < θ_q strictly, only surviving rare-matched
  *    candidates need their common-term completion, computed by
  *    joining the candidates' OWN postings (small) instead of fanning
  *    common postings across queries (the 115×-at-10×-data shape,
  *    SCALING.md §8). Queries where the bound is inconclusive
  *    (B_q ≥ θ_q — a tie could still enter top-k via the doc_id
  *    tie-break — or fewer than k rare matches) fall back to the
  *    one-tier probe: exact by construction, rare because idf makes
  *    common terms weigh little.
  *
  * Relation contracts (column names are the API):
  *  - `vPost`  — (term, doc_id, v): integer doc-side posting values,
  *    already pruned to the query vocabulary (pruning cannot change
  *    df of surviving terms, so caller stats stay full-corpus exact);
  *  - `stats`  — (term, __df, __vmax, __w, __n): query-vocab-sized →
  *    broadcastable by the same contract that broadcasts the query
  *    terms themselves;
  *  - `qTerms` — (query_id, term), distinct per query.
  */
private[similarity] object LexicalProbe {

  def finish(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerKey.topK(scored, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.Sort("score", descending = true),
        graft.plans.TopKPerKey.Sort("doc_id")), k)

  /** One-tier reference probe: fan every query term across the pruned
    * posting list. The executable spec of the semantics — and the
    * fallback tier — but exactly quadratic when the query set grows
    * with the corpus.
    */
  def naive(vPost: DataFrame, qTerms: DataFrame, stats: DataFrame,
      k: Int): DataFrame = {
    val scored = vPost
      .join(broadcast(stats.select("term", "__w")), Seq("term"))
      .join(broadcast(qTerms), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("v") * col("__w")).as("score"))
    finish(scored, k)
  }

  /** Dense vocab-indexed probe (see object doc). */
  def dense(vPost: DataFrame, qTerms: DataFrame, stats: DataFrame,
      k: Int): DataFrame = {
    // (term → dense idx) over the query vocabulary: ≤ caller's vocab
    // bound rows, so the single-partition ordering window is a bounded
    // driver-scale sort, not a corpus one. Indexing the query terms, not
    // the stats, keeps the doc side off the stats: a doc side that read
    // only the stats' terms would plan a tf-free copy of the postings.
    val idx = qTerms.select("term").distinct()
      .withColumn("__idx",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("term")) - 1).cast(IntegerType))
    val docVecs = vPost.join(broadcast(idx), Seq("term"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("__idx"), col("v")))).as("__p"))
      .select(col("doc_id"),
        transform(col("__p"), p => p.getField("__idx")).as("__di"),
        transform(col("__p"), p => p.getField("v").cast(LongType)).as("__dv"))
    val qVecs = qTerms.join(broadcast(idx), Seq("term"))
      .join(broadcast(stats.select("term", "__w")), Seq("term"))
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("__idx"), col("__w")))).as("__p"))
      .select(col("query_id"),
        transform(col("__p"), p => p.getField("__idx")).as("__qi"),
        transform(col("__p"), p => p.getField("__w")).as("__qw"))
    val scored = docVecs.crossJoin(broadcast(qVecs))
      .select(col("query_id"), col("doc_id"),
        graft.functions.VectorExprs.sparseDotLong(
          col("__di"), col("__dv"), col("__qi"), col("__qw")).as("score"))
      // -1 sentinel = no shared term: that pair does not exist in the
      // inner-join semantics of the reference formulation
      .filter(col("score") >= 0)
    finish(scored, k)
  }

  /** Two-tier bound-pruned probe (see object doc). A term is common when
    * its df exceeds both `commonDfShare` of the corpus and `minCommonDf`;
    * u = w·vmax upper-bounds any doc's contribution from that term.
    */
  def tiered(vPost: DataFrame, qTerms: DataFrame, termStats: DataFrame,
      k: Int, commonDfShare: Double, minCommonDf: Long): DataFrame = {
    val stats = termStats
      .withColumn("__common",
        col("__df") > greatest(col("__n") * lit(commonDfShare), lit(minCommonDf)))
      .withColumn("__u", col("__w") * col("__vmax"))
      .select("term", "__w", "__common", "__u")
    val wPost = vPost.join(broadcast(stats), Seq("term"))

    // ---- phase A: rare-term fan-out (bounded by construction) ----
    val sRare = wPost.filter(!col("__common"))
      .join(broadcast(qTerms), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("v") * col("__w")).as("__s_rare"))

    // per-query upper bound on what common terms can add to any doc
    val bounds = qTerms
      .join(broadcast(stats.filter(col("__common"))), Seq("term"))
      .groupBy("query_id").agg(sum(col("__u")).as("__bound"))

    // θ_q = k-th best rare score (min over the rare top-k rows)
    val theta = graft.plans.TopKPerKey.topK(sRare, Seq("query_id"),
        Seq(graft.plans.TopKPerKey.Sort("__s_rare", descending = true),
          graft.plans.TopKPerKey.Sort("doc_id")), k)
      .groupBy("query_id")
      .agg(min("__s_rare").as("__theta"), count(lit(1)).as("__cnt"))

    // classify queries: safe ⇔ k rare matches exist AND the common
    // bound is STRICTLY below θ
    val qInfo = qTerms.select("query_id").distinct()
      .join(theta, Seq("query_id"), "left")
      .join(bounds, Seq("query_id"), "left")
      .withColumn("__bound", coalesce(col("__bound"), lit(0L)))
      .withColumn("__safe",
        col("__cnt").isNotNull && col("__cnt") === lit(k) &&
          col("__theta") > col("__bound"))
    val safeQ = qInfo.filter(col("__safe"))
      .select("query_id", "__theta", "__bound")
    val fallbackQ = qInfo.filter(!col("__safe")).select("query_id")

    // candidates: rare-matched docs that could still reach top-k
    // (≥ keeps bound-ties — a superset is exact, a subset would not be)
    val cand = sRare.join(broadcast(safeQ), Seq("query_id"))
      .filter(col("__s_rare") + col("__bound") >= col("__theta"))
      .select("query_id", "doc_id", "__s_rare")

    // ---- completion: common-term contribution of candidates only ----
    // join direction matters: candidates' own postings (|cand| × ~terms
    // per doc) — never common postings × queries (the 115× shape)
    val commonPost = wPost.filter(col("__common"))
      .select(col("term"), col("doc_id"), (col("v") * col("__w")).as("__c"))
    val qtCommon = qTerms
      .join(broadcast(stats.filter(col("__common")).select("term")), Seq("term"))
    val sCommon = commonPost
      .join(cand.select("query_id", "doc_id"), Seq("doc_id"))
      .join(broadcast(qtCommon), Seq("query_id", "term"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__c")).as("__s_common"))
    val safeScored = cand
      .join(sCommon, Seq("query_id", "doc_id"), "left")
      .withColumn("score",
        col("__s_rare") + coalesce(col("__s_common"), lit(0L)))
      .select("query_id", "doc_id", "score")

    // ---- fallback: one-tier probe for the inconclusive queries ----
    val qtFall = qTerms.join(broadcast(fallbackQ), Seq("query_id"))
    val fallScored = wPost.join(broadcast(qtFall), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("v") * col("__w")).as("score"))

    finish(safeScored, k).unionByName(finish(fallScored, k))
  }
}
