package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
  * the standard way to combine heterogeneous retrieval lists (BM25 +
  * dense ANN = "hybrid search") without score calibration: only RANKS
  * cross lists, so a 2^20-scaled BM25 integer and a cosine double fuse
  * without ever being compared.
  *
  *   rrf(d) = Σ_lists 1 / (k0 + rank_list(d))
  *
  * here as exact integers: each contribution is 2^16 div (k0 + rank)
  * — non-negative floor division, so Spark's `div` and a replaying
  * engine's `//` agree term by term, and the sum is an int64 a second
  * engine reproduces bit-for-bit.
  *
  * Scale shape: the inputs are ALREADY per-query bounded (each
  * retriever emitted ≤ k rows per query), so everything here runs on
  * the ≤ |queries|·lists·k relation: one (query, doc) aggregation,
  * then a per-query window over ≤ lists·k rows. Inputs that arrive
  * hash-partitioned by query (q177's retrievers) need no (query, doc)
  * shuffle: query_id partitioning already clusters the aggregation. The corpus was only touched by the upstream
  * retrievers — fusion never sees it.
  */
object Rrf {

  /** @param rankings per-list (query_id, doc_id, rank) relations,
    *                 rank 1-based within (list, query)
    * @param k0       the RRF constant (60 in the paper)
    * @param topK     fused results kept per query
    * @return (query_id, rank, doc_id, rrf_fix, n_lists) — rank re-drawn
    *         from the fused order (rrf desc, doc_id), rrf_fix 2^16
    */
  def fuse(rankings: Seq[DataFrame], k0: Long = 60L, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k0 >= 1 && topK >= 1, s"k0/topK must be >= 1, got $k0/$topK")
    val tagged = rankings
      .map(_.select(col("query_id").cast("long").as("query_id"),
        col("doc_id").cast("long").as("doc_id"),
        col("rank").cast("long").as("rank")))
      .reduce(_ unionByName _)
    val scored = tagged
      .withColumn("__c", expr(s"${1L << 16}L div (${k0}L + rank)"))
      .groupBy("query_id", "doc_id")
      .agg(sum("__c").as("rrf_fix"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_fix").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "rank", "doc_id", "rrf_fix", "n_lists")
  }
}
