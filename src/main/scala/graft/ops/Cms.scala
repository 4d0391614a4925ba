package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch as a plain relation — the fourth member of the
  * mergeable sketch family (heavy hitters: `FreqItems`; distincts:
  * `Kmv`; quantiles: `Quantiles`; point frequencies: this). Answers
  * "how often did THIS key occur" for ANY key with depth×width bounded
  * state, always over-estimating (est ≥ exact, over-shoot ≤ ~N/width
  * per depth row, min over depth rows) — the summary a curation run
  * keeps per shard when the key universe (URLs, n-grams, doc hashes)
  * is too large to count exactly but point lookups must stay cheap.
  *
  * Representation: (depth, bucket, cnt) rows, ≤ depth·width of them.
  * Merging two runs is re-aggregation with sum — the same
  * no-special-operator artifact story as [[Quantiles]]: per-run
  * sketches persist as plain parquet and add exactly (q122 gates the
  * save → reload → merge → estimate path bit-for-bit).
  *
  * Determinism: bucket_j(key) = kmv_hash62("j:" ++ key) mod width —
  * the whole sketch is a pure multiset-function of the input, so the
  * same corpus yields byte-identical counters on any run, partitioning,
  * or engine (the oracle replays the polynomial+splitmix hash in
  * HUGEINT). The per-depth STRING re-hash trades d−1 extra polynomial
  * passes per row for reusing the one hash kernel both engines already
  * agree on; if profiling ever surfaces it, the `minhash_sig` mix
  * ([[graft.functions.HashKernels.minhashSig]]: one hash + d affine-xorshift remixes)
  * is the drop-in replacement — at the cost of a new SQL mirror.
  *
  * Scale shape: the sketch build is one map-side-combined groupBy —
  * tasks pre-aggregate to ≤ depth·width local rows, so a 10⁹-row
  * partition contributes thousands of rows to the only exchange; the
  * probe broadcast-joins the bounded sketch against the query keys and
  * never touches the corpus.
  */
object Cms {

  /** Per-depth bucket ids for a key, as (depth, bucket) rows-to-be
    * (posexplode the returned array).
    */
  private def buckets(key: Column, depth: Int, width: Int): Column =
    array((0 until depth).map(j =>
      pmod(graft.functions.Kmv.hash62(concat(lit(s"$j:"), key.cast("string"))),
        lit(width.toLong))): _*)

  /** Build the (depth, bucket, cnt) sketch counting key occurrences. */
  def sketch(df: DataFrame, key: Column, depth: Int, width: Int): DataFrame =
    df.select(posexplode(buckets(key, depth, width)).as(Seq("depth", "bucket")))
      .withColumn("depth", col("depth").cast("long"))
      .groupBy("depth", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Weighted form: cnt sums `weight` instead of counting rows (token
    * counts, byte sizes). Weights must be ≥ 0 for the over-estimate
    * guarantee to hold.
    */
  def sketchWeighted(df: DataFrame, key: Column, weight: Column,
      depth: Int, width: Int): DataFrame =
    df.select(weight.cast("long").as("__w"),
        posexplode(buckets(key, depth, width)).as(Seq("depth", "bucket")))
      .withColumn("depth", col("depth").cast("long"))
      .groupBy("depth", "bucket")
      .agg(sum("__w").as("cnt"))

  /** Merge sketches built with the same (depth, width): counters add. */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("depth", "bucket").agg(sum("cnt").as("cnt"))

  /** Point-frequency estimates for the keys in `keys(keyCol)`:
    * min over depth rows of the key's bucket counters (0 if the key
    * hashed only into never-touched buckets). Output: (keyCol, est).
    */
  def estimate(sk: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int, width: Int): DataFrame =
    keys.select(col(keyCol),
        posexplode(buckets(col(keyCol), depth, width)).as(Seq("depth", "bucket")))
      .withColumn("depth", col("depth").cast("long"))
      .join(broadcast(sk), Seq("depth", "bucket"), "left")
      .withColumn("__c", coalesce(col("cnt"), lit(0L)))
      .groupBy(keyCol)
      .agg(min("__c").as("est"))
}
