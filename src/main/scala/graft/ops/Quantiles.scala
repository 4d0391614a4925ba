package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic mergeable quantile summaries — the third member of the
  * sketch family (counts: Misra–Gries `FreqItems`; distincts: `Kmv`;
  * quantiles: this), and the concrete engine-replayable alternative to
  * `percentile_approx` that `ops.Profile`/q77 document as the at-scale
  * seam.
  *
  * The summary is a log-scaled integer histogram (HdrHistogram-style):
  * non-negative longs bucket by (octave = exact ⌊log₂ v⌋ via the BINARY
  * STRING length — no float log, so no boundary drift; 8 sub-buckets
  * per octave). Relative error of a reported quantile is < 2⁻³ = 12.5%
  * (spec-asserted against exact percentiles); values below 8 are exact.
  * Everything about it is integer arithmetic on builtins, so quantiles
  * hash-gate bit-for-bit across engines (q118) — `percentile_approx`'s
  * GK summary has no such cross-engine form.
  *
  * Scale shape: ONE map-side-combined (keys, bucket) count shuffle —
  * ≤ 61·8+8 buckets per key regardless of row count — then a window
  * walk over that bounded per-key relation. Histogram rows merge by
  * addition, so per-run histograms persist as plain parquet and
  * re-aggregate exactly (the q108/q43b cross-run-artifact pattern with
  * no special merge operator at all).
  */
object Quantiles {
  import org.apache.spark.sql.catalyst.expressions.{ShiftLeft, ShiftRight}
  import org.apache.spark.sql.{GraftBridge => EU}

  val SubBits = 3 // 8 sub-buckets per octave → rel err < 12.5%

  // the Scala functions API only accepts LITERAL bit counts; the
  // catalyst expressions take any expression (as SQL's shiftright does)
  private def shr(v: Column, bits: Column): Column =
    EU.column(ShiftRight(EU.expression(v), EU.expression(bits.cast("int"))))
  private def shl(v: Column, bits: Column): Column =
    EU.column(ShiftLeft(EU.expression(v), EU.expression(bits.cast("int"))))

  /** Exact ⌊log₂ v⌋ for v ≥ 1: length of the binary representation − 1.
    * `bin()` is a builtin in both Spark and DuckDB, and on integers it
    * is exact where a double `log2()` wobbles at powers of two.
    */
  private def log2floor(v: Column): Column = length(bin(v)) - 1

  /** Monotone bucket id for a non-negative long. Values 0..7 map to
    * themselves (exact); above, id = 8 + (octave−3)·8 + sub where sub is
    * the 3 bits below the leading bit.
    */
  def bucketOf(v: Column): Column = {
    val e = log2floor(v)
    when(v < 8, v.cast("long")).otherwise(
      (lit(8) + (e - 3) * 8 +
        shr(v, e - 3).bitwiseAND(7)).cast("long"))
  }

  /** Lower bound of a bucket — the reported quantile value. */
  def bucketLowerBound(id: Column): Column =
    when(id < 8, id).otherwise(
      shl((lit(8) + pmod(id - 8, lit(8))).cast("long"),
        floor((id - 8) / 8).cast("int")))

  /** Per-key histogram: (keys..., bucket, cnt) — the mergeable summary
    * (merge = re-aggregate with sum).
    */
  def histogram(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.select((keys.map(col) :+ bucketOf(col(valueCol)).as("bucket")): _*)
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Quantile estimates from a [[histogram]]: for each (num, den)
    * fraction, the lower bound of the first bucket whose cumulative
    * count reaches ceil(num·n/den) — all-integer rank arithmetic, so
    * the pick is partition- and engine-invariant. Output: (keys...,
    * q_num, q_den, n, quantile).
    */
  def quantiles(hist: DataFrame, keys: Seq[String],
      qs: Seq[(Int, Int)]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("bucket"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(keys.map(col): _*)))
    val sparkSession = hist.sparkSession
    import sparkSession.implicits._
    val qdf = qs.toDF("q_num", "q_den")
    cum.crossJoin(broadcast(qdf))
      // target rank = ceil(num·n/den) — `div` keeps it integer-exact
      .withColumn("target",
        expr("CAST((q_num * n + q_den - 1) div q_den AS BIGINT)"))
      .filter(col("cum") >= col("target"))
      .groupBy((keys.map(col) :+ col("q_num") :+ col("q_den") :+ col("n")): _*)
      .agg(min(col("bucket")).as("__b"))
      .withColumn("quantile", bucketLowerBound(col("__b")))
      .drop("__b")
  }

  /** One-call form over raw rows. */
  def approxQuantiles(df: DataFrame, keys: Seq[String], valueCol: String,
      qs: Seq[(Int, Int)]): DataFrame =
    quantiles(histogram(df, keys, valueCol), keys, qs)

  // ------------------------------------------------------- sketch tier
  // The EXECUTABLE 100 TB swap for the exact-tier rank windows
  // (q205 terciles, q195 percentile rank, q188 quantile normalization).
  // The exact tier sorts every row of a key inside one partition — fine
  // while a key's rows fit an executor, a straggler at 100 TB. These
  // variants replace the per-key global sort with the mergeable
  // (keys, bucket) histogram: one map-side-combined count shuffle with
  // ≤ 61·8+8 buckets per key, then all rank algebra runs on that
  // bounded relation. Positions quantize to bucket resolution
  // (rel err < 2⁻³; exact on values < 8 and on bucket lower bounds —
  // QuantileTierSpec pins tier agreement on that lossless grid).
  // Callers pick the tier: q188, q195 and q205 take a `sketch` argument.

  /** Signed bucket id: negatives mirror below -1 so the id is monotone
    * over the full long range (`-1 - bucketOf(-v)` decreases as |v|
    * grows). */
  def bucketOfSigned(v: Column): Column =
    when(v >= 0, bucketOf(v)).otherwise(lit(-1L) - bucketOf(-v))

  /** Monotone representative value of a signed bucket id (lower bound
    * for non-negative ids, mirrored magnitude for negative ids). */
  def bucketValueSigned(id: Column): Column =
    when(id >= 0, bucketLowerBound(id))
      .otherwise(-bucketLowerBound(lit(-1L) - id))

  /** Per-key signed-bucket cumulative histogram:
    * (keys..., __bkt, __cnt, __cum, __n). */
  private def cumHist(df: DataFrame, keys: Seq[String],
      valCol: String): DataFrame = {
    val ks = keys.map(col)
    df.select((ks :+ bucketOfSigned(col(valCol)).as("__bkt")): _*)
      .groupBy((keys :+ "__bkt").map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__cum", sum(col("__cnt")).over(
        Window.partitionBy(ks: _*).orderBy(col("__bkt"))))
      .withColumn("__n", sum(col("__cnt")).over(
        Window.partitionBy(ks: _*)))
  }

  /** k equal-frequency rank buckets per key (tercile for k = 3):
    * adds `outCol` in [0, k). Exact tier: bucket of rank r is
    * ((r−1)·k) div n under the (valCol, tieCol) sort window. Sketch
    * tier: the first value of exact bucket b sits at rank
    * ⌈b·n/k⌉ + 1 (((r−1)k) div n ≥ b ⟺ r > ⌈bn/k⌉), so the b-th
    * cutoff is that rank's histogram value and a row's bucket is the
    * count of cutoffs ≤ its value —
    * ties NEVER straddle a boundary in this tier (equal values share a
    * bucket), the price of dropping the tiebreak column with the sort.
    */
  def rankBuckets(df: DataFrame, keys: Seq[String], valCol: String,
      tieCol: String, k: Int, outCol: String,
      sketch: Boolean): DataFrame = {
    val ks = keys.map(col)
    if (!sketch) {
      df.withColumn("__r", row_number().over(
          Window.partitionBy(ks: _*).orderBy(col(valCol), col(tieCol))))
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy(ks: _*)
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        .withColumn(outCol, expr(s"((__r - 1) * $k) div __n"))
        .drop("__r", "__n")
    } else {
      val hist = cumHist(df, keys, valCol)
      val sparkSession = df.sparkSession
      import sparkSession.implicits._
      val bs = (1 until k).toDF("__b")
      val cuts = hist.crossJoin(broadcast(bs))
        .withColumn("__target",
          expr(s"((__b * __n + ${k - 1}) div $k) + 1"))
        .filter(col("__cum") >= col("__target"))
        .groupBy((keys :+ "__b").map(col): _*)
        .agg(min(col("__bkt")).as("__cb"))
        .groupBy(ks: _*)
        .agg(sort_array(collect_list(bucketValueSigned(col("__cb"))))
          .as("__cuts"))
      df.join(broadcast(cuts), keys)
        .withColumn(outCol,
          size(filter(col("__cuts"), c => c <= col(valCol))).cast("long"))
        .drop("__cuts")
    }
  }

  /** Sketch tier of [[percentileRank]]: rank(v) quantizes to
    * 1 + (count below v's bucket) — RANK semantics preserved (equal
    * values share a bucket, so they share a percentile), positions
    * quantized to bucket resolution. One histogram shuffle + a
    * broadcast join on (keys, bucket) instead of the per-key sort
    * window.
    */
  def percentileRankSketch(df: DataFrame, keys: Seq[String], valCol: String,
      outCol: String = "pct_fix"): DataFrame = {
    val hist = cumHist(df, keys, valCol)
      .select((keys.map(col) :+ col("__bkt") :+
        (col("__cum") - col("__cnt")).as("__below") :+ col("__n")): _*)
    df.withColumn("__bkt", bucketOfSigned(col(valCol)))
      .join(broadcast(hist), keys :+ "__bkt")
      .withColumn(outCol,
        when(col("__n") <= 1, 0L)
          .otherwise(expr(s"(__below * ${1L << 30}L) div (__n - 1)")))
      .drop("__bkt", "__below", "__n")
  }

  /** Sketch tier of [[quantileNormalize]]: both sides collapse to
    * cumulative histograms; every df-side BUCKET (not row) computes its
    * target reference rank ⌈cum·m/n⌉ and resolves it to the first
    * reference bucket reaching it — the whole mapping is built on the
    * two bounded (keys × ≤496 buckets) relations and broadcast back
    * onto the rows. Values map to reference BUCKET representatives
    * (quantized), rank structure preserved.
    */
  def quantileNormalizeSketch(df: DataFrame, ref: DataFrame,
      keys: Seq[String], valCol: String): DataFrame = {
    val ks = keys.map(col)
    val dh = cumHist(df, keys, valCol)
    val rh = cumHist(ref, keys, valCol)
      .select((ks :+ col("__bkt").as("__rb") :+ col("__cum").as("__rcum") :+
        col("__n").as("__m")): _*)
    val mapped = dh.join(rh, keys)
      .withColumn("__t", expr("(__cum * __m + __n - 1) div __n"))
      .filter(col("__rcum") >= col("__t"))
      .groupBy((keys :+ "__bkt").map(col): _*)
      .agg(min(col("__rb")).as("__refb"))
      .withColumn("__refv", bucketValueSigned(col("__refb")))
      .select((ks :+ col("__bkt") :+ col("__refv")): _*)
    df.withColumn("__bkt", bucketOfSigned(col(valCol)))
      .join(broadcast(mapped), keys :+ "__bkt")
      .withColumn(s"${valCol}_norm", col("__refv"))
      .drop("__bkt", "__refv")
  }

  /** Percentile-rank (empirical CDF) transform — the rank-based feature
    * scaling that is immune to outliers and scale: each row gets
    * `pct_fix` = (rank − 1)·2^30 div (n − 1) in [0, 2^30], computed
    * with RANK (not row_number), so EQUAL values get EQUAL percentiles
    * with no tiebreak column needed — the property a feature transform
    * must have (two identical inputs may never map differently). A
    * single-row group maps to 0 by convention (no spread to place it
    * on). One key-partitioned sort window; rank and count share the
    * spec.
    */
  def percentileRank(df: DataFrame, keys: Seq[String], valCol: String,
      outCol: String = "pct_fix"): DataFrame = {
    val ks = keys.map(col)
    df.withColumn("__r", rank().over(
        Window.partitionBy(ks: _*).orderBy(col(valCol))))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(ks: _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn(outCol,
        when(col("__n") <= 1, 0L)
          .otherwise(expr(s"((__r - 1) * ${1L << 30}L) div (__n - 1)")))
      .drop("__r", "__n")
  }

  /** EXACT quantile normalization — map every value of `df` onto the
    * reference distribution `ref` at the same quantile position (the
    * batch-effect / score-calibration transform: after it, df's values
    * ARE draws from ref's empirical distribution, rank structure
    * preserved). The corrective companion to [[Profile.ksStatistic]]:
    * KS tells you two batches drifted, this maps one onto the other.
    *
    * Integer-exact convention: a row at rank r of n (1-based, ordered
    * by (value, tieCol) — the tiebreak makes equal values map
    * deterministically) takes the reference value at rank
    * ⌈r·m/n⌉ = (r·m + n − 1) div n of m — always a value FROM the
    * reference, never interpolated.
    *
    * Exact tier by contract: one sort window per side (rank + count
    * share the window spec) and ONE equi-join on (keys, target rank) —
    * ranks are dense on the reference side so the join is 1:1. At
    * 100 TB swap both rank passes for [[histogram]] cutoffs — same
    * join, quantized positions.
    */
  def quantileNormalize(df: DataFrame, ref: DataFrame, keys: Seq[String],
      valCol: String, tieCol: String): DataFrame = {
    val ks = keys.map(col)
    def ranked(x: DataFrame, tie: Column) = x
      .withColumn("__rn", row_number().over(
        Window.partitionBy(ks: _*).orderBy(col(valCol), tie)))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(ks: _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val a = ranked(df, col(tieCol))
    val b = ranked(ref.select((keys :+ valCol).map(col): _*), lit(1))
      .select(ks ++ Seq(col("__rn").as("__tr"),
        col("__n").as("__m"), col(valCol).as("__refv")): _*)
    val m = b.groupBy(ks: _*).agg(max("__m").as("__m"))
    a.join(broadcast(m), keys)
      .withColumn("__tr", expr("(__rn * __m + __n - 1) div __n"))
      .join(b.drop("__m"), keys :+ "__tr")
      .select(a.columns.filterNot(_.startsWith("__")).map(col) :+
        col("__refv").as(s"${valCol}_norm"): _*)
  }
}
