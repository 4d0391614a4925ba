package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Single-pass column profiling — the data-quality monitoring step a
  * production pipeline runs on every ingest (the reference bakes its
  * expectations into per-field `set_type`/`validate` steps; this is the
  * observability complement: measure, then decide what to validate).
  *
  * One scan produces per-column null counts, exact distinct counts, and
  * min/max rendered to strings: all requested columns aggregate in a
  * SINGLE `agg` (Catalyst plans the multi-column exact COUNT(DISTINCT)
  * via one Expand — the scan happens once, not once per column), and the
  * wide single row unpivots to (column, n_rows, n_nulls, n_distinct,
  * min_str, max_str) with a narrow explode.
  *
  * Exact distinct (not approx_count_distinct) is deliberate: profiles
  * feed validation thresholds and the driver's hash-equality oracle;
  * HLL estimates would make both nondeterministic. The 100 TB swap is
  * EXECUTABLE: `sketchDistinct = true` (q105's `sketch` argument, the
  * bench-only q105s row) computes
  * n_distinct through [[graft.functions.Kmv.sketch]] inside the SAME
  * single-agg pass — the mergeable KMV summary keeps the determinism
  * (content is a pure set-function; integer estimator, q114-gated) at
  * O(k) state, is EXACT below k = 1024 distincts
  * (ProfileTierSpec pins tier equality there), and the multi-column
  * exact COUNT(DISTINCT)'s Expand disappears entirely — sketches are
  * plain partial-merge aggregates, so the corpus is touched once with
  * no row multiplication. approx_count_distinct works too when
  * nothing audits the number.
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String],
      sketchDistinct: Boolean = false, k: Int = 1024): DataFrame = {
    val aggs = cols.flatMap { c =>
      val nd =
        if (sketchDistinct)
          graft.functions.Kmv.estimate(
            graft.functions.Kmv.sketch(
              graft.functions.Kmv.hash62(col(c).cast("string")), k), k)
            .as(s"__nd_$c")
        else count_distinct(col(c)).as(s"__nd_$c")
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        nd,
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val packed = wide.select(explode(array(cols.map(c => struct(
      lit(c).as("column"),
      col("__n").as("n_rows"),
      col(s"__nn_$c").as("n_nulls"),
      col(s"__nd_$c").as("n_distinct"),
      col(s"__mn_$c").as("min_str"),
      col(s"__mx_$c").as("max_str"))): _*)).as("p"))
    packed.select(col("p.column"), col("p.n_rows"), col("p.n_nulls"),
      col("p.n_distinct"), col("p.min_str"), col("p.max_str"))
  }

  /** MERGEABLE profile artifact — the incremental-maintenance form of
    * [[profile]]: one row per column carrying additive stats (row and
    * null counts), min/max over the CANONICAL STRING CAST (so per-part
    * extrema merge exactly; order-isomorphic for strings and ISO
    * dates, lexicographic for bare numerics — store a sortable
    * encoding upstream if native numeric order matters), and a KMV
    * distinct sketch ([[graft.functions.Kmv]]). Because k-smallest of
    * a union IS the k-smallest of the merged k-smallests,
    * `mergeProfiles(sketchProfile(A), sketchProfile(B))` equals
    * `sketchProfile(A ∪ B)` EXACTLY — state equality, not just
    * bounds — so a 100 TB profile updates from each ingest delta
    * without rescanning history. One scan per call and no Expand:
    * with no COUNT(DISTINCT), the KMV sketch is a plain
    * ObjectHashAggregate function (q152 plans three such scans).
    */
  def sketchProfile(df: DataFrame, cols: Seq[String],
      k: Int = 1024): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        graft.functions.Kmv.sketch(
          graft.functions.Kmv.hash62(col(c).cast("string")), k).as(s"__kv_$c"),
        min(col(c).cast("string")).as(s"__mn_$c"),
        max(col(c).cast("string")).as(s"__mx_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val packed = wide.select(explode(array(cols.map(c => struct(
      lit(c).as("column"),
      col("__n").as("n_rows"),
      col(s"__nn_$c").as("n_nulls"),
      col(s"__mn_$c").as("min_str"),
      col(s"__mx_$c").as("max_str"),
      col(s"__kv_$c").as("kmv"))): _*)).as("p"))
    packed.select(col("p.column"), col("p.n_rows"), col("p.n_nulls"),
      col("p.min_str"), col("p.max_str"), col("p.kmv"))
  }

  /** Merge [[sketchProfile]] artifacts (rows from any number of parts,
    * unioned): counts add, string extrema take min/max, sketches merge
    * through `kmv_union`. The |cols|·parts input relation is tiny —
    * this is artifact algebra, not corpus work.
    */
  def mergeProfiles(parts: DataFrame, k: Int = 1024): DataFrame =
    parts.groupBy("column").agg(
      sum("n_rows").as("n_rows"),
      sum("n_nulls").as("n_nulls"),
      min("min_str").as("min_str"),
      max("max_str").as("max_str"),
      graft.functions.Kmv.union(col("kmv"), k).as("kmv"))

  /** Population stability index between two bucket histograms, float-free
    * (base-2 PSI: `Σ (p_i − q_i) · log₂(p_i/q_i)` — always ≥ 0, ≈ 1.44×
    * the ln-based classic, so the industry "investigate at 0.2" rule
    * becomes ≈ 0.29 here; the default flags at 0.25 = 2⁴⁴ in fixed
    * point). The principled DISTRIBUTIONAL complement to [[drift]]'s
    * per-column null/distinct checks: a length or score histogram can
    * shift decisively while nulls and distincts stay put.
    *
    * Fixed-point discipline (q102/q153): probabilities floor at 2⁻³⁰
    * with a ≥ 1 clamp (a bucket absent from one side scores against the
    * floor, never ±∞), the ×2³⁰ rescale routes through decimal(38,0) so
    * 10⁹-row histograms cannot overflow, and log₂ is the exact
    * square-and-shift kernel — contributions land in 2⁻⁴⁶ units any
    * engine reproduces bit-for-bit.
    *
    * Scale shape: inputs are already-aggregated histograms (|buckets|
    * rows); the full-outer bucket join, the narrow log math, and the
    * total-sum window all run on that tiny relation — corpus work is
    * whatever aggregation built the histograms upstream.
    */
  def psiFix(histA: DataFrame, histB: DataFrame, bucketCol: String,
      cntCol: String, thresholdFix: Long = 1L << 44): DataFrame = {
    def side(h: DataFrame, p: String): DataFrame = {
      val tot = h.agg(sum(col(cntCol)).cast(DecimalType(38, 0)).as(s"__n$p"))
      h.select(col(bucketCol), col(cntCol).as(s"__c$p"))
        .crossJoin(broadcast(tot))
    }
    val joined = side(histA, "a")
      .join(side(histB, "b"), Seq(bucketCol), "full_outer")
      .na.fill(0L, Seq("__ca", "__cb"))
    // totals are constant per side; after the full-outer join a
    // one-sided row has a null total — take the max over the window to
    // reinstate it (the relation is |buckets| rows, the window is free)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val quant = joined
      .withColumn("__na", max(col("__na")).over(wAll))
      .withColumn("__nb", max(col("__nb")).over(wAll))
      .withColumn("__psc", col("__ca").cast(DecimalType(38, 0)) * (1L << 30))
      .withColumn("__qsc", col("__cb").cast(DecimalType(38, 0)) * (1L << 30))
      .selectExpr(bucketCol,
        "greatest(__psc div __na, 1L) AS p_fix",
        "greatest(__qsc div __nb, 1L) AS q_fix")
    val lg = (c: Column) => graft.functions.FixedLogExprs.log2fix(c, 30, 16)
    val contrib = quant.withColumn("contrib_fix",
      (col("p_fix") - col("q_fix")) * (lg(col("p_fix")) - lg(col("q_fix"))))
    contrib
      .withColumn("psi_fix", sum(col("contrib_fix")).over(wAll))
      .withColumn("drift",
        (col("psi_fix") >= thresholdFix).cast("int"))
  }

  /** Two-sample Kolmogorov–Smirnov distance per key — the exact-CDF
    * drift test completing the distribution-monitor pair with
    * [[psiFix]]: PSI needs a bucketing choice and saturates on tail
    * mass; KS is binning-free on the (quantized) value grid and reads
    * off the worst single point of CDF divergence. Everything is
    * integer-exact: with cumulative counts c_a(v), c_b(v),
    *
    *   D = max_v |c_a(v)·n_b − c_b(v)·n_a| / (n_a·n_b)
    *
    * reported as the cross-multiplied numerator (DECIMAL(38,0) — the
    * product overflows int64 at 10⁹-row sides), its 2^30 floor ratio,
    * and the SMALLEST value attaining the max (deterministic argmax).
    * Values must already be integral — quantize floats on the repo's
    * 2⁻¹⁶ grid first; that grid is what bounds the windowed relation.
    *
    * Scale shape: the corpus collapses map-side into the per-(key,
    * value) histogram — ONE count exchange; the running-CDF window then
    * sorts the histogram per key (grid-bounded, not corpus-bounded),
    * and the final per-key max is a map-side-combinable aggregation.
    */
  def ksStatistic(a: DataFrame, b: DataFrame, keyCol: String,
      valCol: String): DataFrame = {
    def side(df: DataFrame, tag: Int) =
      df.select(col(keyCol).as("__k"), col(valCol).cast("long").as("__v"),
        lit(tag).as("__s"))
    ksStatisticTagged(side(a, 0).unionByName(side(b, 1)), keyCol)
  }

  /** [[ksStatistic]] over an already-tagged relation (`__k`, `__v` long,
    * `__s` 0/1) — the single-scan entry for callers whose two samples
    * are partitions of ONE table (q178 splits lineitem by quantity):
    * tagging at the scan replaces two full passes over the same file
    * with one (guide §2.3 — don't read what you can flag). Values are
    * identical by construction: the union the two-DataFrame API builds
    * is exactly this relation.
    */
  def ksStatisticTagged(tagged: DataFrame, keyCol: String): DataFrame = {
    val hist = tagged
      .groupBy("__k", "__v")
      .agg(sum(when(col("__s") === 0, 1L).otherwise(0L)).as("__ha"),
        sum(when(col("__s") === 1, 1L).otherwise(0L)).as("__hb"))
    val wCdf = Window.partitionBy("__k").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wKey = Window.partitionBy("__k")
    // window sums stay LONG (counts; a 9.2e18-row corpus overflows long
    // before these do) — only the cross-multiplied products are DECIMAL,
    // where overflow is real at large n. Decimal window aggregation was
    // ~2× the cost of the whole window stage at sf0.1 for zero extra
    // range (the sums themselves can't overflow first).
    val cdf = hist
      .withColumn("__na", sum("__ha").over(wKey))
      .withColumn("__nb", sum("__hb").over(wKey))
      .withColumn("__ca", sum("__ha").over(wCdf))
      .withColumn("__cb", sum("__hb").over(wCdf))
      .withColumn("__d", abs(
        col("__ca").cast(DecimalType(38, 0)) * col("__nb") -
          col("__cb").cast(DecimalType(38, 0)) * col("__na")))
      .withColumn("__dmax", max(col("__d")).over(wKey))
    cdf.groupBy(col("__k").as(keyCol))
      .agg(max(col("__na")).cast("long").as("n_a"),
        max(col("__nb")).cast("long").as("n_b"),
        max(col("__d")).as("ks_num"),
        min(when(col("__d") === col("__dmax"), col("__v"))).as("ks_at"))
      .withColumn("ks_fix",
        expr(s"(ks_num * ${1L << 30}L) div (CAST(n_a AS DECIMAL(38,0)) * n_b)"))
  }

  /** Snapshot drift report — [[profile]] of two corpus generations
    * joined per column with INTEGER drift decisions (the data-quality
    * monitor between crawls; pairs with [[graft.ops.SnapshotDiff]]'s
    * row-level deltas): null-rate shift beyond 1/`nullDriftDenom`
    * absolute and distinct-ratio shift beyond `distinctDriftMilli`/1000
    * absolute, both as cross-multiplied integer compares (never a float
    * rate), plus a min/max range shift flag. Output is one row per
    * column — bounded; the per-side corpus work is each profile's
    * single scan, and the join is a broadcast of a |cols|-row relation.
    */
  def drift(a: DataFrame, b: DataFrame, cols: Seq[String],
      nullDriftDenom: Long = 20L, distinctDriftMilli: Long = 200L): DataFrame = {
    require(nullDriftDenom > 0 && distinctDriftMilli >= 0)
    def side(df: DataFrame, tag: String) =
      profile(df, cols).select(col("column"),
        col("n_rows").as(s"rows_$tag"), col("n_nulls").as(s"nulls_$tag"),
        col("n_distinct").as(s"distinct_$tag"),
        col("min_str").as(s"min_$tag"), col("max_str").as(s"max_$tag"))
    side(a, "a").join(broadcast(side(b, "b")), Seq("column"))
      .withColumn("null_drift",
        (abs(col("nulls_a") * col("rows_b") - col("nulls_b") * col("rows_a")) *
          lit(nullDriftDenom) > col("rows_a") * col("rows_b")).cast("int"))
      .withColumn("distinct_drift",
        (abs(col("distinct_a") * col("rows_b") - col("distinct_b") * col("rows_a")) *
          lit(1000L) > lit(distinctDriftMilli) * col("rows_a") * col("rows_b"))
          .cast("int"))
      .withColumn("range_shift",
        (!(col("min_a") <=> col("min_b")) || !(col("max_a") <=> col("max_b")))
          .cast("int"))
  }
}
