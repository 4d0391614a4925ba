package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus scrubbing + composition operators for training-data pipelines:
  * PII redaction, repetition signals (Gopher-style), and deterministic
  * hash sampling for domain mixing. All pure Column expressions.
  */
object Scrub {

  // ---- PII redaction ---------------------------------------------------

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\-\\s]{7,}[0-9]"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Replace emails/phones/IPs with typed placeholder tokens. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Count of PII hits per kind (for filtering thresholds). */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).as("emails"),
    size(regexp_extract_all(text, lit(PhoneRe), lit(0))).as("phones"),
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0))).as("ips"))

  /** Luhn checksum sum of a digit string (ISO/IEC 7812): reversed
    * digits, every second one doubled, digits of products summed. The
    * PRECISION tier of card-number detection — a 13–19 digit run that
    * fails Luhn is an order id or a phone, not a card, and redacting it
    * destroys data for no privacy gain. Higher-order builtins (filter,
    * transform-with-index, aggregate), no UDF; each is a
    * `CodegenFallback`, so the operator that evaluates this runs
    * interpreted, outside whole-stage codegen (q190's plan fails
    * `PlanInspect.codegen`).
    */
  def luhnSum(digits: Column): Column = {
    val ds = reverse(filter(split(digits, ""), c => c.rlike("[0-9]")))
    val vals = transform(ds, (c, i) => {
      val d = c.cast(IntegerType)
      when(i % 2 === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    aggregate(vals, lit(0), (acc, x) => acc + x)
  }

  /** Luhn validity for a candidate card run (length gate 13–19 digits
    * + checksum ≡ 0 mod 10). */
  def luhnValid(digits: Column): Column = {
    val n = size(filter(split(digits, ""), c => c.rlike("[0-9]")))
    n >= 13 && n <= 19 && luhnSum(digits) % 10 === 0
  }

  // ---- repetition signals (Gopher/C4 quality filters) ------------------

  /** Fraction of lines that are duplicates of an earlier line. */
  def duplicateLineFraction(text: Column): Column = {
    val lines = filter(split(text, "\\n"), l => length(trim(l)) > 0)
    val nLines = size(lines)
    when(nLines > 0,
      (nLines - size(array_distinct(lines))).cast(DoubleType) / nLines)
      .otherwise(lit(0.0))
  }

  /** Fraction of tokens belonging to the single most frequent token —
    * high values mark degenerate/repetitive text. Native one-pass hashmap
    * kernel: the builtin `transform(array_distinct, …filter…)` form is
    * O(distinct × n) per doc — quadratic precisely on the repetitive
    * documents this scorer exists to flag.
    */
  def topTokenFraction(text: Column): Column =
    graft.functions.HashExprs.topTokenFraction(text)

  /** Character-level compression proxy: distinct 4-gram hash count over
    * total 4-gram count; low ratio = highly repetitive text. Uses the
    * one-pass `shingle_hash64` kernel (distinct) vs length arithmetic.
    */
  def distinctNgramRatio(text: Column, n: Int = 4): Column = {
    val norm = regexp_replace(lower(text), "\\s+", " ")
    val total = greatest(length(norm) - (n - 1), lit(1))
    size(graft.functions.HashExprs.shingleHash64(norm, n)).cast(DoubleType) /
      total.cast(DoubleType)
  }

  // ---- deterministic sampling / domain mixing --------------------------

  /** Stable per-row sampling decision: first 8 hex chars of md5(key) as a
    * uniform draw in [0, 2^32). Deterministic across engines AND runs —
    * DuckDB mirrors it exactly, unlike hash()/rand().
    */
  def hashDraw(key: Column): Column =
    conv(substring(md5(key.cast(StringType)), 1, 8), 16, 10).cast(LongType)

  /** Keep ~`rate` of rows, keyed on `key` (stable across runs). */
  def sampleByHash(df: DataFrame, key: String, rate: Double): DataFrame =
    df.filter(hashDraw(col(key)) < lit((rate * 4294967296.0).toLong))

  /** Domain mixing: per-source sampling rates (source → keep rate),
    * unknown sources keep everything. One narrow filter, no shuffle.
    */
  def mixBySource(df: DataFrame, sourceCol: String, key: String,
      rates: Map[String, Double]): DataFrame = {
    val rateExpr = rates.foldLeft(lit(1.0)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    df.filter(hashDraw(col(key)) <
      (rateExpr * lit(4294967296.0)).cast(LongType))
  }

  /** Epoch oversampling — the other half of domain mixing: a weight in
    * MILLI-epochs replicates each row `w div 1000` times plus one more
    * when its stable draw falls under the fractional part (exact
    * integer compare draw·1000 < (w mod 1000)·2³², no float rate).
    * Sub-unit weights subsample exactly like [[mixBySource]]; weights
    * over 1000 oversample small domains — the Pile/DoReMi-style epoch
    * factors a training mix applies to rare high-quality sources.
    * Output adds `copy_idx` (1..n) so replicas stay distinguishable
    * downstream. Narrow: the fan-out is an in-place explode, no
    * shuffle, and determinism is per-row — identical on any cluster
    * layout.
    */
  def epochMix(df: DataFrame, sourceCol: String, key: String,
      weightsMilli: Map[String, Long],
      defaultMilli: Long = 1000L): DataFrame = {
    val wExpr = weightsMilli.foldLeft(lit(defaultMilli)) {
      case (acc, (src, w)) => when(col(sourceCol) === src, lit(w)).otherwise(acc)
    }
    df.withColumn("__w", wExpr)
      .withColumn("__n",
        expr("__w div 1000") +
          when(hashDraw(col(key)) * 1000 < (col("__w") % 1000) * lit(4294967296L),
            1L).otherwise(0L))
      .filter(col("__n") >= 1)
      .withColumn("copy_idx", explode(sequence(lit(1L), col("__n"))))
      .drop("__w", "__n")
  }

  /** UniMax-style budget allocation across strata (languages/sources) —
    * the composition step BEFORE sampling: given per-stratum token
    * counts, a total token budget, and a per-stratum epoch cap, spread
    * the budget as evenly as possible without repeating any stratum more
    * than `maxEpochs` times (the UniMax rule: uniform over languages,
    * capacity-capped — instead of the p^α temperature heuristic whose
    * non-integer power cannot be made engine-exact).
    *
    * All-integer closed form (no iterative loop): sort strata by
    * (capacity, key) ascending; with prefix sums P_l and n strata, a
    * stratum is CAPPED iff `c_l·(n − l) + P_l ≤ B` — the per-position
    * integer clearing of "capacity below the water level", downward
    * closed along the sort (proof: c ascending makes the LHS
    * non-decreasing), so capped strata form a prefix of length m. The
    * others get `share = (B − P_m) div (n − m)` each, with the
    * remainder `(B − P_m) mod (n − m)` handed one token to each of the
    * first remainder-many uncapped strata in sort order — Σ alloc = B
    * exactly whenever Σ capacity ≥ B, and alloc = capacity everywhere
    * otherwise. Every step is integer compare / floor division: the
    * same allocation on any engine, run, or partitioning.
    *
    * Scale: `stats` is one row per stratum — BOUNDED by contract
    * (languages/domains, not documents), so the ordering windows here
    * are driver-scale sorts, not corpus ones; the corpus-sized work
    * (token counting) happened in the caller's one aggregation.
    *
    * Output: (key, tokens, capacity, alloc, epochs_milli) with
    * epochs_milli = (alloc·1000) div tokens — fixed-point epochs the
    * downstream [[epochMix]] can consume as weightsMilli.
    */
  def uniMaxAlloc(stats: DataFrame, keyCol: String, tokensCol: String,
      budget: Long, maxEpochs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0 && maxEpochs >= 1)
    val byCap = Window.orderBy("capacity", keyCol)
    val pfx = byCap.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = stats.select(count(lit(1)).as("__nl"))
    val base = stats.select(col(keyCol),
        col(tokensCol).cast(LongType).as("tokens"))
      .withColumn("capacity", col("tokens") * lit(maxEpochs))
      .withColumn("__l", row_number().over(byCap).cast(LongType))
      .withColumn("__p", sum("capacity").over(pfx))
      .crossJoin(broadcast(n))
      .withColumn("__capped",
        col("capacity") * (col("__nl") - col("__l")) + col("__p") <= lit(budget))
    val mRel = base.agg(
      coalesce(sum(when(col("__capped"), lit(1L))), lit(0L)).as("__m"),
      coalesce(max(when(col("__capped"), col("__p"))), lit(0L)).as("__pm"))
    base.crossJoin(broadcast(mRel))
      .withColumn("__share",
        when(col("__nl") === col("__m"), lit(0L))
          .otherwise(expr(s"(${budget}L - __pm) div (__nl - __m)")))
      .withColumn("__rem",
        when(col("__nl") === col("__m"), lit(0L))
          .otherwise(expr(s"(${budget}L - __pm) % (__nl - __m)")))
      .withColumn("alloc",
        when(col("__capped"), col("capacity"))
          .otherwise(col("__share") +
            when(col("__l") - col("__m") <= col("__rem"), lit(1L))
              .otherwise(lit(0L))))
      .withColumn("epochs_milli",
        expr("(alloc * 1000L) div greatest(tokens, 1L)"))
      .select(keyCol, "tokens", "capacity", "alloc", "epochs_milli")
  }

  /** Temperature-based language/stratum resampling (the mT5/XLM-R
    * recipe): sampling mass ∝ tokens^α, α ∈ (0, 1] — flatter than
    * proportional (α = 1) so low-resource strata up-sample, unlike
    * [[uniMaxAlloc]]'s hard epoch cap. The two are THE named mixture
    * strategies; this one needs p^α, which stays float-free by
    * composing the exact binary log with its fixed-point inverse:
    * `w = pow2NegFix((−log2fix(tokens/N)·αnum) div αden)` — every step
    * an integer the SQL mirror replays (q129), so allocations
    * hash-gate where a float `pow` could not.
    *
    * Allocation: `alloc_l = ⌊budget·w_l / W⌋` plus a deterministic
    * largest-remainder hand-out ((frac desc, key asc) — the UniMax
    * discipline), so Σ alloc = budget EXACTLY. `epochs_milli` feeds
    * [[epochMix]] directly. Bounds: requires budget < 2³² so
    * budget·w ≤ 2⁶³ (allocate in kilotoken units above that); `stats`
    * is one row per stratum — bounded by contract, its windows are
    * driver-scale.
    */
  def temperatureMix(stats: DataFrame, keyCol: String, tokensCol: String,
      alphaNum: Long, alphaDen: Long, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.FixedLogExprs
    require(alphaDen >= alphaNum && alphaNum > 0, "need 0 < alpha <= 1")
    require(budget >= 0 && budget < (1L << 32), "budget must fit 32 bits")
    val tot = stats.agg(sum(col(tokensCol).cast(LongType)).as("__n"))
    val w = stats.select(col(keyCol),
        col(tokensCol).cast(LongType).as("tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("__pfix", expr("(tokens * 1073741824L) div __n"))
      .withColumn("__negl", -FixedLogExprs.log2fix(col("__pfix"), 30, 16))
      .withColumn("w_fix", FixedLogExprs.pow2NegFix(
        expr(s"(__negl * ${alphaNum}L) div ${alphaDen}L")))
    val wSum = w.agg(sum("w_fix").as("__w")) // Σw ≤ strata·2³¹ — bounded
    val al = w.crossJoin(broadcast(wSum))
      .withColumn("__alloc0", expr(s"(${budget}L * w_fix) div __w"))
      .withColumn("__frac", expr(s"(${budget}L * w_fix) % __w"))
    val handed = al.crossJoin(broadcast(
        al.agg((lit(budget) - sum("__alloc0")).as("__rem"))))
      .withColumn("__rk",
        row_number().over(Window.orderBy(col("__frac").desc, col(keyCol)))
          .cast(LongType))
      .withColumn("alloc", col("__alloc0") +
        when(col("__rk") <= col("__rem"), lit(1L)).otherwise(lit(0L)))
    handed
      .withColumn("epochs_milli", expr("(alloc * 1000L) div greatest(tokens, 1L)"))
      .select(keyCol, "tokens", "w_fix", "alloc", "epochs_milli")
  }

  /** Cap every stratum (domain/source/language) at `cap` docs, picking a
    * DETERMINISTIC uniform subset per key: rows rank by md5(id) — a
    * stable shuffle-independent draw (same survivors on every run and
    * engine), not "first N encountered", which at scale means "whatever
    * file order the scan happened to produce".
    *
    * Rides the TopKPerKey physical operator: map-side bounded heaps of
    * `cap` rows per key combine before the key shuffle, so a stratum
    * with 10⁹ rows moves `cap × partitions` rows, not 10⁹ — the Window
    * row_number() formulation would shuffle and fully sort every
    * stratum.
    */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
      cap: Int): DataFrame = {
    import graft.plans.TopKPerKey
    val drawn = df.withColumn("__draw",
      md5(col(idCol).cast(StringType)))
    TopKPerKey.topK(drawn, Seq(keyCol),
        Seq(TopKPerKey.Sort("__draw"), TopKPerKey.Sort(idCol)), cap)
      .drop("__draw")
  }

  /** WEIGHTED sampling without replacement per stratum — quality- or
    * length-proportional selection (pick k docs per language with
    * inclusion probability ∝ a score), the biased complement of
    * [[capPerKey]]'s uniform cap. Efraimidis–Spirakis exponential-race
    * keys with the floats designed out: the per-row uniform is the
    * stable 62-bit id hash, −log₂(u) comes from the exact integer
    * binary log ([[graft.functions.FixedLogKernel]], 16.16 bits), and
    * the race key is one floor division
    *
    *   priority = (bits_fix · 2²⁰) div weight        (smaller wins)
    *
    * so the SAME corpus yields the SAME sample on any run, partitioning,
    * or engine (q119's oracle replays hash → log → div → rank). Doubling
    * a row's weight halves its priority — monotone by construction.
    *
    * Scale shape: rides TopKPerKey's bounded heaps like [[capPerKey]] —
    * a 10⁹-row stratum moves k × partitions rows, never a full window
    * sort. Weights must be ≥ 1 (zero-weight rows are dropped, matching
    * inclusion probability 0).
    */
  def weightedSample(df: DataFrame, stratumCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    import graft.plans.TopKPerKey
    val u30 = shiftright(
      graft.functions.Kmv.hash62(col(idCol).cast(StringType)), 32)
    val keyed = df
      .filter(col(weightCol) >= 1)
      .withColumn("__bits",
        -graft.functions.FixedLogExprs.log2fix(u30, 30, 16))
      .withColumn("__pri", expr(s"(__bits * 1048576L) div $weightCol"))
    TopKPerKey.topK(keyed, Seq(stratumCol),
        Seq(TopKPerKey.Sort("__pri"), TopKPerKey.Sort(idCol)), k)
      .drop("__bits")
  }

  /** TOKEN-BUDGET sampling per stratum — the data-mixing primitive that
    * caps WEIGHT, not row count: walk each stratum's rows in the stable
    * [[hashDraw]] order and keep rows while the running `weightCol` total
    * before the row is under `budget` (so the row that crosses the budget
    * is the last one kept; a stratum whose total is below budget keeps
    * everything). "Give me 50 B tokens of French, 200 B of English" —
    * deterministic across runs and engines, like [[capPerKey]].
    *
    * The textbook formulation is a running-sum window per stratum, which
    * at scale serializes each stratum through ONE task (a window
    * partitioned by `lang` has ~10 partitions for a 100 TB corpus). This
    * implementation never windows the corpus. The draw space [0, 2³²) is
    * cut into 2¹⁶ buckets (the draw's top 16 bits):
    *  1. a map-side-combined aggregation builds the (stratum, bucket)
    *    weight histogram — ≤ strata × 65 536 tiny rows cross the only
    *    exchange;
    *  2. the histogram alone is windowed to find each stratum's CUTOFF
    *    bucket (first bucket where the cumulative weight reaches budget)
    *    and the cumulative weight before it;
    *  3. rows below the cutoff bucket pass a NARROW broadcast filter —
    *    no shuffle, no sort, provably under budget;
    *  4. only the cutoff bucket's rows (≈ 1/65 536 of each stratum) run
    *    the exact running-sum window, offset by the pre-cutoff base.
    * The result is row-identical to the full window formulation.
    */
  def takeByBudget(df: DataFrame, stratumCol: String, idCol: String,
      weightCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = df
      .withColumn("__draw", hashDraw(col(idCol)))
      .withColumn("__bkt", shiftright(col("__draw"), 16))
    val hist = bucketed.groupBy(col(stratumCol), col("__bkt"))
      .agg(sum(col(weightCol)).as("__w"))
    val cum = hist.withColumn("__cum",
      sum("__w").over(Window.partitionBy(stratumCol).orderBy("__bkt")))
    // first bucket where the running total reaches budget, and the total
    // before it; strata that never reach budget get no row (keep-all)
    val cut = cum.filter(col("__cum") >= budget)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(stratumCol).orderBy("__bkt")))
      .filter(col("__rk") === 1)
      .select(col(stratumCol), col("__bkt").as("__cutbkt"),
        (col("__cum") - col("__w")).as("__base"))
    val joined = bucketed.join(broadcast(cut), Seq(stratumCol), "left")
    val below = joined
      .filter(col("__cutbkt").isNull || col("__bkt") < col("__cutbkt"))
      .drop("__cutbkt", "__base", "__draw", "__bkt")
    val exact = Window.partitionBy(stratumCol)
      .orderBy(col("__draw"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val atCut = joined.filter(col("__bkt") === col("__cutbkt"))
      .withColumn("__prior",
        col("__base") + coalesce(sum(col(weightCol)).over(exact), lit(0L)))
      .filter(col("__prior") < budget)
      .drop("__cutbkt", "__base", "__draw", "__bkt", "__prior")
    below.unionByName(atCut)
  }

  /** Proportional STRATIFIED sampling with exact Hamilton
    * (largest-remainder) apportionment — the survey-sampling primitive
    * between [[sampleByHash]] (global rate) and [[weightedSample]]
    * (fixed k per stratum): a single corpus-wide target `totalN` is
    * split across strata as
    *
    *   base_h = ⌊totalN · N_h / N⌋,  deficit = totalN − Σ base_h,
    *   +1 to the `deficit` strata with the largest remainders
    *   (totalN · N_h mod N, ties by stratum key)
    *
    * so Σ alloc_h == totalN EXACTLY — no float shares, no rounding
    * drift, fully mirrored in a second engine. Membership is then the
    * stable hash order within each stratum (first alloc_h rows by
    * (hash62(id), id)), deterministic across runs and partitionings.
    *
    * Scale shape: the allocation runs on the ≤|strata| count relation
    * (tiny by contract — its windows are deliberately unpartitioned)
    * and broadcasts back; row selection rides [[graft.plans.TopKPerKey]]
    * bounded heaps at k = max alloc, so a billion-row stratum moves
    * k × partitions rows, never a full sort window. The final
    * per-stratum rank runs over ≤ k surviving rows per stratum.
    *
    * Contract: totalN ≤ N (an over-asked stratum would truncate at its
    * population; callers wanting with-replacement semantics want a
    * different operator).
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      totalN: Long): DataFrame = {
    import graft.plans.TopKPerKey
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val alloc = df.groupBy(stratumCol).agg(count(lit(1)).as("n_h"))
      .withColumn("__n", sum("n_h").over(wAll))
      .withColumn("base", expr(s"(${totalN}L * n_h) div __n"))
      .withColumn("__rem", expr(s"(${totalN}L * n_h) % __n"))
      .withColumn("__deficit", lit(totalN) - sum("base").over(wAll))
      .withColumn("__rr", row_number().over(
        Window.orderBy(col("__rem").desc, col(stratumCol))))
      .withColumn("alloc",
        col("base") + when(col("__rr") <= col("__deficit"), 1L).otherwise(0L))
      .select(col(stratumCol), col("n_h"), col("alloc"))
    // k for the bounded heaps: the largest allocation — a scalar off the
    // strata relation (small by contract), never off the corpus
    val kMax = math.max(1L,
      alloc.agg(max("alloc")).head().getLong(0)).toInt
    val keyed = df.withColumn("__hv",
      graft.functions.Kmv.hash62(col(idCol).cast(StringType)))
    val ranked = TopKPerKey.topK(keyed, Seq(stratumCol),
        Seq(TopKPerKey.Sort("__hv"), TopKPerKey.Sort(idCol)), kMax)
      .withColumn("rn", row_number().over(
        Window.partitionBy(stratumCol).orderBy(col("__hv"), col(idCol)))
        .cast(LongType))
    ranked.join(broadcast(alloc), Seq(stratumCol))
      .filter(col("rn") <= col("alloc"))
      .select(col(stratumCol), col(idCol), col("rn"), col("n_h"),
        col("alloc"))
  }
}
