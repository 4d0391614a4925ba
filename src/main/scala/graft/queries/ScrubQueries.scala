package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.ops.{Load, Par}
import graft.text.Scrub

/** Scrubbing / composition queries over the documents table. */
object ScrubQueries {

  /** q170: proportional stratified sampling with exact Hamilton
    * apportionment ([[Scrub.stratifiedSample]]) — a global target of
    * 1000 orders split across the five o_orderpriority strata by
    * largest remainder (Σ alloc == 1000 exactly, no float shares),
    * membership by stable per-stratum hash rank. The oracle replays
    * the apportionment arithmetic and the hash62 rank; output carries
    * N_h and alloc per row so the allocation itself hash-gates, not
    * just membership.
    */
  def q170StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val orders = Load.table(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"))
    Scrub.stratifiedSample(orders, "o_orderpriority", "o_orderkey", 1000L)
      .orderBy("o_orderpriority", "rn")
  }

  val q170Sql: String = {
    val h62 = DedupQueries.h62Sql("CAST(o_orderkey AS VARCHAR)")
    s"""WITH n AS (
       |  SELECT o_orderpriority AS strat, count(*)::BIGINT AS n_h
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_h) AS BIGINT) AS n FROM n),
       |fl AS (
       |  SELECT strat, n_h, (1000 * n_h) // n AS base, (1000 * n_h) % n AS rem
       |  FROM n, tot),
       |rk AS (
       |  SELECT *, row_number() OVER (ORDER BY rem DESC, strat) AS rr,
       |         (SELECT 1000 - CAST(sum(base) AS BIGINT) FROM fl) AS deficit
       |  FROM fl),
       |al AS (
       |  SELECT strat, n_h,
       |         base + CASE WHEN rr <= deficit THEN 1 ELSE 0 END AS alloc
       |  FROM rk),
       |h AS (
       |  SELECT o_orderpriority AS strat, o_orderkey, $h62 AS hv
       |  FROM orders),
       |r AS (
       |  SELECT strat, o_orderkey,
       |         CAST(row_number() OVER (PARTITION BY strat
       |                ORDER BY hv, o_orderkey) AS BIGINT) AS rn
       |  FROM h)
       |SELECT r.strat AS o_orderpriority, r.o_orderkey, r.rn,
       |       al.n_h, al.alloc
       |FROM r JOIN al USING (strat)
       |WHERE r.rn <= al.alloc
       |ORDER BY o_orderpriority, rn""".stripMargin
  }

  /** Repetition signals. duplicate-line fraction is 0 on this corpus
    * (single-line docs) — the oracle confirms the negative exactly;
    * topTokenFraction and distinctNgramRatio carry the signal.
    */
  def q23Repetition(spark: SparkSession, dir: String): DataFrame = {
    val d = Par.fanOut(Load.table(spark, dir, "documents"))
    d.select(
      col("doc_id"),
      Scrub.duplicateLineFraction(col("text")).as("dup_line_frac"),
      Scrub.topTokenFraction(col("text")).as("top_token_frac"))
      .transform(Par.sortOnce(_, col("doc_id")))
  }

  val q23Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines,
      |    string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN len(lines) > 0
      |       THEN (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines)
      |       ELSE 0.0 END AS dup_line_frac,
      |  CASE WHEN len(toks) > 0
      |       THEN list_max(list_transform(list_distinct(toks),
      |              t -> len(list_filter(toks, x -> x = t))))::DOUBLE / len(toks)
      |       ELSE 0.0 END AS top_token_frac
      |FROM t ORDER BY doc_id""".stripMargin

  /** q99: epoch-weighted domain mixing ([[Scrub.epochMix]]) — src0
    * oversamples at 2.5 epochs, src1 subsamples to 0.5, everything else
    * passes once. The fractional epoch is an exact integer compare on
    * the stable md5 draw, so DuckDB reconstructs every replica and its
    * copy_idx; replica counts per source double-check the weights.
    */
  def q99EpochMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "source")
    Scrub.epochMix(d, "source", "doc_id",
        Map("src0" -> 2500L, "src1" -> 500L))
      .select("doc_id", "source", "copy_idx")
      .orderBy("doc_id", "copy_idx")
  }

  val q99Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 500
      |                ELSE 1000 END AS w,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS draw
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, source,
      |    w // 1000 + CASE WHEN draw * 1000 < (w % 1000) * 4294967296
      |                     THEN 1 ELSE 0 END AS n_copies
      |  FROM d)
      |SELECT doc_id, source, CAST(t.i AS BIGINT) AS copy_idx
      |FROM n, UNNEST(generate_series(1, n_copies)) t(i)
      |WHERE n_copies >= 1
      |ORDER BY doc_id, copy_idx""".stripMargin

  /** q117: multi-pattern blocklist scrub ([[graft.functions.MultiReplaceKernel]]
    * — Aho–Corasick, O(text) per doc independent of term count, vs the
    * O(terms)-per-position regex alternation it replaces at 10k-term
    * blocklist scale). The blocklist is corpus-derived (top-10 unigrams
    * + top-5 bigram phrases by frequency, ties lexicographic — the
    * heavy-hitter boilerplate a curation run actually strips), built
    * with two bounded driver collects (15 strings, the dictionary-build
    * pattern). Semantics: leftmost scan, longest match at each start,
    * non-overlapping — exactly a longest-first-alternation
    * regexp_replace, which is what the oracle runs; the kernel≡regex
    * law is property-spec'd over random corpora.
    */
  def q117MultiScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val toks = graft.text.Decontaminate.wordTokens(col("text"))
    val uni = d.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(10)
      .collect().map(_.getString(0)).toSeq
    val bi = d.select(toks.as("__tk"))
      .filter(size(col("__tk")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__tk")) - 1),
        i => concat_ws(" ", element_at(col("__tk"), i),
          element_at(col("__tk"), i + 1)))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("g")).limit(5)
      .collect().map(_.getString(0)).toSeq
    val terms = (uni ++ bi).distinct
    d.select(col("doc_id"),
      graft.functions.MultiReplaceExpr.multiReplace(
        lower(col("text")), terms, "§").as("scrubbed"))
      .orderBy("doc_id")
  }

  val q117Sql: String =
    """WITH toksd AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS tk
      |  FROM documents),
      |topu AS (
      |  SELECT w FROM (
      |    SELECT w, count(*) AS c
      |    FROM (SELECT unnest(tk) AS w FROM toksd)
      |    GROUP BY w ORDER BY c DESC, w LIMIT 10)),
      |topb AS (
      |  SELECT g FROM (
      |    SELECT g, count(*) AS c
      |    FROM (SELECT tk[i] || ' ' || tk[i + 1] AS g
      |          FROM toksd, UNNEST(generate_series(1, len(tk) - 1)) t(i)
      |          WHERE len(tk) >= 2)
      |    GROUP BY g ORDER BY c DESC, g LIMIT 5)),
      |pat AS (
      |  SELECT '(' || string_agg(t, '|' ORDER BY length(t) DESC, t) || ')' AS p
      |  FROM (SELECT w AS t FROM topu UNION SELECT g FROM topb))
      |SELECT doc_id,
      |       regexp_replace(lower(text), (SELECT p FROM pat), '§', 'g')
      |         AS scrubbed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q121: UniMax budget allocation over languages
    * ([[Scrub.uniMaxAlloc]]) — spread 2/3 of the corpus's tokens as
    * evenly as the 1-epoch capacity cap allows. On this corpus the
    * smallest language lands under the water level (capped at its full
    * capacity) while the rest split the remainder to the token,
    * exercising the cap, the equal share, AND the deterministic
    * remainder hand-out; the oracle replays the closed-form integer
    * waterfilling (prefix-sum pred → m → share/remainder) from scratch.
    */
  def q121UnimaxMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val stats = d.groupBy("lang")
      .agg(sum(size(graft.text.Decontaminate.wordTokens(col("text"))))
        .cast("long").as("tokens"))
    // bounded relation (one row per language) → driver-side total is a
    // contract-bounded eager job, like the probe-strategy choice in topK
    val total = stats.agg(sum("tokens")).head.getLong(0)
    Scrub.uniMaxAlloc(stats, "lang", "tokens",
        budget = (2L * total) / 3L, maxEpochs = 1L)
      .orderBy("lang")
  }

  val q121Sql: String =
    """WITH toks AS (
      |  SELECT lang,
      |         CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'),
      |                                  x -> x <> ''))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY lang),
      |b AS (SELECT (2 * CAST(sum(tokens) AS BIGINT)) // 3 AS budget,
      |             count(*)::BIGINT AS nl
      |      FROM toks),
      |base AS (
      |  SELECT lang, tokens, tokens * 1 AS capacity,
      |         row_number() OVER (ORDER BY tokens * 1, lang) AS l,
      |         CAST(sum(tokens * 1) OVER (ORDER BY tokens * 1, lang)
      |              AS BIGINT) AS p
      |  FROM toks),
      |pred AS (
      |  SELECT base.*, b.budget, b.nl,
      |         (capacity * (nl - l) + p <= budget) AS capped
      |  FROM base, b),
      |m AS (SELECT CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0)
      |                  AS BIGINT) AS m,
      |             CAST(coalesce(max(CASE WHEN capped THEN p END), 0)
      |                  AS BIGINT) AS pm
      |      FROM pred),
      |alloc AS (
      |  SELECT lang, tokens, capacity,
      |         CASE WHEN capped THEN capacity
      |              ELSE (budget - pm) // (nl - m)
      |                   + CASE WHEN l - m <= (budget - pm) % (nl - m)
      |                          THEN 1 ELSE 0 END END AS alloc
      |  FROM pred, m)
      |SELECT lang, tokens, capacity, alloc,
      |       (alloc * 1000) // greatest(tokens, 1) AS epochs_milli
      |FROM alloc ORDER BY lang""".stripMargin

  /** q129: temperature-based language resampling
    * ([[Scrub.temperatureMix]]) — the mT5/XLM-R p^0.3 mixture, the
    * soft complement of q121's hard UniMax cap. p^α stays float-free
    * by composing the exact binary log with its fixed-point inverse
    * ([[graft.functions.FixedLogKernel.pow2NegFix]]); the oracle
    * replays BOTH 16-step iterations — the square-and-shift log and
    * the bit-factor exponential (constants interpolated from the same
    * Scala table, so they cannot drift) — plus the largest-remainder
    * hand-out, so every allocation token hash-gates.
    */
  def q129TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val stats = d.groupBy("lang")
      .agg(sum(size(graft.text.Decontaminate.wordTokens(col("text"))))
        .cast("long").as("tokens"))
    // bounded relation (one row per language) → driver-side total is a
    // contract-bounded eager job, as in q121
    val total = stats.agg(sum("tokens")).head.getLong(0)
    Scrub.temperatureMix(stats, "lang", "tokens",
        alphaNum = 3L, alphaDen = 10L, budget = total / 2L)
      .orderBy("lang")
  }

  val q129Sql: String = {
    val cases = graft.functions.FixedLogKernel.POW2_FRAC.zipWithIndex
      .map { case (c, i) => s"WHEN $i THEN ${c}::BIGINT" }.mkString(" ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT lang,
       |         CAST(sum(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |                                  x -> x <> ''))) AS BIGINT) AS tokens
       |  FROM documents GROUP BY lang),
       |b AS (SELECT CAST(sum(tokens) AS BIGINT) // 2 AS budget,
       |             CAST(sum(tokens) AS BIGINT) AS n FROM toks),
       |pf AS (SELECT lang, tokens, (1073741824::BIGINT * tokens) // n AS p_fix
       |       FROM toks, b),
       |nrm AS (
       |  SELECT lang, greatest(p_fix, 1) AS m, 0::BIGINT AS k FROM pf
       |  UNION ALL
       |  SELECT lang, m * 2, k + 1 FROM nrm WHERE m < 1073741824),
       |normed AS (SELECT lang, m, k FROM nrm WHERE m >= 1073741824),
       |sq AS (
       |  SELECT lang, k, m, 0 AS i, 0::BIGINT AS acc FROM normed
       |  UNION ALL
       |  SELECT lang, k,
       |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
       |         i + 1,
       |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
       |  FROM (SELECT lang, k, (m * m) // 1073741824 AS m2, i, acc
       |        FROM sq WHERE i < 16) s),
       |surp AS (SELECT lang, k * 65536 - acc AS negl FROM sq WHERE i = 16),
       |ys AS (SELECT lang, (negl * 3) // 10 AS y FROM surp),
       |pw AS (
       |  SELECT lang, y, 15 AS i, 2147483648::BIGINT AS r FROM ys
       |  UNION ALL
       |  SELECT lang, y, i - 1,
       |         CASE WHEN ((y % 65536) // (1::BIGINT << i)) % 2 = 1
       |              THEN (r * CASE i $cases END) // 2147483648
       |              ELSE r END
       |  FROM pw WHERE i >= 0),
       |wv AS (SELECT lang,
       |              r // (1::BIGINT << CAST(least(y // 65536, 62) AS INTEGER))
       |                AS w_fix
       |       FROM pw WHERE i = -1),
       |ws AS (SELECT CAST(sum(w_fix) AS BIGINT) AS wt FROM wv),
       |al AS (SELECT t.lang, t.tokens, w.w_fix,
       |              (b.budget * w.w_fix) // ws.wt AS alloc0,
       |              (b.budget * w.w_fix) % ws.wt AS frac
       |       FROM toks t JOIN wv w USING (lang) CROSS JOIN ws CROSS JOIN b),
       |rm AS (SELECT b.budget - CAST(sum(alloc0) AS BIGINT) AS rem
       |       FROM al CROSS JOIN b GROUP BY b.budget),
       |rk AS (SELECT *, row_number() OVER (ORDER BY frac DESC, lang) AS rn
       |       FROM al)
       |SELECT rk.lang, rk.tokens, rk.w_fix,
       |       rk.alloc0 + CASE WHEN rk.rn <= rm.rem THEN 1 ELSE 0 END AS alloc,
       |       ((rk.alloc0 + CASE WHEN rk.rn <= rm.rem THEN 1 ELSE 0 END) * 1000)
       |         // greatest(rk.tokens, 1) AS epochs_milli
       |FROM rk CROSS JOIN rm ORDER BY rk.lang""".stripMargin
  }

  /** q140: k-anonymity audit — the data-governance gate next to the PII
    * redaction tier (q24 removes direct identifiers; this flags
    * QUASI-identifier combinations): customers grouped by the
    * (market segment, 250-unit balance bucket) tuple, any group
    * smaller than k = 5 is re-identifiable and its members are flagged
    * for suppression/generalization. One map-side-combined group count
    * broadcast back onto the rows — the flag relation stays row-aligned
    * so a downstream suppress step is a filter, not a join it has to
    * invent. All integer: bucket arithmetic and the k compare.
    */
  def q140KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val c = Load.table(spark, dir, "customer")
    val keyed = c.select(col("c_custkey"),
      when(col("c_acctbal") < 0, lit(-1L))
        .otherwise(floor(col("c_acctbal") / 250.0).cast("long"))
        .as("bal_bucket"),
      col("c_mktsegment").as("segment"))
    val sizes = keyed.groupBy("bal_bucket", "segment")
      .agg(count(lit(1)).as("group_n"))
    keyed.join(sizes, Seq("bal_bucket", "segment"))
      .select(col("c_custkey"), col("bal_bucket"),
        col("segment"), col("group_n"),
        (col("group_n") < 5).cast("int").as("reidentifiable"))
      .orderBy("c_custkey")
  }

  val q140Sql: String =
    """WITH keyed AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_acctbal < 0 THEN -1
      |              ELSE CAST(floor(c_acctbal / 250.0) AS BIGINT) END
      |           AS bal_bucket,
      |         c_mktsegment AS segment
      |  FROM customer),
      |sizes AS (
      |  SELECT bal_bucket, segment,
      |         count(*)::BIGINT AS group_n
      |  FROM keyed GROUP BY 1, 2)
      |SELECT k.c_custkey, k.bal_bucket, k.segment,
      |       s.group_n, CAST(s.group_n < 5 AS INTEGER) AS reidentifiable
      |FROM keyed k JOIN sizes s
      |  USING (bal_bucket, segment)
      |ORDER BY k.c_custkey""".stripMargin

  /** q190: Luhn-gated card detection ([[graft.text.Scrub.luhnSum]]/
    * `luhnValid`) — the PRECISION tier q24's regex redaction lacks: a
    * 13–19 digit run that fails the ISO/IEC 7812 checksum is an order
    * id, not a card. Each customer yields one VALID candidate (check
    * digit computed by the same arithmetic) and one corrupted twin
    * (+5 mod 10), and the flags must split them exactly.
    */
  def q190LuhnCards(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Scrub
    val c = Load.table(spark, dir, "customer")
      .select(col("c_custkey"),
        lpad(col("c_custkey").cast("string"), 15, "4").as("base"))
      .withColumn("__s0", Scrub.luhnSum(concat(col("base"), lit("0"))))
      .withColumn("__good", (lit(10) - col("__s0") % 10) % 10)
      .withColumn("card_ok", concat(col("base"), col("__good").cast("string")))
      .withColumn("card_bad",
        concat(col("base"), ((col("__good") + 5) % 10).cast("string")))
    c.select(col("c_custkey"), col("card_ok"),
        Scrub.luhnValid(col("card_ok")).cast("int").as("ok_is_card"),
        col("card_bad"),
        Scrub.luhnValid(col("card_bad")).cast("int").as("bad_is_card"))
      .orderBy("c_custkey")
  }

  val q190Sql: String =
    """WITH b AS (SELECT c_custkey, lpad(CAST(c_custkey AS VARCHAR),15,'4') AS base FROM customer),
      |s0 AS (
      |  SELECT b.c_custkey, b.base,
      |         sum(CASE WHEN j % 2 = 0 THEN
      |               CASE WHEN 2*CAST(substring(base || '0', len(base)+2-j, 1) AS INTEGER) > 9
      |                    THEN 2*CAST(substring(base || '0', len(base)+2-j, 1) AS INTEGER) - 9
      |                    ELSE 2*CAST(substring(base || '0', len(base)+2-j, 1) AS INTEGER) END
      |             ELSE CAST(substring(base || '0', len(base)+2-j, 1) AS INTEGER) END) AS s
      |  FROM b, UNNEST(generate_series(1, len(base)+1)) t(j)
      |  GROUP BY 1, 2),
      |cand AS (
      |  SELECT c_custkey,
      |         base || CAST((10 - s % 10) % 10 AS VARCHAR) AS card_ok,
      |         base || CAST(((10 - s % 10) % 10 + 5) % 10 AS VARCHAR) AS card_bad
      |  FROM s0),
      |chk AS (
      |  SELECT z.c_custkey AS ck, z.which,
      |         CASE WHEN len(z.cand) BETWEEN 13 AND 19 AND
      |              sum(CASE WHEN j % 2 = 0 THEN
      |                    CASE WHEN 2*CAST(substring(z.cand, len(z.cand)+1-j, 1) AS INTEGER) > 9
      |                         THEN 2*CAST(substring(z.cand, len(z.cand)+1-j, 1) AS INTEGER) - 9
      |                         ELSE 2*CAST(substring(z.cand, len(z.cand)+1-j, 1) AS INTEGER) END
      |                  ELSE CAST(substring(z.cand, len(z.cand)+1-j, 1) AS INTEGER) END) % 10 = 0
      |              THEN 1 ELSE 0 END AS flag
      |  FROM (SELECT c_custkey, card_ok AS cand, 'ok' AS which FROM cand
      |        UNION ALL SELECT c_custkey, card_bad, 'bad' FROM cand) z,
      |       UNNEST(generate_series(1, len(z.cand))) t(j)
      |  GROUP BY z.c_custkey, z.which, len(z.cand))
      |SELECT cd.c_custkey, cd.card_ok, ok.flag AS ok_is_card,
      |       cd.card_bad, bad.flag AS bad_is_card
      |FROM cand cd
      |JOIN chk ok ON ok.ck = cd.c_custkey AND ok.which = 'ok'
      |JOIN chk bad ON bad.ck = cd.c_custkey AND bad.which = 'bad'
      |ORDER BY c_custkey""".stripMargin

  /** PII redaction: text seeded with synthetic PII derived from the row
    * itself — both engines construct and redact the same strings.
    */
  def q24Redact(spark: SparkSession, dir: String): DataFrame = {
    val d = Par.fanOut(Load.table(spark, dir, "documents"))
      .withColumn("seeded", concat(
        lit("contact user"), col("doc_id"), lit("@example.org ip 10.0.0."),
        (col("doc_id") % 255).cast("string"),
        lit(" :: "), substring(col("text"), 1, 40)))
    d.select(
      col("doc_id"),
      Scrub.redactPii(col("seeded")).as("clean"),
      Scrub.piiCounts(col("seeded")).getField("emails").as("n_emails"),
      Scrub.piiCounts(col("seeded")).getField("ips").as("n_ips"))
      .transform(Par.sortOnce(_, col("doc_id")))
  }

  val q24Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    'contact user' || CAST(doc_id AS VARCHAR) || '@example.org ip 10.0.0.' ||
      |    CAST(doc_id % 255 AS VARCHAR) || ' :: ' || substring(text, 1, 40) AS seeded
      |  FROM documents)
      |SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(seeded, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS clean,
      |  len(regexp_extract_all(seeded, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  len(regexp_extract_all(seeded, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ips
      |FROM t ORDER BY doc_id""".stripMargin

  /** The composed curation pipeline — the end-to-end training-data prep
    * chain a user of this engine actually runs: quality gate → PII
    * redaction → fingerprint dedup (keep first) → token accounting. Every
    * stage is an operator oracled on its own (q21, q24, q31, q20); this
    * query holds their COMPOSITION to DuckDB hash-equality.
    */
  def q26Curation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.text.TextAnalysis
    val d = Par.fanOut(Load.table(spark, dir, "documents"))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= 0.4)
      .withColumn("seeded",
        concat(lit("contact user"), col("doc_id"), lit("@example.org :: "), col("text")))
      .withColumn("clean", Scrub.redactPii(col("seeded")))
      .withColumn("n_tokens", TextAnalysis.tokenCountWs(col("text")))
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    d.withColumn("occ", row_number().over(w)).filter(col("occ") === 1)
      .select("doc_id", "quality", "n_tokens", "clean")
      .transform(Par.sortOnce(_, col("doc_id")))
  }

  val q26Sql: String = {
    val sw = graft.text.TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    len(text) AS n,
       |    len(string_split_regex(trim(text), '\\s+')) AS ntok,
       |    (len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / len(text) AS alpha,
       |    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x IN ($sw)))::DOUBLE
       |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS swr
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, text,
       |    (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 ELSE 0.5 END) * 0.25
       |    + (CASE WHEN ntok > 0 AND n::DOUBLE/ntok >= 3 AND n::DOUBLE/ntok <= 12 THEN 1.0 ELSE 0.5 END) * 0.25
       |    + alpha * 0.25 + least(swr * 4, 1.0) * 0.25 AS quality
       |  FROM t),
       |f AS (
       |  SELECT doc_id, text, quality,
       |    'contact user' || CAST(doc_id AS VARCHAR) || '@example.org :: ' || text AS seeded,
       |    md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ֐-׿؀-ۿ]', '', 'g'), ' +', ' ', 'g')) AS fp
       |  FROM q WHERE quality >= 0.4),
       |d AS (
       |  SELECT doc_id, quality, seeded, text,
       |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS occ
       |  FROM f)
       |SELECT doc_id, quality,
       |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |  regexp_replace(
       |    regexp_replace(seeded, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |    '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g') AS clean
       |FROM d WHERE occ = 1 ORDER BY doc_id""".stripMargin
  }

  /** Deterministic hash sampling + per-source mixing — the stable,
    * engine-mirrorable form of domain reweighting.
    */
  def q25HashSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    Scrub.mixBySource(d, "source", "doc_id",
      rates = Map("src0" -> 0.0, "src1" -> 0.5, "src2" -> 1.0))
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  val q25Sql: String =
    """SELECT doc_id, source FROM documents
      |WHERE CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS BIGINT)
      |  < CAST(trunc((CASE source WHEN 'src0' THEN 0.0 WHEN 'src1' THEN 0.5
      |          WHEN 'src2' THEN 1.0 ELSE 1.0 END) * 4294967296.0) AS BIGINT)
      |ORDER BY doc_id""".stripMargin

  val rows: Seq[Query] = Seq(
    Query("q140_k_anonymity", q140KAnonymity, Some(q140Sql)),
    Query("q129_temperature_mix", q129TemperatureMix, Some(q129Sql)),
    Query("q121_unimax_mix", q121UnimaxMix, Some(q121Sql)),
    Query("q117_multi_scrub", q117MultiScrub, Some(q117Sql)),
    Query("q23_repetition", q23Repetition, Some(q23Sql)),
    Query("q24_pii_redact", q24Redact, Some(q24Sql)),
    Query("q190_luhn_cards", q190LuhnCards, Some(q190Sql)),
    Query("q25_hash_sample", q25HashSample, Some(q25Sql)),
    Query("q170_stratified_sample", q170StratifiedSample, Some(q170Sql)),
    Query("q26_curation", q26Curation, Some(q26Sql)),
    Query("q99_epoch_mix", q99EpochMix, Some(q99Sql)))
}
