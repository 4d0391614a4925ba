package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Query
import graft.functions.FixedLogExprs
import graft.ops.{Iban, Load, Ols, RobustStats}

/** Audit tier (rounds 9–10): financial-identifier validation (IBAN
  * mod-97), corpus power-law diagnostics (Zipf slope), seasonal robust
  * outlier screens, media temporal pipelines (video scenes, voice
  * activity), training-mix optimization (DoReMi), two-model data
  * selection (RHO), concentration/variance audits (Gini, matryoshka)
  * and contamination-span localization — each a composition of
  * existing kernels (fixed-point logs, OLS sums, window-lift
  * median/MAD, the KN model, the quantize grid) with its own
  * independent DuckDB oracle.
  */
object AuditQueries {

  /** q200: IBAN mod-97 audit ([[Iban]]) — the financial-identifier
    * precision tier next to q190's Luhn gate: per customer a synthetic
    * account is assembled from deterministic fields (two country
    * letters from the nation key, two check digits from the customer
    * key, an 18-digit BBAN from key + balance cents) and the ISO 7064
    * residue of the rearranged number decides validity — ~1/97 of the
    * accounts verify, exactly the ones whose key-derived check digits
    * happen to solve the congruence. Every third customer gets a
    * LETTER-HEAVY BBAN (18 letters → a 42-digit transliteration), so
    * the oracle exercises [[Iban]]'s two-half mod-97 fold, not just
    * the single-cast path (round-9 advisor: the old 38-digit guard
    * silently invalidated letter-heavy IBANs). The residue is a
    * DECIMAL(38,0) / HUGEINT chunked modulo — one narrow codegen'd
    * projection, zero shuffles before the output sort.
    */
  def q200IbanAudit(spark: SparkSession, dir: String): DataFrame = {
    val c = Load.table(spark, dir, "customer")
      .withColumn("__l1", expr("chr(65 + c_nationkey % 26)"))
      .withColumn("__l2", expr("chr(65 + (c_nationkey * 7 + 3) % 26)"))
      .withColumn("__cd",
        lpad((col("c_custkey") % 100).cast("string"), 2, "0"))
      .withColumn("__cents",
        abs((col("c_acctbal").cast(DecimalType(18, 4)) * 100)
          .cast(LongType)) % 100000000L)
      .withColumn("__digits",
        concat(lpad(col("c_custkey").cast("string"), 10, "0"),
          lpad(col("__cents").cast("string"), 8, "0")))
      // every 3rd account: map each BBAN digit to a letter (0→A … 9→J)
      // so the transliterated number is 42 digits — the fold path
      .withColumn("__bban",
        when(col("c_custkey") % 3 === 0,
          translate(col("__digits"), "0123456789", "ABCDEFGHIJ"))
          .otherwise(col("__digits")))
    c.select(col("c_custkey"),
        concat(col("__l1"), col("__l2"), col("__cd"), col("__bban"))
          .as("iban"),
        Iban.mod97(concat(col("__bban"), col("__l1"), col("__l2"),
          col("__cd"))).as("residue"))
      .withColumn("valid", (col("residue") === 1).cast("int"))
      .orderBy("c_custkey")
  }

  val q200Sql: String =
    """WITH b AS (
      |  SELECT c_custkey,
      |         chr(65 + c_nationkey % 26) AS l1,
      |         chr(65 + (c_nationkey * 7 + 3) % 26) AS l2,
      |         lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') AS cd,
      |         CASE WHEN c_custkey % 3 = 0
      |              THEN translate(lpad(CAST(c_custkey AS VARCHAR), 10, '0') ||
      |                     lpad(CAST(abs(CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100
      |                                         AS BIGINT)) % 100000000 AS VARCHAR),
      |                          8, '0'), '0123456789', 'ABCDEFGHIJ')
      |              ELSE lpad(CAST(c_custkey AS VARCHAR), 10, '0') ||
      |                     lpad(CAST(abs(CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100
      |                                         AS BIGINT)) % 100000000 AS VARCHAR),
      |                          8, '0') END AS bban
      |  FROM customer),
      |t AS (
      |  SELECT c_custkey, l1 || l2 || cd || bban AS iban,
      |         list_aggregate(
      |           [CASE WHEN x BETWEEN 'A' AND 'Z'
      |                 THEN CAST(ascii(x) - 55 AS VARCHAR) ELSE x END
      |            FOR x IN string_split(bban || l1 || l2 || cd, '')],
      |           'string_agg', '') AS d
      |  FROM b),
      |r AS (
      |  -- two-half ISO 7064 fold: 10^36 mod 97 = 64; both halves fit HUGEINT
      |  SELECT c_custkey, iban,
      |         CASE WHEN length(d) <= 36
      |              THEN CAST(CAST(d AS HUGEINT) % 97 AS BIGINT)
      |              ELSE CAST(((CAST(substr(d, 1, length(d) - 36) AS HUGEINT) % 97)
      |                           * 64
      |                         + CAST(substr(d, length(d) - 35, 36) AS HUGEINT) % 97)
      |                        % 97 AS BIGINT) END AS residue
      |  FROM t)
      |SELECT c_custkey, iban, residue,
      |       CASE WHEN residue = 1 THEN 1 ELSE 0 END AS valid
      |FROM r ORDER BY c_custkey""".stripMargin

  /** q201: Zipf slope per language — the corpus power-law diagnostic
    * (natural text ranks its vocabulary at slope ≈ −1; template spam,
    * boilerplate floods, and synthetic filler bend it): regress
    * log₂(freq) on log₂(rank) over each language's top-256 terms with
    * [[Ols.groupTrend]]'s map-side-combinable sums. Both logs are the
    * exact square-and-shift 16.16 binary log (log₂(n) = 30·2¹⁶ +
    * log2fix(n/2³⁰)), so every point — and therefore the OLS sums and
    * the 2¹⁶-floored slope — is bit-identical across engines. Scale
    * shape: ONE corpus exchange (the wordcount); the rank window and
    * the regression run on the ≤256·|langs| relation.
    */
  def q201ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val tf = Load.table(spark, dir, "documents")
      .select(col("lang"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("lang", "token").agg(count(lit(1)).as("freq"))
    val ranked = tf
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang")
          .orderBy(col("freq").desc, col("token"))))
      .filter(col("rank") <= 256)
    def lg2(c: Column): Column =
      lit(30L * 65536L) + FixedLogExprs.log2fix(c.cast("long"), 30, 16)
    val pts = ranked.select(col("lang"),
      lg2(col("rank")).as("x"), lg2(col("freq")).as("y"))
    Ols.groupTrend(pts, "lang", "x", "y").orderBy("lang")
  }

  val q201Sql: String =
    """WITH RECURSIVE tf AS (
      |  SELECT lang, token, count(*)::BIGINT AS freq
      |  FROM (SELECT lang,
      |               unnest(string_split_regex(trim(lower(text)), '\s+'))
      |                 AS token
      |        FROM documents)
      |  WHERE token <> '' GROUP BY lang, token),
      |rk AS (
      |  SELECT lang, freq,
      |         row_number() OVER (PARTITION BY lang
      |           ORDER BY freq DESC, token) AS rank
      |  FROM tf QUALIFY rank <= 256),
      |vals AS (
      |  SELECT DISTINCT v FROM (
      |    SELECT rank AS v FROM rk UNION SELECT freq FROM rk)),
      |nrm AS (
      |  SELECT v, greatest(v, 1) AS m, 0::BIGINT AS k FROM vals
      |  UNION ALL
      |  SELECT v, m * 2, k + 1 FROM nrm WHERE m < 1073741824),
      |normed AS (SELECT v, m, k FROM nrm WHERE m >= 1073741824),
      |sq AS (
      |  SELECT v, k, m, 0 AS i, 0::BIGINT AS acc FROM normed
      |  UNION ALL
      |  SELECT v, k,
      |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
      |         i + 1,
      |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
      |  FROM (SELECT v, k, (m * m) // 1073741824 AS m2, i, acc
      |        FROM sq WHERE i < 16) s),
      |lgv AS (SELECT v, 1966080 + acc - k * 65536 AS lg
      |        FROM sq WHERE i = 16),
      |pts AS (
      |  SELECT rk.lang, lx.lg AS x0, ly.lg AS y
      |  FROM rk JOIN lgv lx ON lx.v = rk.rank
      |          JOIN lgv ly ON ly.v = rk.freq),
      |based AS (
      |  SELECT lang,
      |         (x0 - min(x0) OVER (PARTITION BY lang))::HUGEINT AS x,
      |         y::HUGEINT AS y
      |  FROM pts),
      |s AS (
      |  SELECT lang, count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM based GROUP BY 1),
      |d AS (
      |  SELECT lang, n, n * sxy - sx * sy AS cov, n * sxx - sx * sx AS vx,
      |         n * syy - sy * sy AS vy, sy * sxx - sx * sxy AS inum
      |  FROM s)
      |SELECT lang, CAST(n AS BIGINT) AS n,
      |       CASE WHEN vx = 0 THEN NULL ELSE
      |         CAST((CASE WHEN cov < 0 THEN -1 ELSE 1 END)
      |              * ((abs(cov) * 65536) // vx) AS BIGINT) END AS slope_fix,
      |       CASE WHEN vx = 0 THEN NULL ELSE
      |         CAST((CASE WHEN inum < 0 THEN -1 ELSE 1 END)
      |              * ((abs(inum) * 65536) // vx) AS BIGINT) END
      |         AS intercept_fix,
      |       CASE WHEN vx = 0 OR vy = 0 THEN NULL ELSE
      |         CAST(((abs(cov) * 32768) // vx) * ((abs(cov) * 32768) // vy)
      |              AS BIGINT) END AS r2_fix
      |FROM d ORDER BY lang""".stripMargin

  /** q202: seasonal robust outlier screen — day-of-week baselines for
    * event volume: daily counts per (event_type, day-of-week), then
    * [[RobustStats.medianMadOutliers]]'s window-lift median/MAD flags
    * the days whose volume breaks their weekday's norm (the Monday
    * traffic that looks nothing like other Mondays). A second consumer
    * of the q171 single-pass operator: one corpus-collapsing count,
    * then the screen runs on the |types|·7-keyed daily relation.
    */
  def q202SeasonalOutliers(spark: SparkSession, dir: String): DataFrame = {
    val daily = Load.events(spark, dir)
      .select(col("event_type"),
        expr("ts_ns div 86400000000000").as("__day"))
      .groupBy("event_type", "__day").agg(count(lit(1)).as("cnt"))
      // 1970-01-01 is a Thursday; dow 0 = Thursday by this convention
      .withColumn("dow", (col("__day") + 4) % 7)
    RobustStats.medianMadOutliers(daily, Seq("event_type", "dow"), "cnt")
      .orderBy("event_type", "dow")
  }

  val q202Sql: String =
    """WITH v AS (
      |  SELECT event_type, (day + 4) % 7 AS dow, count(*)::BIGINT AS cnt
      |  FROM (SELECT event_type, epoch_us(ts) // 86400000000 AS day
      |        FROM events)
      |  GROUP BY event_type, day),
      |r AS (
      |  SELECT *, row_number() OVER
      |           (PARTITION BY event_type, dow ORDER BY cnt) AS rn,
      |         count(*) OVER (PARTITION BY event_type, dow) AS n
      |  FROM v),
      |med AS (
      |  SELECT event_type, dow, cnt AS med
      |  FROM r WHERE rn = (n + 1) // 2),
      |dv AS (
      |  SELECT v.event_type, v.dow, v.cnt, m.med,
      |         abs(v.cnt - m.med) AS adev
      |  FROM v JOIN med m USING (event_type, dow)),
      |r2 AS (
      |  SELECT *, row_number() OVER
      |           (PARTITION BY event_type, dow ORDER BY adev) AS rn,
      |         count(*) OVER (PARTITION BY event_type, dow) AS n
      |  FROM dv),
      |mad AS (
      |  SELECT event_type, dow, adev AS mad
      |  FROM r2 WHERE rn = (n + 1) // 2)
      |SELECT d.event_type, d.dow, count(*)::BIGINT AS n,
      |       CAST(min(d.med) AS BIGINT) AS med,
      |       CAST(min(m.mad) AS BIGINT) AS mad,
      |       sum(CASE WHEN 6745 * d.adev > 35000 * m.mad
      |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
      |FROM dv d JOIN mad m USING (event_type, dow)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q203: l-diversity audit — the disclosure screen k-anonymity (q140)
    * misses: a quasi-identifier cell can hold ≥ k rows yet leak the
    * sensitive attribute when all of them share its value. Per
    * (balance-bucket, segment) cell: group size, the number of DISTINCT
    * sensitive values (nation), and the modal value's share as a 2¹⁶
    * floor — `diverse` requires l ≥ 3 AND modal share ≤ ½. Scale
    * shape: one map-side-combined (cell, value) count, then every
    * window/rollup runs on the ≤|cells|·|values| relation — the corpus
    * is touched once.
    */
  def q203LDiversity(spark: SparkSession, dir: String): DataFrame = {
    // bucket on exact integer cents (q171 pattern), never float division:
    // 2-dp balances make DECIMAL(18,4)*100 integer-valued, so `div 25000`
    // is floor(bal/250) without either engine's decimal→double path
    val keyed = Load.table(spark, dir, "customer")
      .select(
        when(col("c_acctbal") < 0, lit(-1L))
          .otherwise(expr(
            "CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT) div 25000"))
          .as("bal_bucket"),
        col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nation"))
    val cells = keyed.groupBy("bal_bucket", "segment", "nation")
      .agg(count(lit(1)).as("__c"))
    cells.groupBy("bal_bucket", "segment")
      .agg(sum("__c").as("group_n"),
        count(lit(1)).as("l_distinct"),
        max("__c").as("__modal"))
      .withColumn("modal_share_fix",
        expr("(CAST(__modal AS DECIMAL(38,0)) * 65536) div group_n")
          .cast("long"))
      .withColumn("diverse",
        (col("l_distinct") >= 3 &&
          lit(2L) * col("__modal") <= col("group_n")).cast("int"))
      .select(col("bal_bucket"), col("segment"),
        col("group_n").cast("long").as("group_n"),
        col("l_distinct").cast("long").as("l_distinct"),
        col("modal_share_fix"), col("diverse"))
      .orderBy("bal_bucket", "segment")
  }

  val q203Sql: String =
    """WITH keyed AS (
      |  SELECT CASE WHEN c_acctbal < 0 THEN -1
      |              ELSE CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT)
      |                     // 25000 END
      |           AS bal_bucket,
      |         c_mktsegment AS segment,
      |         CAST(c_nationkey AS BIGINT) AS nation
      |  FROM customer),
      |cells AS (
      |  SELECT bal_bucket, segment, nation, count(*)::BIGINT AS c
      |  FROM keyed GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT bal_bucket, segment, sum(c)::BIGINT AS group_n,
      |         count(*)::BIGINT AS l_distinct, max(c)::HUGEINT AS modal
      |  FROM cells GROUP BY 1, 2)
      |SELECT bal_bucket, segment, group_n, l_distinct,
      |       CAST((modal * 65536) // group_n AS BIGINT) AS modal_share_fix,
      |       CASE WHEN l_distinct >= 3 AND 2 * modal <= group_n
      |            THEN 1 ELSE 0 END AS diverse
      |FROM g ORDER BY bal_bucket, segment""".stripMargin

  /** q204: tokenizer fertility — bytes per token per language, the
    * compression diagnostic that decides whether a tokenizer is fair
    * to a language (high bytes/token = cheap; a language forced into
    * char-level splits pays 3–4× the sequence length for the same
    * content). Runs q101's fixed BPE merge table over every document
    * and rolls token counts per language: the corpus work is the
    * narrow codegen'd encode + ONE language-keyed aggregation; the
    * fixed-point ratio divides on the |langs| relation.
    */
  def q204TokenFertility(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .select("doc_id", "lang", "text")
    val perDoc = graft.text.Bpe.encode(d.select("doc_id", "text"), "text",
        SearchQueries.q101Merges, sep = "+")
      .groupBy("doc_id").agg(count(lit(1)).as("__toks"))
    d.join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("__toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("__toks").as("n_tokens"),
        sum(octet_length(col("text")).cast("long")).as("n_bytes"))
      .withColumn("bytes_per_token_fix",
        when(col("n_tokens") > 0,
          expr("(CAST(n_bytes AS DECIMAL(38,0)) * 65536) div n_tokens")
            .cast("long")))
      .orderBy("lang")
  }

  val q204Sql: String = {
    val chain = SearchQueries.q101Merges.foldLeft(
      """regexp_replace(word, '(.)', ' \1 ', 'g')""") { case (acc, (l, r)) =>
      s"replace($acc, ' $l  $r ', ' $l+$r ')"
    }
    s"""WITH words AS (
       |  SELECT doc_id, w[i] AS word
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      x -> x <> '') AS w
       |        FROM documents),
       |       UNNEST(generate_series(1, len(w))) t(i)),
       |enc AS (SELECT doc_id, $chain AS s FROM words),
       |perdoc AS (
       |  SELECT doc_id,
       |         sum(len(list_filter(string_split(s, ' '), x -> x <> '')))
       |           ::BIGINT AS toks
       |  FROM enc GROUP BY 1),
       |lg AS (
       |  SELECT d.lang, count(*)::BIGINT AS n_docs,
       |         sum(coalesce(p.toks, 0))::BIGINT AS n_tokens,
       |         sum(strlen(d.text))::BIGINT AS n_bytes
       |  FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |  GROUP BY 1)
       |SELECT lang, n_docs, n_tokens, n_bytes,
       |       CASE WHEN n_tokens > 0 THEN
       |         CAST((n_bytes::HUGEINT * 65536) // n_tokens AS BIGINT)
       |       END AS bytes_per_token_fix
       |FROM lg ORDER BY lang""".stripMargin
  }

  /** q205: CCNet-style perplexity buckets — per language, docs split
    * into head / middle / tail terciles by Kneser–Ney perplexity (the
    * CCNet curation signal: head = fluent, tail = likely junk, middle
    * = the gray zone worth a second screen). Per-doc surprisal is
    * q102's float-free fixed-point model verbatim; the per-bigram rate
    * becomes the 2¹⁶-floored `ppl_fix` sort key and the tercile is the
    * closed-form ((rank−1)·3) div n — a value-function of the exact
    * rank, so both engines bucket identically even on ties (doc_id
    * tiebreak). Exact tier: the per-lang rank is a sort window; the
    * 100 TB swap is EXECUTABLE (round-9 verdict #6):
    * `sketch = true` (the bench-only q205s row) routes the same bucket
    * algebra through [[Quantiles.rankBuckets]]' mergeable histogram
    * (QuantileTierSpec pins tier agreement; the oracle row runs the
    * exact tier).
    */
  def q205PerplexityBuckets(spark: SparkSession, dir: String,
      sketch: Boolean): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val model = graft.text.KneserNey.bigramModel(d, "text")
    val pp = graft.text.KneserNey.perplexityBits(model, d, "text", "doc_id")
      .filter(col("n_bigrams") > 0)
      .withColumn("ppl_fix",
        expr("(CAST(bits_fix AS DECIMAL(38,0)) * 65536) div n_bigrams")
          .cast("long"))
    graft.ops.Quantiles.rankBuckets(
        pp.join(d.select("doc_id", "lang"), Seq("doc_id")),
        Seq("lang"), "ppl_fix", "doc_id", k = 3, outCol = "bucket",
        sketch = sketch)
      .select(col("doc_id"), col("lang"), col("ppl_fix"), col("bucket"))
      .orderBy("doc_id")
  }

  val q205Sql: String =
    s"""WITH base AS (
       |${TextQueries.q102Sql.replace("ORDER BY d.doc_id", "")}
       |),
       |p AS (
       |  SELECT b.doc_id, d.lang,
       |         CAST((b.bits_fix::HUGEINT * 65536) // b.n_bigrams AS BIGINT)
       |           AS ppl_fix
       |  FROM base b JOIN documents d USING (doc_id)
       |  WHERE b.n_bigrams > 0),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |           ORDER BY ppl_fix, doc_id) AS rank,
       |         count(*) OVER (PARTITION BY lang) AS n
       |  FROM p)
       |SELECT doc_id, lang, ppl_fix, ((rank - 1) * 3) // n AS bucket
       |FROM r ORDER BY doc_id""".stripMargin

  /** q206: video scene segmentation + cross-video dedup
    * ([[graft.multimodal.VideoDedup]]) — the temporal multimodal tier:
    * deterministic synthetic videos (frame arrays of REAL PNGs, scene
    * change every 3 frames, replicas planted at id%13) run the full
    * pipeline — narrow frame explode → per-frame DCT pHash → run-length
    * scene collapse on one video-keyed window → 16-byte sequence
    * fingerprint dedup. The oracle derives every expected value from
    * the construction arithmetic (q75's pattern): frames = 6 + id%5,
    * segments = ⌈frames/3⌉, dup group 2 iff the replica exists — so
    * the decode → hash → window → fingerprint path must be exactly
    * right to reproduce the closed-form columns. The corpus also
    * plants the decode ERROR POLICY end-to-end: id%11 videos carry a
    * truncated PNG frame (counted in n_bad_frames, transparent to the
    * scene run-length) and id%17 ships an additional EMPTY video
    * (n_frames = 0 spine row; all empty videos share the empty
    * fingerprint, so their dup group is the planted-empty count).
    */
  def q206VideoSceneDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{Multimodal, VideoDedup}
    VideoDedup.sceneSummary(Multimodal.syntheticVideos(spark, dir),
        "video_id", "frames", Multimodal.ImageIoDecoder)
      .orderBy("video_id")
  }

  val q206Sql: String =
    """WITH base AS (
      |  SELECT doc_id AS b FROM documents WHERE doc_id % 7 = 0),
      |vids AS (
      |  SELECT b AS video_id, b, 0 AS empty FROM base
      |  UNION ALL
      |  SELECT b + 10000000, b, 0 FROM base WHERE b % 13 = 0
      |  UNION ALL
      |  SELECT b + 20000000, b, 1 FROM base WHERE b % 17 = 0),
      |n_empty AS (SELECT count(*)::BIGINT AS c FROM base WHERE b % 17 = 0)
      |SELECT video_id,
      |       CAST(CASE WHEN empty = 1 THEN 0 ELSE 6 + b % 5 END AS BIGINT)
      |         AS n_frames,
      |       CAST(CASE WHEN empty = 1 THEN 0 ELSE (6 + b % 5 + 2) // 3 END
      |            AS BIGINT) AS n_segments,
      |       CAST(CASE WHEN empty = 0 AND b % 11 = 0 THEN 1 ELSE 0 END
      |            AS BIGINT) AS n_bad_frames,
      |       CAST(CASE WHEN empty = 1 THEN (SELECT c FROM n_empty)
      |                 WHEN b % 13 = 0 THEN 2 ELSE 1 END AS BIGINT)
      |         AS dup_group_size
      |FROM vids ORDER BY video_id""".stripMargin

  /** q207: voice-activity segmentation
    * ([[graft.multimodal.AudioSegments]]) — the audio twin of q206:
    * REAL WAV decode (JDK javax.sound) to per-window integer energies,
    * digital-silence windows (energy exactly 0 on the 16-bit grid)
    * collapse with their neighbors into talk/silence segments. The
    * synthetic speech plants silence at (id + window) % 3 == 0, so the
    * oracle replays the whole VAD — islands and all — from arithmetic
    * on (id, window index) without touching a byte of audio: the
    * decode → energy → run-length path must reproduce it exactly.
    * The corpus also plants the decode error policy: id%13==5 blobs
    * are NOT audio (decode_ok = 0, zeroed counters, never dropped) and
    * id%13==7 blobs are valid zero-sample WAVs (n_windows = 0,
    * decode_ok = 1, NULL ratio).
    */
  def q207VoiceActivity(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{AudioSegments, Multimodal}
    AudioSegments.silenceSegments(Multimodal.syntheticSpeech(spark, dir),
        "doc_id", "blob", Multimodal.JavaSoundCodec, windowSamples = 400)
      .orderBy("doc_id")
  }

  val q207Sql: String =
    """WITH ids AS (
      |  SELECT doc_id AS id FROM documents WHERE doc_id % 7 = 3),
      |w AS (
      |  SELECT id, j AS widx,
      |         CASE WHEN (id + j) % 3 = 0 THEN 1 ELSE 0 END AS sil
      |  FROM ids, UNNEST(generate_series(0, 19 + CAST(id % 5 AS INTEGER)))
      |       t(j)
      |  WHERE id % 13 <> 5 AND id % 13 <> 7),
      |r AS (
      |  SELECT *, lag(sil) OVER (PARTITION BY id ORDER BY widx) AS prev
      |  FROM w),
      |seg AS (
      |  SELECT id, count(*)::BIGINT AS n_windows,
      |         sum(CASE WHEN prev IS NULL OR prev <> sil
      |                  THEN 1 ELSE 0 END)::BIGINT AS n_segments,
      |         sum(1 - sil)::BIGINT AS speech_windows
      |  FROM r GROUP BY id)
      |SELECT id AS doc_id, n_windows, n_segments, speech_windows,
      |       CAST((speech_windows::HUGEINT * 65536) // n_windows AS BIGINT)
      |         AS speech_ratio_fix,
      |       CAST(1 AS BIGINT) AS decode_ok
      |FROM seg
      |UNION ALL
      |-- planted error-policy rows: id%13==5 undecodable, id%13==7 a
      |-- valid zero-sample WAV — both surface with zeroed counters
      |SELECT id, 0, 0, 0, NULL,
      |       CASE WHEN id % 13 = 5 THEN 0 ELSE 1 END
      |FROM ids WHERE id % 13 = 5 OR id % 13 = 7
      |ORDER BY doc_id""".stripMargin

  /** q208: DoReMi-style mixture reweighting, one exponentiated-gradient
    * step — the training-mix optimizer above the static mixers (q121
    * UniMax, q129 temperature): per SOURCE domain, excess loss =
    * max(0, domain bits/bigram − corpus bits/bigram) (q102's
    * fixed-point KN model as the proxy reference loss), and the new
    * weight multiplies the domain's token mass by 2^(excess/4) — the
    * EG update that upweights domains the reference model finds hard.
    * Everything stays on the integer grid: domain loss is the
    * AGGREGATE ratio (Σbits·2¹⁶) div Σbigrams (never a float mean of
    * ratios), and 2^(m) for m = k·2¹⁶+f ≥ 0 is built from the exact
    * bit-factor kernel as pow2NegFix(2¹⁶−f) << (k+1) — so any engine
    * reproduces every weight bit. Scale shape: the corpus collapses in
    * q102's model pass + ONE source-keyed aggregation; the EG update
    * runs on the |sources| relation.
    */
  def q208DoremiStep(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val model = graft.text.KneserNey.bigramModel(d, "text")
    val pp = graft.text.KneserNey.perplexityBits(model, d, "text", "doc_id")
    val dom = pp.join(d.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(sum("n_bigrams").as("n_bigrams"), sum("bits_fix").as("__bits"))
      .filter(col("n_bigrams") > 0)
      // bits_fix is ALREADY 16.16 (q102's surprisal scale): the per-
      // bigram rate is a plain integral divide, no rescale
      .withColumn("loss_fix",
        expr("CAST(__bits AS DECIMAL(38,0)) div n_bigrams").cast("long"))
    val tot = dom.agg(sum("__bits").as("__tb"), sum("n_bigrams").as("__tn"))
      .select(expr("CAST(__tb AS DECIMAL(38,0)) div __tn")
        .cast("long").as("__ref"))
    val stepped = dom.crossJoin(broadcast(tot))
      .withColumn("excess_fix",
        greatest(lit(0L), col("loss_fix") - col("__ref")))
      // eta = 1/4; m = k*2^16 + f >= 0; 2^m*2^31 via the exact kernel
      .withColumn("__m", expr("excess_fix div 4"))
      .withColumn("__k", expr("__m div 65536"))
      .withColumn("__f", expr("__m % 65536"))
      // excess is bounded by the 30-bit probability floor (≤ 30·2¹⁶),
      // so k = excess div 4 div 2¹⁶ ≤ 7 and every shift stays in BIGINT
      .withColumn("__mult",
        when(col("__f") === 0L,
          expr(s"CAST(shiftleft(CAST(${1L << 31} AS BIGINT), " +
            "CAST(__k AS INT)) AS DECIMAL(38,0))"))
          .otherwise(
            FixedLogExprs.pow2NegFix(lit(65536L) - col("__f"))
              .cast(DecimalType(38, 0)) *
              expr("CAST(shiftleft(CAST(1 AS BIGINT), " +
                "CAST(__k + 1 AS INT)) AS DECIMAL(38,0))")))
      .withColumn("__raw", col("n_bigrams").cast(DecimalType(38, 0)) *
        col("__mult"))
    val denom = stepped.agg(sum("__raw").as("__den"))
    stepped.crossJoin(broadcast(denom))
      .withColumn("weight_fix",
        expr(s"(__raw * ${1L << 20}) div __den").cast("long"))
      .select(col("source"), col("n_bigrams"), col("loss_fix"),
        col("excess_fix"), col("weight_fix"))
      .orderBy("source")
  }

  val q208Sql: String = {
    val cases = graft.functions.FixedLogKernel.POW2_FRAC.zipWithIndex
      .map { case (c, i) => s"WHEN $i THEN ${c}::BIGINT" }.mkString(" ")
    s"""WITH RECURSIVE base AS (
       |${TextQueries.q102Sql.replace("ORDER BY d.doc_id", "")}
       |),
       |dom AS (
       |  SELECT d.source, sum(b.n_bigrams)::BIGINT AS n_bigrams,
       |         sum(b.bits_fix)::HUGEINT AS bits
       |  FROM base b JOIN documents d USING (doc_id)
       |  GROUP BY 1 HAVING sum(b.n_bigrams) > 0),
       |ref AS (
       |  SELECT CAST(sum(bits) // sum(n_bigrams) AS BIGINT) AS ref
       |  FROM dom),
       |ex AS (
       |  SELECT source, n_bigrams,
       |         CAST(bits // n_bigrams AS BIGINT) AS loss_fix,
       |         greatest(0, CAST(bits // n_bigrams AS BIGINT) - ref)
       |           AS excess_fix
       |  FROM dom, ref),
       |mkf AS (
       |  SELECT source, n_bigrams, loss_fix, excess_fix,
       |         (excess_fix // 4) // 65536 AS k,
       |         (excess_fix // 4) % 65536 AS f
       |  FROM ex),
       |pw AS (
       |  SELECT source, k, f, 15 AS i, 2147483648::BIGINT AS r
       |  FROM mkf WHERE f <> 0
       |  UNION ALL
       |  SELECT source, k, f, i - 1,
       |         CASE WHEN (((65536 - f) % 65536) // (1::BIGINT << i)) % 2 = 1
       |              THEN (r * CASE i $cases END) // 2147483648
       |              ELSE r END
       |  FROM pw WHERE i >= 0),
       |mult AS (
       |  SELECT m.source,
       |         CASE WHEN m.f = 0
       |              THEN 2147483648::HUGEINT * (1::BIGINT << CAST(m.k AS INTEGER))
       |              ELSE p.r::HUGEINT * (1::BIGINT << CAST(m.k + 1 AS INTEGER))
       |         END AS mult
       |  FROM mkf m LEFT JOIN (SELECT source, r FROM pw WHERE i = -1) p
       |    USING (source)),
       |raw AS (
       |  SELECT m.source, k.n_bigrams, k.loss_fix, k.excess_fix,
       |         k.n_bigrams::HUGEINT * m.mult AS raw
       |  FROM mult m JOIN mkf k USING (source)),
       |den AS (SELECT sum(raw) AS den FROM raw)
       |SELECT source, n_bigrams, loss_fix, excess_fix,
       |       CAST((raw * ${1L << 20}) // den AS BIGINT) AS weight_fix
       |FROM raw, den ORDER BY source""".stripMargin
  }

  /** q209: RHO-style two-model data selection — the selection tier
    * above the single-model gates (q102 absolute perplexity, q205
    * terciles): train the SAME fixed-point Kneser–Ney model twice —
    * on the full corpus (the "current" model) and on a curated
    * reference slice (doc_id % 5 == 0, the stand-in for the clean
    * corpus a reference model is trained on) — score every document
    * with both, and select documents whose EXCESS rate
    * (bits/bigram under the current model − bits/bigram under the
    * reference model) is positive: content the reference model finds
    * easy relative to the corpus at large, i.e. clean-like data worth
    * upweighting (Lin et al.'s RHO-1 selection shape at document
    * granularity). Bigrams absent from the reference model score the
    * 30-bit OOV floor, so the contrast degrades gracefully instead of
    * dropping rows. Everything stays on the integer grid: both rates
    * are the q205 DECIMAL(38,0) per-bigram floors, the excess is a
    * long subtraction, and the selection is an integer compare.
    *
    * Scale shape: two wordcount-family model builds + two scoring
    * passes (each ONE distinct-doc-bigram join, q102's shape); the
    * final contrast is a doc-keyed 1:1 join. No corpus re-shuffle
    * beyond the four map-side-combined aggregations.
    */
  def q209RhoSelection(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.KneserNey
    val d = Load.table(spark, dir, "documents")
    val ref = d.filter(col("doc_id") % 5 === 0)
    def rate(model: DataFrame, out: String): DataFrame =
      KneserNey.perplexityBits(model, d, "text", "doc_id")
        .filter(col("n_bigrams") > 0)
        .select(col("doc_id"), col("n_bigrams"),
          expr("(CAST(bits_fix AS DECIMAL(38,0)) * 65536) div n_bigrams")
            .cast("long").as(out))
    val full = rate(KneserNey.bigramModel(d, "text"), "rate_full")
    val refd = rate(KneserNey.bigramModel(ref, "text"), "rate_ref")
      .drop("n_bigrams")
    full.join(refd, Seq("doc_id"))
      .withColumn("excess_fix",
        greatest(col("rate_full") - col("rate_ref"), lit(0L)))
      .withColumn("selected", (col("excess_fix") > 0).cast("int"))
      .orderBy("doc_id")
  }

  /** One KN chain (counts → model → 16-step integer log → per-doc
    * score) over the shared `bg`/`docb` CTEs, parameterized by a
    * training filter — q102's oracle chain with suffixed CTE names so
    * q209 composes TWO of them in one WITH RECURSIVE. The LEFT JOIN +
    * 1966080 (= 30·2¹⁶) coalesce mirrors perplexityBits' OOV floor. */
  private def knScoredSql(s: String, trainFilter: String): String =
    s"""cvw$s AS (SELECT v, w, count(*)::BIGINT AS c_vw FROM bg
       |          WHERE $trainFilter GROUP BY v, w),
       |by_v$s AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
       |                  count(*)::BIGINT AS n1_v FROM cvw$s GROUP BY v),
       |by_w$s AS (SELECT w, count(*)::BIGINT AS n1_w FROM cvw$s GROUP BY w),
       |tot$s AS (SELECT count(*)::BIGINT AS n_bb FROM cvw$s),
       |model$s AS (
       |  SELECT v, w,
       |    CAST((1073741824::BIGINT * (4 * c_vw - 3)) // (4 * c_v)
       |       + ((1073741824::BIGINT * 3 * n1_v) // (4 * c_v)) * n1_w // n_bb
       |      AS BIGINT) AS p_fix
       |  FROM cvw$s JOIN by_v$s USING (v) JOIN by_w$s USING (w), tot$s),
       |nrm$s AS (
       |  SELECT v, w, greatest(p_fix, 1) AS m, 0::BIGINT AS k FROM model$s
       |  UNION ALL
       |  SELECT v, w, m * 2, k + 1 FROM nrm$s WHERE m < 1073741824),
       |sq$s AS (
       |  SELECT v, w, k, m, 0 AS i, 0::BIGINT AS acc
       |  FROM nrm$s WHERE m >= 1073741824
       |  UNION ALL
       |  SELECT v, w, k,
       |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
       |         i + 1,
       |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
       |  FROM (SELECT v, w, k, (m * m) // 1073741824 AS m2, i, acc
       |        FROM sq$s WHERE i < 16) t),
       |surp$s AS (SELECT v, w, k * 65536 - acc AS bits FROM sq$s WHERE i = 16),
       |scored$s AS (
       |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       |         CAST(sum(cnt * coalesce(bits, 1966080)) AS BIGINT) AS bits_fix
       |  FROM docb LEFT JOIN surp$s USING (v, w) GROUP BY doc_id)""".stripMargin

  val q209Sql: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |                             x -> x <> '') AS tk
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, tk[i] AS v, tk[i + 1] AS w
       |  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) t(i)
       |  WHERE len(tk) >= 2),
       |docb AS (SELECT doc_id, v, w, count(*)::BIGINT AS cnt
       |         FROM bg GROUP BY doc_id, v, w),
       |${knScoredSql("_f", "TRUE")},
       |${knScoredSql("_r", "doc_id % 5 = 0")},
       |rates AS (
       |  SELECT f.doc_id, f.n_bigrams,
       |         CAST((f.bits_fix::HUGEINT * 65536) // f.n_bigrams AS BIGINT)
       |           AS rate_full,
       |         CAST((r.bits_fix::HUGEINT * 65536) // r.n_bigrams AS BIGINT)
       |           AS rate_ref
       |  FROM scored_f f JOIN scored_r r USING (doc_id)
       |  WHERE f.n_bigrams > 0)
       |SELECT doc_id, n_bigrams, rate_full, rate_ref,
       |       greatest(rate_full - rate_ref, 0) AS excess_fix,
       |       CAST(rate_full - rate_ref > 0 AS INTEGER) AS selected
       |FROM rates ORDER BY doc_id""".stripMargin

  /** q210: token-mass concentration per source — the Gini coefficient
    * of the per-document token distribution, the corpus-balance
    * diagnostic next to q201's Zipf slope (Zipf asks whether a
    * language's VOCABULARY is natural; this asks whether a source's
    * DOCUMENT MASS is — a source where three mega-documents carry 90%
    * of the tokens needs chunk-level sampling, not doc-level). Exact
    * Lorenz algebra on integers: docs ranked ascending by (tokens,
    * doc_id), G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) as a 2¹⁶ floor in
    * DECIMAL(38,0) — tie-order inside equal token counts cannot change
    * Σi·xᵢ, so the rank window is engine-stable without caveats.
    *
    * Scale shape: the corpus collapses to (source, doc, tokens) in a
    * narrow pass; ONE source-keyed sort window ranks it; one
    * aggregation finishes. 100 TB swap: rank through the q118
    * histogram (Lorenz from bucket cumulative masses), same algebra.
    */
  def q210GiniConcentration(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val toks = d.select(col("source"), col("doc_id"),
      size(graft.text.Decontaminate.wordTokens(col("text")))
        .cast("long").as("tok"))
    val w = Window.partitionBy("source").orderBy(col("tok"), col("doc_id"))
    toks.withColumn("__i", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("tok").as("total_tokens"),
        sum(expr("CAST(__i AS DECIMAL(38,0)) * tok")).as("__ixt"))
      .withColumn("gini_fix",
        when(col("total_tokens") > 0, expr(
          """CAST(((2 * __ixt - (CAST(n_docs AS DECIMAL(38,0)) + 1)
            |       * total_tokens) * 65536)
            |     div (CAST(n_docs AS DECIMAL(38,0)) * total_tokens)
            |     AS BIGINT)""".stripMargin)))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("total_tokens").cast("long").as("total_tokens"), col("gini_fix"))
      .orderBy("source")
  }

  val q210Sql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |         len(list_filter(string_split_regex(lower(text), '\s+'),
      |                         x -> x <> ''))::BIGINT AS tok
      |  FROM documents),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |                               ORDER BY tok, doc_id) AS i
      |  FROM t),
      |g AS (
      |  SELECT source, count(*)::BIGINT AS n_docs,
      |         CAST(sum(tok) AS BIGINT) AS total_tokens,
      |         CAST(sum(i::HUGEINT * tok) AS HUGEINT) AS ixt
      |  FROM r GROUP BY source)
      |SELECT source, n_docs, total_tokens,
      |       CASE WHEN total_tokens > 0 THEN
      |         CAST(((2 * ixt - (n_docs::HUGEINT + 1) * total_tokens) * 65536)
      |              // (n_docs::HUGEINT * total_tokens) AS BIGINT)
      |       END AS gini_fix
      |FROM g ORDER BY source""".stripMargin

  /** q211: matryoshka prefix-variance audit over the embedding corpus
    * — for each dimension index d, the exact variance mass of
    * components 1..d as a share of the total: the measurement behind
    * truncating matryoshka-style embeddings (can dim 16 of 64 carry
    * 95% of the corpus variance?). Exact by the q110 discipline:
    * components quantize to 2⁻¹⁶ integers, per-dimension n·Σv² − (Σv)²
    * runs in DECIMAL(38,0) (n² × variance — never a float mean), the
    * cumulative share is a 2¹⁶ floor, and `covers95` cross-multiplies.
    *
    * Scale shape: the corpus collapses in ONE narrow posexplode +
    * map-side-combined per-dimension aggregation (≤ |dims| rows out);
    * the prefix window and the total run on that |dims| relation —
    * its unpartitioned window is deliberate (q172's pattern).
    */
  def q211MatryoshkaVariance(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.table(spark, dir, "embeddings")
    val q = e.select(posexplode(transform(col("embedding"),
      x => floor(x.cast("double") * 65536d).cast("long")))
      .as(Seq("dim", "__v")))
    val perDim = q.groupBy("dim")
      .agg(count(lit(1)).as("__n"),
        sum(expr("CAST(__v AS DECIMAL(38,0))")).as("__s"),
        sum(expr("CAST(__v AS DECIMAL(38,0)) * __v")).as("__s2"))
      .withColumn("__var", expr("__n * __s2 - __s * __s"))
    val w = Window.orderBy("dim")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDim
      .withColumn("__cum", sum("__var").over(w))
      .withColumn("__tot", sum("__var").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("dim").cast("long").as("dim"),
        expr("CAST(__var div (__n * __n) AS BIGINT)").as("var_fix"),
        expr("CAST((__cum * 65536) div __tot AS BIGINT)").as("cum_share_fix"),
        expr("CAST(__cum * 100 >= __tot * 95 AS INT)").as("covers95"))
      .orderBy("dim")
  }

  val q211Sql: String =
    """WITH q AS (
      |  SELECT i - 1 AS dim,
      |         CAST(floor(e[i] * 65536) AS BIGINT) AS v
      |  FROM (SELECT embedding::DOUBLE[] AS e FROM embeddings),
      |       UNNEST(generate_series(1, len(e))) t(i)),
      |d AS (
      |  SELECT dim, count(*)::HUGEINT AS n,
      |         CAST(sum(v) AS HUGEINT) AS s,
      |         CAST(sum(v::HUGEINT * v) AS HUGEINT) AS s2
      |  FROM q GROUP BY dim),
      |vv AS (SELECT dim, n, n * s2 - s * s AS var FROM d),
      |c AS (
      |  SELECT dim, n, var,
      |         sum(var) OVER (ORDER BY dim) AS cum,
      |         sum(var) OVER () AS tot
      |  FROM vv)
      |SELECT dim::BIGINT AS dim,
      |       CAST(var // (n * n) AS BIGINT) AS var_fix,
      |       CAST((cum * 65536) // tot AS BIGINT) AS cum_share_fix,
      |       CAST(cum * 100 >= tot * 95 AS INT) AS covers95
      |FROM c ORDER BY dim""".stripMargin

  /** q212: contamination-SPAN localization — the removal-grade upgrade
    * of doc-level decontamination (q48/q57 flag whole documents; this
    * finds WHERE the benchmark text sits so the pipeline can excise
    * the span and keep the rest — the standard treatment for long
    * documents with one quoted benchmark item). Benchmark set = every
    * 29th document; training docs' word-8-gram md5 keys semi-join the
    * benchmark gram set (md5 is engine-identical, so the oracle joins
    * the same keys); a matched gram at position i contaminates tokens
    * [i, i+7], and overlapping/adjacent coverage intervals merge into
    * maximal spans (new span ⟺ gap: i > prev + 8). Output: one row
    * per (doc, span) with token bounds and the covered-token count —
    * absence means clean.
    *
    * Scale shape: grams are a bounded in-row fan-out; ONE gram-keyed
    * semi-join (at 100 TB: xxhash64 keys + a bloom pre-tier, q57's
    * swap) and the island merge rides ONE doc-keyed window exchange.
    */
  def q212ContaminationSpans(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val n = 8
    def grams(df: DataFrame) = df
      .select(col("doc_id"),
        graft.text.Decontaminate.wordTokens(col("text")).as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__toks")) - (n - 1)),
        i => struct(i.as("pos"),
          md5(array_join(slice(col("__toks"), i, lit(n)), " ")).as("g"))))
        .as("__gr"))
      .select(col("doc_id"), col("__gr.pos").as("pos"), col("__gr.g").as("g"))
    val bench = grams(d.filter(col("doc_id") % 29 === 0))
      .select("g").distinct()
    val hits = grams(d.filter(col("doc_id") % 29 =!= 0))
      .join(bench, Seq("g"), "left_semi")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("__new",
        when(col("pos") > lag("pos", 1).over(w) + n, 1L)
          .when(lag("pos", 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("span_idx", sum("__new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_idx")
      .agg(min("pos").cast("long").as("tok_start"),
        (max("pos") + (n - 1)).cast("long").as("tok_end"))
      .withColumn("span_tokens", col("tok_end") - col("tok_start") + 1)
      .orderBy("doc_id", "span_idx")
  }

  val q212Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS tk
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, i AS pos, md5(array_to_string(tk[i:i+7], ' ')) AS g
      |  FROM toks, UNNEST(generate_series(1, len(tk) - 7)) t(i)
      |  WHERE len(tk) >= 8),
      |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 29 = 0),
      |hits AS (
      |  SELECT doc_id, pos FROM grams
      |  WHERE doc_id % 29 <> 0
      |    AND g IN (SELECT g FROM bench)),
      |flagged AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN lag(pos) OVER w IS NULL
      |                OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS nw
      |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |spans AS (
      |  SELECT doc_id, pos,
      |         sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS span_idx
      |  FROM flagged)
      |SELECT doc_id, span_idx::BIGINT AS span_idx,
      |       min(pos)::BIGINT AS tok_start,
      |       (max(pos) + 7)::BIGINT AS tok_end,
      |       (max(pos) + 7 - min(pos) + 1)::BIGINT AS span_tokens
      |FROM spans GROUP BY doc_id, span_idx
      |ORDER BY doc_id, span_idx""".stripMargin

  /** q213: dominant principal component of the embedding corpus by
    * integer-exact power iteration — the SPECTRAL audit q211's
    * axis-aligned variance can't see (a corpus whose variance hides in
    * a diagonal direction shows flat per-dimension numbers but one
    * dominant eigenvector). The Gram matrix accumulates in ONE
    * map-side-combined pass (bounded in-row d×d fan-out, ≤ dims² rows
    * out); 8 fixed power-iteration steps run on the collected
    * dims²-bounded artifact (the contract-bounded driver-collect
    * family: k-means centroids, Outliers sums) with BigInt arithmetic
    * — every step is y = G·x, then renormalize x = ⌊y·2¹⁶ / max|y|⌋
    * with FLOOR division so DuckDB's `//` replays it bit-for-bit; the
    * fixed step count makes the iterate (not "convergence") the
    * contract. Output per dimension: the 2¹⁶-scaled eigenvector
    * component and the Rayleigh quotient ⌊xᵀGx / xᵀx⌋. At huge dims
    * keep the iteration distributed: 8 joins on the ≤ dims² relation.
    */
  def q213TopComponent(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.table(spark, dir, "embeddings")
    val q = e.select(transform(col("embedding"),
      x => floor(x.cast("double") * 65536d).cast("long")).as("qv"))
    val gram = q
      .select(explode(transform(sequence(lit(0), size(col("qv")) - 1),
        d1 => struct(d1.as("d1"),
          transform(col("qv"), v2 => element_at(col("qv"), d1 + 1) * v2)
            .as("row")))).as("__g"))
      .select(col("__g.d1"), posexplode(col("__g.row")).as(Seq("d2", "__p")))
      .groupBy("d1", "d2")
      .agg(sum(expr("CAST(__p AS DECIMAL(38,0))")).as("__s"))
      .collect()
    val dims = gram.map(_.getInt(0)).max + 1
    val g = Array.ofDim[BigInt](dims, dims)
    gram.foreach(r => g(r.getInt(0))(r.getInt(1)) =
      BigInt(r.getDecimal(2).toBigInteger))
    // BigInt `/` truncates toward zero — the SAME semantics as
    // DuckDB's integer `//` on signed operands ((-7)//2 = -3 there),
    // which matters here because eigenvector components go negative;
    // the repo's usual floor-division discipline only coincides with
    // truncation on the non-negative operands every other query uses
    var x = Array.fill(dims)(BigInt(65536))
    var y = x
    for (_ <- 1 to 8) {
      y = Array.tabulate(dims)(i =>
        (0 until dims).map(j => g(i)(j) * x(j)).sum)
      val m = y.map(_.abs).max
      x = y.map(v => (v * 65536) / m)
    }
    val gy = Array.tabulate(dims)(i =>
      (0 until dims).map(j => g(i)(j) * x(j)).sum)
    val lambda =
      (0 until dims).map(i => x(i) * gy(i)).sum /
        (0 until dims).map(i => x(i) * x(i)).sum
    val rows = (0 until dims).map(d =>
      (d.toLong, x(d).toLong, lambda.toLong))
    import spark.implicits._
    rows.toDF("dim", "eig_fix", "lambda_fix").orderBy("dim")
  }

  val q213Sql: String = {
    // every iteration CTE is referenced twice (by m_t and x_t, and the
    // chain above it) — AS MATERIALIZED stops DuckDB's multi-reference
    // inlining from re-expanding the whole chain exponentially (the
    // q179 k-core lesson)
    val iters = (1 to 8).map { t =>
      val p = if (t == 1) "x0" else s"x${t - 1}"
      s"""y$t AS MATERIALIZED (
         |  SELECT d1 AS d, CAST(sum(g * p.x) AS HUGEINT) AS y
         |  FROM g JOIN $p p ON p.d = g.d2 GROUP BY d1),
         |m$t AS MATERIALIZED (SELECT max(abs(y)) AS m FROM y$t),
         |x$t AS MATERIALIZED (
         |  SELECT d, (y * 65536) // (SELECT m FROM m$t) AS x
         |  FROM y$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT list_transform(embedding::DOUBLE[],
       |                        v -> CAST(floor(v * 65536) AS BIGINT)) AS qv
       |  FROM embeddings),
       |g AS MATERIALIZED (
       |  SELECT i1 - 1 AS d1, i2 - 1 AS d2,
       |         CAST(sum(qv[i1]::HUGEINT * qv[i2]) AS HUGEINT) AS g
       |  FROM q, UNNEST(generate_series(1, len(qv))) t1(i1),
       |       UNNEST(generate_series(1, len(qv))) t2(i2)
       |  GROUP BY 1, 2),
       |x0 AS MATERIALIZED (
       |  SELECT DISTINCT d1 AS d, 65536::HUGEINT AS x FROM g),
       |$iters,
       |gy AS MATERIALIZED (
       |  SELECT d1 AS d, CAST(sum(g * p.x) AS HUGEINT) AS y
       |  FROM g JOIN x8 p ON p.d = g.d2 GROUP BY d1),
       |lam AS (
       |  SELECT CAST(sum(p.x * gy.y) // sum(p.x * p.x) AS BIGINT) AS l
       |  FROM x8 p JOIN gy ON gy.d = p.d)
       |SELECT p.d::BIGINT AS dim, CAST(p.x AS BIGINT) AS eig_fix,
       |       (SELECT l FROM lam) AS lambda_fix
       |FROM x8 p ORDER BY dim""".stripMargin
  }

  /** q214: Min-K%-Prob membership audit (Shi et al. 2023, "Detecting
    * Pretraining Data from Large Language Models") — the
    * contamination-DIRECTION complement of q48/q212: instead of asking
    * "does this benchmark text appear in the corpus", it asks "does
    * this document look memorized by the model" by scoring each doc on
    * only its k = ⌈n/5⌉ most-surprising bigram occurrences (members
    * have few surprising tokens, so their Min-K% tail mean is LOW).
    * Float-free end to end on q102's fixed-point machinery: per-doc
    * bigram-type surprisals ([[graft.text.KneserNey.docBigramBits]]),
    * one doc-keyed sort window (bits DESC, v, w tiebreak) selects
    * occurrences across type multiplicities via cumulative counts —
    * take = clamp(k − cum_before, 0, cnt) — then mean = sum div k.
    * Scale shape: the model pass + one (doc,v,w) combine + one
    * doc-keyed window; the per-doc window is bounded by doc length
    * (never corpus-wide). τ = 5.28125 bits (346112 in 16.16, the corpus median) sits inside
    * the corpus Min-K% band so both flag branches are population-
    * exercised; empty docs ride the no-silent-drop spine with k = 0.
    */
  def q214MinkMembership(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val model = graft.text.KneserNey.bigramModel(d, "text")
    val db = graft.text.KneserNey.docBigramBits(model, d, "text", "doc_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("__bits").desc, col("v"), col("w"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val sel = db
      .withColumn("__cum", sum(col("__cnt")).over(w) - col("__cnt"))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
      .withColumn("__k", expr("(__n + 4) div 5"))
      .withColumn("__take",
        greatest(lit(0L), least(col("__cnt"), col("__k") - col("__cum"))))
    val agg = sel.groupBy("doc_id")
      .agg(max("__n").as("n_bigrams"), max("__k").as("k_used"),
        sum(col("__take") * col("__bits")).as("mink_bits_fix"))
    d.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("k_used"), lit(0L)).as("k_used"),
        coalesce(col("mink_bits_fix"), lit(0L)).as("mink_bits_fix"))
      .withColumn("mink_mean_fix",
        when(col("k_used") > 0,
          expr("CAST(mink_bits_fix AS DECIMAL(38,0)) div k_used")
            .cast("long")).otherwise(lit(0L)))
      .withColumn("suspect_member",
        (col("k_used") > 0 && col("mink_mean_fix") <= lit(346112L))
          .cast("int"))
      .orderBy("doc_id")
  }

  val q214Sql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS tk
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, tk[i] AS v, tk[i + 1] AS w
      |  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) t(i)
      |  WHERE len(tk) >= 2),
      |cvw AS (SELECT v, w, count(*)::BIGINT AS c_vw FROM bg GROUP BY v, w),
      |by_v AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
      |                count(*)::BIGINT AS n1_v FROM cvw GROUP BY v),
      |by_w AS (SELECT w, count(*)::BIGINT AS n1_w FROM cvw GROUP BY w),
      |tot AS (SELECT count(*)::BIGINT AS n_bb FROM cvw),
      |model AS (
      |  SELECT v, w,
      |    CAST((1073741824::BIGINT * (4 * c_vw - 3)) // (4 * c_v)
      |       + ((1073741824::BIGINT * 3 * n1_v) // (4 * c_v)) * n1_w // n_bb
      |      AS BIGINT) AS p_fix
      |  FROM cvw JOIN by_v USING (v) JOIN by_w USING (w), tot),
      |nrm AS (
      |  SELECT v, w, greatest(p_fix, 1) AS m, 0::BIGINT AS k FROM model
      |  UNION ALL
      |  SELECT v, w, m * 2, k + 1 FROM nrm WHERE m < 1073741824),
      |normed AS (SELECT v, w, m, k FROM nrm WHERE m >= 1073741824),
      |sq AS (
      |  SELECT v, w, k, m, 0 AS i, 0::BIGINT AS acc FROM normed
      |  UNION ALL
      |  SELECT v, w, k,
      |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
      |         i + 1,
      |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
      |  FROM (SELECT v, w, k, (m * m) // 1073741824 AS m2, i, acc
      |        FROM sq WHERE i < 16) s),
      |surp AS (SELECT v, w, k * 65536 - acc AS bits FROM sq WHERE i = 16),
      |docb AS (SELECT doc_id, v, w, count(*)::BIGINT AS cnt
      |         FROM bg GROUP BY doc_id, v, w),
      |sel AS (
      |  SELECT doc_id, cnt, bits,
      |         sum(cnt) OVER (PARTITION BY doc_id
      |           ORDER BY bits DESC, v, w
      |           ROWS UNBOUNDED PRECEDING) - cnt AS cum_before,
      |         sum(cnt) OVER (PARTITION BY doc_id) AS n
      |  FROM (SELECT d.doc_id, d.v, d.w, d.cnt,
      |               coalesce(s.bits, 1966080) AS bits
      |        FROM docb d LEFT JOIN surp s USING (v, w)) j),
      |agg AS (
      |  SELECT doc_id, max(n) AS n_bigrams, (max(n) + 4) // 5 AS k_used,
      |         CAST(sum(greatest(0, least(cnt, (n + 4) // 5 - cum_before))
      |                  * bits) AS BIGINT) AS mink_bits_fix
      |  FROM sel GROUP BY doc_id)
      |SELECT d.doc_id,
      |       coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
      |       coalesce(a.k_used, 0)::BIGINT AS k_used,
      |       coalesce(a.mink_bits_fix, 0)::BIGINT AS mink_bits_fix,
      |       CASE WHEN coalesce(a.k_used, 0) > 0 THEN
      |         CAST(a.mink_bits_fix // a.k_used AS BIGINT)
      |       ELSE 0 END AS mink_mean_fix,
      |       CAST(coalesce(a.k_used, 0) > 0 AND
      |            CASE WHEN coalesce(a.k_used, 0) > 0 THEN
      |              a.mink_bits_fix // a.k_used ELSE 0 END <= 346112
      |         AS INTEGER) AS suspect_member
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q217: split-conformal outlier gate — the finite-sample-guaranteed
    * upgrade over a hand-picked threshold (q102's τ = 4.95, q205's
    * terciles): calibration docs (doc_id % 5 = 0) provide the empirical
    * score distribution, q̂ = the ⌈(n_cal+1)·(1−α)⌉-th smallest
    * calibration perplexity (α = 0.1), and a test doc flags iff its
    * score exceeds q̂ — by exchangeability the false-flag rate is ≤ α
    * regardless of the score's distribution (Vovk et al.; Angelopoulos
    * & Bates 2023 survey). Scores are q205's exact per-doc bits/bigram
    * rate, so the whole gate lives on the 2¹⁶ integer grid and the rank
    * is an exact order statistic (ppl, doc_id tiebreak). Zero-bigram
    * docs carry no score and sit outside both sets (q205's precedent).
    * Scale shape: one model pass + per-doc scores; the calibration rank
    * is ONE sort window over the |cal| subset (100 TB swap: q118's
    * mergeable quantile sketch — same crossover as q205's executable
    * sketch tier); q̂ broadcasts to the test side as a 1-row join that
    * can never be empty: when the rank exceeds n_cal (tiny calibration
    * sets) q̂ = +∞ per the conformal construction, so every test doc
    * still surfaces, unflagged.
    */
  def q217ConformalGate(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val model = graft.text.KneserNey.bigramModel(d, "text")
    val pp = graft.text.KneserNey.perplexityBits(model, d, "text", "doc_id")
      .filter(col("n_bigrams") > 0)
      .withColumn("ppl_fix",
        expr("(CAST(bits_fix AS DECIMAL(38,0)) * 65536) div n_bigrams")
          .cast("long"))
    val w = Window.orderBy("ppl_fix", "doc_id")
    // when the rank exceeds n_cal (tiny calibration sets: ⌈(n+1)(1−α)⌉
    // can be n+1), conformal q̂ = +∞ — nothing flags. The aggregate
    // keeps the relation at exactly one row, so the test side can
    // never silently vanish through an empty join.
    val qhat = pp.filter(col("doc_id") % 5 === 0)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .agg(coalesce(
        max(when(col("__rn") === expr("((__n + 1) * 9 + 9) div 10"),
          col("ppl_fix"))),
        lit(Long.MaxValue)).as("qhat_fix"))
    pp.filter(col("doc_id") % 5 =!= 0)
      .crossJoin(broadcast(qhat))
      .select(col("doc_id"), col("ppl_fix"), col("qhat_fix"),
        (col("ppl_fix") > col("qhat_fix")).cast("int").as("flagged"))
      .orderBy("doc_id")
  }

  val q217Sql: String =
    s"""WITH base AS (
       |${TextQueries.q102Sql.replace("ORDER BY d.doc_id", "")}
       |),
       |p AS (
       |  SELECT doc_id,
       |         CAST((bits_fix::HUGEINT * 65536) // n_bigrams AS BIGINT)
       |           AS ppl_fix
       |  FROM base WHERE n_bigrams > 0),
       |cal AS (
       |  SELECT ppl_fix,
       |         row_number() OVER (ORDER BY ppl_fix, doc_id) AS rn,
       |         count(*) OVER () AS n
       |  FROM p WHERE doc_id % 5 = 0),
       |qh AS (SELECT coalesce(
       |         max(CASE WHEN rn = ((n + 1) * 9 + 9) // 10
       |                  THEN ppl_fix END),
       |         9223372036854775807) AS qhat_fix FROM cal)
       |SELECT doc_id, ppl_fix, qh.qhat_fix,
       |       CAST(ppl_fix > qh.qhat_fix AS INTEGER) AS flagged
       |FROM p, qh WHERE doc_id % 5 <> 0
       |ORDER BY doc_id""".stripMargin

  /** q222: t-closeness audit — the third privacy screen, after
    * k-anonymity (q140, cell size) and l-diversity (q203, within-cell
    * variety): a cell can be large AND diverse yet still leak when its
    * sensitive-value DISTRIBUTION diverges from the corpus-wide one
    * (the attacker's prior). Per (balance-bucket, segment) cell this
    * reports the total-variation distance between the cell's nation
    * distribution and the global one, as a 2¹⁶ fixed-point — exact
    * rational arithmetic via cross-multiplication: TVD·(2·n·N) =
    * Σᵢ|cᵢ·N − gᵢ·n| over the FULL support, and the absent-value terms
    * (cᵢ = 0 ⇒ gᵢ·n) collapse into the closed form n·N +
    * Σ_{i∈cell}(|cᵢ·N − gᵢ·n| − gᵢ·n), so no outer join against the
    * value domain is needed. `close` pins t = 0.2 (tvd_fix ≤ 13107).
    * Scale shape: the corpus is touched ONCE (the q203 cell count);
    * global counts, cell sizes, and the TVD all derive from the
    * ≤|cells|·|values| relation, with the two ≤|values| /
    * 1-row side relations broadcast back.
    */
  def q222TCloseness(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Load.table(spark, dir, "customer")
      .select(
        when(col("c_acctbal") < 0, lit(-1L))
          .otherwise(expr(
            "CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT) div 25000"))
          .as("bal_bucket"),
        col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nation"))
    val cells = keyed.groupBy("bal_bucket", "segment", "nation")
      .agg(count(lit(1)).as("__c")).persist() // feeds glob + sizes + terms
    val glob = cells.groupBy("nation").agg(sum("__c").as("__g"))
    val tot = cells.agg(sum("__c").cast("long").as("__N"))
    val sizes = cells.groupBy("bal_bucket", "segment")
      .agg(sum("__c").cast("long").as("group_n"))
    cells
      .join(broadcast(glob), Seq("nation"))
      .join(broadcast(sizes), Seq("bal_bucket", "segment"))
      .crossJoin(broadcast(tot))
      .withColumn("__term", expr(
        """abs(CAST(__c AS DECIMAL(38,0)) * __N - CAST(__g AS DECIMAL(38,0)) * group_n)
          | - CAST(__g AS DECIMAL(38,0)) * group_n""".stripMargin))
      .groupBy("bal_bucket", "segment", "group_n", "__N")
      .agg(sum("__term").as("__s"))
      .withColumn("tvd_fix", expr(
        """CAST(((CAST(group_n AS DECIMAL(38,0)) * __N + __s) * 65536)
          | div (CAST(group_n AS DECIMAL(38,0)) * __N * 2) AS BIGINT)""".stripMargin))
      .withColumn("close", (col("tvd_fix") <= 13107).cast("int"))
      .select(col("bal_bucket"), col("segment"), col("group_n"),
        col("tvd_fix"), col("close"))
      .orderBy("bal_bucket", "segment")
  }

  val q222Sql: String =
    """WITH keyed AS (
      |  SELECT CASE WHEN c_acctbal < 0 THEN -1
      |              ELSE CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT)
      |                     // 25000 END
      |           AS bal_bucket,
      |         c_mktsegment AS segment,
      |         CAST(c_nationkey AS BIGINT) AS nation
      |  FROM customer),
      |cells AS (
      |  SELECT bal_bucket, segment, nation, count(*)::BIGINT AS c
      |  FROM keyed GROUP BY 1, 2, 3),
      |gdist AS (SELECT nation, sum(c)::HUGEINT AS g FROM cells GROUP BY 1),
      |tot AS (SELECT sum(c)::HUGEINT AS N FROM cells),
      |sizes AS (
      |  SELECT bal_bucket, segment, sum(c)::HUGEINT AS group_n
      |  FROM cells GROUP BY 1, 2),
      |terms AS (
      |  SELECT c.bal_bucket, c.segment, s.group_n, t.N,
      |         abs(c.c::HUGEINT * t.N - gdist.g * s.group_n)
      |           - gdist.g * s.group_n AS term
      |  FROM cells c
      |  JOIN gdist USING (nation)
      |  JOIN sizes s USING (bal_bucket, segment)
      |  CROSS JOIN tot t),
      |agg AS (
      |  SELECT bal_bucket, segment, group_n, N, sum(term) AS s
      |  FROM terms GROUP BY 1, 2, 3, 4)
      |SELECT bal_bucket, segment, CAST(group_n AS BIGINT) AS group_n,
      |       CAST(((group_n * N + s) * 65536) // (group_n * N * 2) AS BIGINT)
      |         AS tvd_fix,
      |       CASE WHEN ((group_n * N + s) * 65536) // (group_n * N * 2)
      |                  <= 13107
      |            THEN 1 ELSE 0 END AS close
      |FROM agg ORDER BY bal_bucket, segment""".stripMargin

  /** q228: Neyman sample allocation — how many docs per language a
    * 1000-doc human-review sample should draw when strata differ in
    * spread: n_h ∝ N_h·S_h. Everything stays exact: per language ONE
    * aggregation yields n, Σx, Σx² over n_chars; the unnormalized
    * variance var_num = n·Σx² − (Σx)² is an exact integer (carried in
    * DECIMAL(38,0) — at corpus scale n·Σx² overflows a long long
    * before the audit gets interesting), and since S_h = √(var_num)/n
    * while N_h = n, the Neyman weight N_h·S_h ∝ √var_num — computed by
    * [[graft.functions.IntMath.isqrt]], the Newton-refined TRUE
    * integer sqrt that stays exact at ANY DECIMAL(38,0) magnitude
    * (floor(sqrt(double)) alone drifts above 2⁵³). alloc = (1000·w)
    * div Σw. Scale shape: corpus touched once; the allocation runs on
    * the |langs| relation with a broadcast 1-row Σw.
    */
  def q228NeymanAllocation(spark: SparkSession, dir: String): DataFrame = {
    val st = Load.table(spark, dir, "documents")
      .select(col("lang"), col("n_chars").cast("long").as("__x"))
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("__x").cast("long").as("__s"),
        sum(expr("CAST(__x AS DECIMAL(38,0)) * __x")).as("__s2"))
      .withColumn("var_num", expr(
        "CAST(n_docs AS DECIMAL(38,0)) * __s2 - CAST(__s AS DECIMAL(38,0)) * __s"))
      .withColumn("sd_w",
        graft.functions.IntMath.isqrt(col("var_num")).cast("long"))
    val tot = st.agg(sum("sd_w").cast("long").as("__w_total"))
    st.crossJoin(broadcast(tot))
      .withColumn("alloc", expr("(1000 * sd_w) div __w_total"))
      // artifact stays BIGINT (lossless at verify scale); the decimal
      // width is for the in-plan arithmetic at corpus scale
      .select(col("lang"), col("n_docs"),
        col("var_num").cast("long").as("var_num"),
        col("sd_w"), col("alloc"))
      .orderBy("lang")
  }

  val q228Sql: String =
    """WITH st AS (
      |  SELECT lang, count(*)::BIGINT AS n_docs,
      |         sum(n_chars)::HUGEINT AS s,
      |         sum(n_chars::HUGEINT * n_chars)::HUGEINT AS s2
      |  FROM documents GROUP BY lang),
      |v AS (
      |  SELECT lang, n_docs, n_docs * s2 - s * s AS var_num,
      |         CAST(floor(sqrt(CAST(n_docs * s2 - s * s AS DOUBLE)))
      |              AS HUGEINT) AS c0
      |  FROM st),
      |nw AS (
      |  SELECT lang, n_docs, var_num,
      |         CASE WHEN c0 > 0 THEN (c0 + var_num // c0) // 2
      |              ELSE 0 END AS c1
      |  FROM v),
      |w AS (
      |  SELECT lang, n_docs, var_num,
      |         CASE WHEN (c1 + 1) * (c1 + 1) <= var_num THEN c1 + 1
      |              WHEN c1 * c1 > var_num THEN c1 - 1
      |              ELSE c1 END AS sd_w
      |  FROM nw),
      |t AS (SELECT sum(sd_w)::BIGINT AS w_total FROM w)
      |SELECT lang, n_docs, CAST(var_num AS BIGINT) AS var_num,
      |       CAST(sd_w AS BIGINT) AS sd_w,
      |       CAST((1000 * sd_w) // w_total AS BIGINT) AS alloc
      |FROM w, t ORDER BY lang""".stripMargin

  val rows: Seq[Query] = Seq(
    Query("q228_neyman_allocation", q228NeymanAllocation, Some(q228Sql)),
    Query("q222_t_closeness", q222TCloseness, Some(q222Sql)),
    Query("q217_conformal_gate", q217ConformalGate, Some(q217Sql)),
    Query("q214_mink_membership", q214MinkMembership, Some(q214Sql)),
    Query("q213_top_component", q213TopComponent, Some(q213Sql)),
    Query("q212_contamination_spans", q212ContaminationSpans, Some(q212Sql)),
    Query("q209_rho_selection", q209RhoSelection, Some(q209Sql)),
    Query("q210_gini_concentration", q210GiniConcentration, Some(q210Sql)),
    Query("q211_matryoshka_variance", q211MatryoshkaVariance, Some(q211Sql)),
    Query("q208_doremi_step", q208DoremiStep, Some(q208Sql)),
    // decoded bytes: VAD windows are 400 samples of 16-bit mono
    Query("q207_voice_activity", q207VoiceActivity, Some(q207Sql),
      observeBytes = Some((col("n_windows") * 400L * 2).cast("long"))),
    Query("q206_video_scene_dedup", q206VideoSceneDedup, Some(q206Sql)),
    Query("q205_perplexity_buckets", q205PerplexityBuckets(_, _, false),
      Some(q205Sql)),
    Query("q205s_perplexity_sketch", q205PerplexityBuckets(_, _, true), None),
    Query("q200_iban_audit", q200IbanAudit, Some(q200Sql)),
    Query("q201_zipf_slope", q201ZipfSlope, Some(q201Sql)),
    Query("q202_seasonal_outliers", q202SeasonalOutliers, Some(q202Sql)),
    Query("q203_l_diversity", q203LDiversity, Some(q203Sql)),
    Query("q204_token_fertility", q204TokenFertility, Some(q204Sql)))
}
