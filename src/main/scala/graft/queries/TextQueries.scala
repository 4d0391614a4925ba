package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Load
import graft.text.TextAnalysis

/** Text-analysis queries over the `documents` table. Oracle notes: the
  * corpus is ASCII, so the SQL mirrors use plain [a-z] classes; ratios are
  * single-division doubles (deterministic, no accumulation-order risk).
  */
object TextQueries {

  /** Token counting + char-class ratios + fingerprint. */
  def q20Profile(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.ops.Par.fanOut(Load.table(spark, dir, "documents"))
    val t = col("text")
    d.select(
      col("doc_id"),
      TextAnalysis.tokenCountWs(t).as("n_tokens"),
      TextAnalysis.tokenCountBpe(t).as("n_tokens_bpe"),
      TextAnalysis.charRatio(t, "[A-Za-z]").as("alpha_ratio"),
      TextAnalysis.stopwordRatio(t).as("stopword_ratio"),
      TextAnalysis.fingerprint(t).as("fingerprint"))
      .transform(graft.ops.Par.sortOnce(_, col("doc_id")))
  }

  val q20Sql: String = {
    val sw = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id,
       |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_tokens_bpe,
       |  (len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / len(text) AS alpha_ratio,
       |  len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x IN ($sw)))::DOUBLE
       |    / len(string_split_regex(lower(trim(text)), '\\s+')) AS stopword_ratio,
       |  md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ֐-׿؀-ۿ]', '', 'g'), ' +', ' ', 'g')) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Composite quality score (Gopher/C4-style signals). */
  def q21Quality(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.ops.Par.fanOut(Load.table(spark, dir, "documents"))
    d.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      .transform(graft.ops.Par.sortOnce(_, col("doc_id")))
  }

  val q21Sql: String = {
    val sw = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    len(text) AS n,
       |    len(string_split_regex(trim(text), '\\s+')) AS ntok,
       |    (len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / len(text) AS alpha,
       |    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x IN ($sw)))::DOUBLE
       |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS swr
       |  FROM documents)
       |SELECT doc_id,
       |  (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 ELSE 0.5 END) * 0.25
       |  + (CASE WHEN ntok > 0 AND n::DOUBLE/ntok >= 3 AND n::DOUBLE/ntok <= 12 THEN 1.0 ELSE 0.5 END) * 0.25
       |  + alpha * 0.25
       |  + least(swr * 4, 1.0) * 0.25 AS quality
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Language ID (script ranges + stopword argmax; heuristic tier). The
    * oracle replicates the Latin-script branch exactly — the corpus is
    * ASCII so script ratios are all zero in both engines.
    */
  def q22LangId(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.ops.Par.fanOut(Load.table(spark, dir, "documents"))
    d.select(col("doc_id"), col("lang").as("labeled_lang"),
      TextAnalysis.langId(col("text")).as("lang_id"))
      .transform(graft.ops.Par.sortOnce(_, col("doc_id")))
  }

  val q22Sql: String = {
    def hits(words: Seq[String]) = {
      val in = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> x IN ($in)))::DOUBLE / len(toks)"
    }
    val en = hits(Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"))
    val fr = hits(Seq("le", "la", "les", "de", "des", "et", "est", "une", "dans", "que"))
    val es = hits(Seq("el", "los", "las", "de", "y", "es", "una", "en", "que", "por"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "von"))
    s"""WITH t AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, labeled_lang,
       |    $en AS en, $fr AS fr, $es AS es, $de AS de
       |  FROM t)
       |SELECT doc_id, labeled_lang,
       |  CASE WHEN greatest(en, fr, es, de) = 0.0 THEN 'und'
       |       WHEN en >= greatest(fr, es, de) THEN 'en'
       |       WHEN fr >= greatest(es, de) THEN 'fr'
       |       WHEN es >= de THEN 'es'
       |       ELSE 'de' END AS lang_id
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Unigram LM quality proxy ([[TextAnalysis.unigramScore]]): mean
    * corpus frequency of each document's tokens. Exact-integer
    * internals (counts and sums of counts) with ONE final division, so
    * the double is bit-identical across engines; the ln() log-prob
    * variant is the same plan but not cross-engine-verifiable.
    */
  def q59UnigramLm(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    TextAnalysis.unigramScore(d, "text", "doc_id")
      .orderBy("doc_id")
  }

  val q59Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |                            x -> x <> '')) AS token
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      |vocab AS (
      |  SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1)
      |SELECT doc_id,
      |       CAST(sum(tf) AS BIGINT) AS n_tokens,
      |       CAST(sum(tf * cnt) AS BIGINT) AS sum_freq,
      |       CAST(sum(tf * cnt) AS BIGINT) / CAST(sum(tf) AS BIGINT) AS avg_freq
      |FROM tf JOIN vocab USING (token)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q98: Kneser–Ney-discounted bigram LM ([[KneserNey.bigramModel]]) —
    * the n-gram quality-filter model with fixed-point integer
    * probabilities (d = 3/4, staged floor divisions), so the whole
    * estimator — bigram/left/right marginal counts, continuation
    * counts, discount, interpolation weight — is hash-gated against
    * DuckDB's replay of the identical integer formula. q59 gates the
    * unigram proxy; this adds the backoff structure a real perplexity
    * gate needs.
    */
  def q98KneserNey(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    graft.text.KneserNey.bigramModel(d, "text")
      .orderBy("v", "w")
  }

  val q98Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS tk
      |  FROM documents),
      |bg AS (
      |  SELECT tk[i] AS v, tk[i + 1] AS w
      |  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) t(i)
      |  WHERE len(tk) >= 2),
      |cvw AS (SELECT v, w, count(*)::BIGINT AS c_vw FROM bg GROUP BY v, w),
      |by_v AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
      |                count(*)::BIGINT AS n1_v FROM cvw GROUP BY v),
      |by_w AS (SELECT w, count(*)::BIGINT AS n1_w FROM cvw GROUP BY w),
      |tot AS (SELECT count(*)::BIGINT AS n_bb FROM cvw)
      |SELECT v, w, c_vw,
      |  CAST((1073741824::BIGINT * (4 * c_vw - 3)) // (4 * c_v)
      |     + ((1073741824::BIGINT * 3 * n1_v) // (4 * c_v)) * n1_w // n_bb
      |    AS BIGINT) AS p_fix
      |FROM cvw JOIN by_v USING (v) JOIN by_w USING (w), tot
      |ORDER BY v, w""".stripMargin

  /** q163: incremental Kneser–Ney count maintenance
    * ([[graft.text.KneserNey.bigramCounts]]/`mergeCounts`/
    * `modelFromCounts`) — the LM leg of the artifact-algebra family
    * (q152 profiles, q155 labels, q156 index): history's bigram-count
    * artifact persists to parquet (the sufficient statistic, NOT the
    * derived probabilities, which change under merge); an ingest delta
    * counts alone; the merged counts feed the same model derivation as
    * a from-scratch build. Counts are a commutative monoid, so merged
    * == direct bit-exactly; in-band `merge_exact` compares every
    * probability against the direct build, and the oracle recomputes
    * the q98 model and pins the flag.
    */
  def q163IncrementalLm(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val hist = d.filter(col("doc_id") % 2 === 0)
    val delta = d.filter(col("doc_id") % 2 =!= 0)
    val base = s"/tmp/graft_knlm_${ScratchDirs.pathKey(dir)}_" +
      ProcessHandle.current().pid()
    ScratchDirs.deleteRecursively(new java.io.File(base))
    graft.text.KneserNey.bigramCounts(hist, "text")
      .write.mode("overwrite").parquet(s"$base/counts")
    val merged = graft.text.KneserNey.mergeCounts(Seq(
      Load.parquet(spark, s"$base/counts"),
      graft.text.KneserNey.bigramCounts(delta, "text")))
    val direct = graft.text.KneserNey.bigramModel(d, "text")
      .select(col("v"), col("w"), col("p_fix").as("__dp"))
    graft.text.KneserNey.modelFromCounts(merged)
      .join(direct, Seq("v", "w"))
      .select(col("v"), col("w"), col("c_vw"), col("p_fix"),
        (col("p_fix") === col("__dp")).cast(IntegerType).as("merge_exact"))
      .orderBy("v", "w")
  }

  /** q98's model mirror with the pinned merge flag — the direct build IS
    * the expected merged artifact, so the oracle is the q98 SQL plus a
    * constant column.
    */
  val q163Sql: String =
    q98Sql.replace("AS p_fix", "AS p_fix, 1 AS merge_exact")

  /** q102: the perplexity GATE the q98 model exists for (CCNet-style
    * LM quality filtering), float-free end to end: per-document total
    * surprisal in 16.16 fixed-point bits via the exact integer binary
    * log ([[graft.functions.FixedLogKernel]]), and the keep decision is
    * the integer comparison bits_fix·100 ≤ 495·2¹⁶·n_bigrams (τ = 4.95
    * bits/bigram ≈ the corpus p90). The oracle replays the identical
    * square-and-shift log with a 16-step recursive CTE over the model
    * relation — every bit of every surprisal is cross-engine checked.
    */
  def q102PerplexityGate(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val model = graft.text.KneserNey.bigramModel(d, "text")
    graft.text.KneserNey.perplexityBits(model, d, "text", "doc_id")
      .withColumn("keep",
        (col("bits_fix") * 100 <= lit(32440320L) * col("n_bigrams"))
          .cast("int"))
      .orderBy("doc_id")
  }

  val q102Sql: String =
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
      |scored AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      |         CAST(sum(cnt * bits) AS BIGINT) AS bits_fix
      |  FROM docb JOIN surp USING (v, w) GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
      |       coalesce(s.bits_fix, 0) AS bits_fix,
      |       CAST(coalesce(s.bits_fix, 0) * 100
      |            <= 32440320::BIGINT * coalesce(s.n_bigrams, 0)
      |         AS INTEGER) AS keep
      |FROM documents d LEFT JOIN scored s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q126: codepoint-entropy quality gate — the gibberish/repetition
    * filter (low-entropy `aaaa…` runs and high-entropy random/binary
    * noise both fall outside the natural-prose band) computed float-free:
    * per-doc codepoint histogram → probabilities floored at 2⁻³⁰ →
    * surprisal via the exact square-and-shift binary log (the q102
    * machinery) → count-weighted mean in 16.16 bits
    * ([[graft.functions.TextKernels.charEntropyFix]], a codegen'd
    * zero-shuffle narrow map — the histogram never leaves the row). The
    * oracle rebuilds the histogram from regex-extracted codepoints and
    * replays the 16-step log CTE, so every surprisal bit cross-checks.
    * Keep band [4.0, 6.0] bits/char: the corpus spans ≈ 3.7–4.2, so the
    * gate's drop branch is exercised by the real low-entropy tail.
    */
  def q126EntropyGate(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    d.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_cp"),
        graft.functions.TextExprs.charEntropyFix(col("text")).as("entropy_fix"))
      .withColumn("keep",
        (col("entropy_fix") >= lit(262144L) &&
          col("entropy_fix") <= lit(393216L)).cast("int"))
      .orderBy("doc_id")
  }

  val q126Sql: String =
    """WITH RECURSIVE
      |chars AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch
      |  FROM documents),
      |hist AS (SELECT doc_id, ch, count(*)::BIGINT AS c
      |         FROM chars GROUP BY doc_id, ch),
      |nn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
      |       FROM hist GROUP BY doc_id),
      |pf AS (SELECT doc_id, ch, c, (1073741824::BIGINT * c) // n AS p_fix
      |       FROM hist JOIN nn USING (doc_id)),
      |nrm AS (
      |  SELECT doc_id, ch, greatest(p_fix, 1) AS m, 0::BIGINT AS k FROM pf
      |  UNION ALL
      |  SELECT doc_id, ch, m * 2, k + 1 FROM nrm WHERE m < 1073741824),
      |normed AS (SELECT doc_id, ch, m, k FROM nrm WHERE m >= 1073741824),
      |sq AS (
      |  SELECT doc_id, ch, k, m, 0 AS i, 0::BIGINT AS acc FROM normed
      |  UNION ALL
      |  SELECT doc_id, ch, k,
      |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
      |         i + 1,
      |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
      |  FROM (SELECT doc_id, ch, k, (m * m) // 1073741824 AS m2, i, acc
      |        FROM sq WHERE i < 16) s),
      |surp AS (SELECT doc_id, ch, k * 65536 - acc AS bits
      |         FROM sq WHERE i = 16),
      |scored AS (
      |  SELECT h.doc_id,
      |         CAST(sum(h.c * s.bits) // max(nn.n) AS BIGINT) AS entropy_fix
      |  FROM hist h JOIN surp s USING (doc_id, ch) JOIN nn USING (doc_id)
      |  GROUP BY h.doc_id)
      |SELECT d.doc_id, length(d.text)::BIGINT AS n_chars_cp,
      |       coalesce(sc.entropy_fix, 0) AS entropy_fix,
      |       CAST(coalesce(sc.entropy_fix, 0) BETWEEN 262144 AND 393216
      |         AS INTEGER) AS keep
      |FROM documents d LEFT JOIN scored sc USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q131: chat-template rendering + loss-mask spans — the SFT/RLHF
    * data-prep stage: document segments (20-word windows on this
    * single-line corpus; `\n\n` paragraphs on real data — same
    * machinery) become alternating user/assistant turns, rendered into
    * a fixed template
    * (`<|user|>\n…<|end|>\n<|assistant|>\n…<|end|>\n`), and the
    * supervised (assistant-content) regions are emitted as integer
    * CODEPOINT spans into the rendered string — the mask a trainer
    * applies so loss flows only through assistant tokens. Pure in-row
    * array algebra (split → indexed transform → prefix-length sums):
    * zero shuffle, no explode, and every offset is an integer both
    * engines derive from the same closed-form header/footer/content
    * arithmetic — so rendered bytes AND span arrays hash-gate. Spans
    * are codepoint offsets, tokenizer-agnostic by design: the
    * tokenize-then-mask step composes with any of the three tokenizer
    * families (q101/q109/q123) downstream.
    */
  def q131ChatRender(spark: SparkSession, dir: String): DataFrame =
    chatRender(Load.table(spark, dir, "documents")).orderBy("doc_id")

  /** The render pipeline behind q131, reusable mid-pipeline (q133 feeds
    * it the entropy-gated slice): (doc_id, text) → (doc_id, n_turns,
    * rendered, mask_spans) with spans serialized "start:end;start:end".
    */
  private[queries] def chatRender(d: DataFrame): DataFrame = {
    // turn derivation on this single-line corpus: 20-word windows (the
    // paragraph split would be `split(text, "\n\n")` — same machinery)
    val words = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val nParts = expr("(size(filter(split(text, '\\\\s+'), w -> length(w) > 0)) + 19) div 20")
    val parts = when(size(words) === 0,
        array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), greatest(nParts, lit(1L))),
        i => array_join(slice(words, (i.cast("int") - 1) * 20 + 1, lit(20)), " ")))
    val withParts = d.select(col("doc_id"), parts.as("__parts"))
    val segs = transform(col("__parts"), (p, ix) =>
      concat(when(ix % 2 === 0, lit("<|user|>\n"))
        .otherwise(lit("<|assistant|>\n")), p, lit("\n<|end|>\n")))
    // start of part i's CONTENT (i 1-based): all earlier content +
    // earlier headers (user 9, assistant 14 chars) + earlier footers
    // (8 chars) + this part's own header
    def startOf(i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(aggregate(slice(col("__parts"), lit(1), i - 1), lit(0L),
        (a, x) => a + length(x).cast("long")), lit(0L)) +
        shiftright(i, 1).cast("long") * 9L +
        shiftright(i - 1, 1).cast("long") * 14L +
        (i - 1).cast("long") * 9L +
        when(i % 2 === 1, lit(9L)).otherwise(lit(14L))
    val assistantIdx = filter(sequence(lit(1), size(col("__parts"))),
      i => i % 2 === 0)
    withParts.select(col("doc_id"),
        size(col("__parts")).cast("long").as("n_turns"),
        array_join(segs, "").as("rendered"),
        // spans serialize to ONE canonical "s:e;s:e" string — scalar
        // columns only, so any engine/harness hashes them identically
        // (array cells are where compare layers disagree)
        array_join(transform(assistantIdx, i =>
          concat_ws(":", startOf(i), startOf(i) +
            length(element_at(col("__parts"), i)).cast("long"))), ";")
          .as("mask_spans"))
  }

  val q131Sql: String =
    """WITH w0 AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |p0 AS (
      |  SELECT doc_id,
      |    [array_to_string(w[(i-1)*20+1 : (i-1)*20+20], ' ')
      |     FOR i IN generate_series(1, (len(w) + 19) // 20)] AS parts
      |  FROM w0),
      |r AS (
      |  SELECT doc_id, parts, len(parts) AS n,
      |    [CASE WHEN i % 2 = 1 THEN '<|user|>' || chr(10)
      |          ELSE '<|assistant|>' || chr(10) END
      |       || parts[i] || chr(10) || '<|end|>' || chr(10)
      |     FOR i IN generate_series(1, len(parts))] AS segs,
      |    [CAST(coalesce(list_sum(list_transform(parts[1:i-1],
      |                                           x -> length(x))), 0)
      |          + (i // 2) * 9 + ((i - 1) // 2) * 14 + (i - 1) * 9
      |          + CASE WHEN i % 2 = 1 THEN 9 ELSE 14 END AS VARCHAR)
      |     || ':' ||
      |     CAST(coalesce(list_sum(list_transform(parts[1:i-1],
      |                                           x -> length(x))), 0)
      |          + (i // 2) * 9 + ((i - 1) // 2) * 14 + (i - 1) * 9
      |          + CASE WHEN i % 2 = 1 THEN 9 ELSE 14 END
      |          + length(parts[i]) AS VARCHAR)
      |     FOR i IN generate_series(1, len(parts)) IF i % 2 = 0] AS spans
      |  FROM p0)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_turns,
      |       array_to_string(segs, '') AS rendered,
      |       coalesce(array_to_string(spans, ';'), '') AS mask_spans
      |FROM r ORDER BY doc_id""".stripMargin

  /** q133: end-to-end SFT data prep — the COMPOSITION gate for the
    * round's tranche, q54's sibling for the supervised-finetuning path:
    * entropy-gate the corpus (q126's keep band) → render survivors into
    * the chat template (q131's machinery mid-pipeline) → count the
    * rendered whitespace tokens → pack into 2048-token training
    * sequences (q65's histogram-offset packer — no global window). The
    * oracle recomputes every stage INDEPENDENTLY: the 16-step log CTE
    * for the gate, the token count from the CLOSED FORM
    * `n_words + 2·⌈n_words/20⌉` (template markers per turn) rather
    * than re-rendering, and the pack as the q65-style running-sum
    * window — so composition, not just the parts, is hash-gated.
    */
  def q133SftPipeline(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val kept = d
      .withColumn("__ent",
        graft.functions.TextExprs.charEntropyFix(col("text")))
      .filter(col("__ent") >= 262144L && col("__ent") <= 393216L)
      .select("doc_id", "text")
    // NOT tokenCountWs: Spark `trim` strips spaces only, so the
    // template's trailing newline would yield a trailing empty split
    // token — filter empties explicitly (matches the oracle)
    val counts = chatRender(kept).select(col("doc_id"),
      size(filter(split(col("rendered"), "\\s+"), t => length(t) > 0))
        .cast("long").as("n_tokens"))
    graft.text.Sequences.packByBudget(counts, "doc_id", "n_tokens", 2048L)
      .select("doc_id", "n_tokens", "seq_ix")
      .orderBy("doc_id")
  }

  val q133Sql: String =
    """WITH RECURSIVE
      |chars AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch
      |  FROM documents),
      |hist AS (SELECT doc_id, ch, count(*)::BIGINT AS c
      |         FROM chars GROUP BY doc_id, ch),
      |nn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
      |       FROM hist GROUP BY doc_id),
      |pf AS (SELECT doc_id, ch, c, (1073741824::BIGINT * c) // n AS p_fix
      |       FROM hist JOIN nn USING (doc_id)),
      |nrm AS (
      |  SELECT doc_id, ch, greatest(p_fix, 1) AS m, 0::BIGINT AS k FROM pf
      |  UNION ALL
      |  SELECT doc_id, ch, m * 2, k + 1 FROM nrm WHERE m < 1073741824),
      |normed AS (SELECT doc_id, ch, m, k FROM nrm WHERE m >= 1073741824),
      |sq AS (
      |  SELECT doc_id, ch, k, m, 0 AS i, 0::BIGINT AS acc FROM normed
      |  UNION ALL
      |  SELECT doc_id, ch, k,
      |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
      |         i + 1,
      |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
      |  FROM (SELECT doc_id, ch, k, (m * m) // 1073741824 AS m2, i, acc
      |        FROM sq WHERE i < 16) s),
      |surp AS (SELECT doc_id, ch, k * 65536 - acc AS bits
      |         FROM sq WHERE i = 16),
      |ent AS (
      |  SELECT h.doc_id,
      |         CAST(sum(h.c * s.bits) // max(nn.n) AS BIGINT) AS e
      |  FROM hist h JOIN surp s USING (doc_id, ch) JOIN nn USING (doc_id)
      |  GROUP BY h.doc_id),
      |kept AS (
      |  SELECT d.doc_id,
      |         len(list_filter(string_split_regex(d.text, '\s+'),
      |                         x -> x <> '')) AS nw
      |  FROM documents d JOIN ent USING (doc_id)
      |  WHERE ent.e BETWEEN 262144 AND 393216),
      |tok AS (
      |  SELECT doc_id,
      |         CAST(nw + 2 * ((nw + 19) // 20) AS BIGINT) AS n_tokens,
      |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
      |  FROM kept)
      |SELECT doc_id, n_tokens,
      |       CAST(coalesce(sum(n_tokens) OVER (ORDER BY draw, doc_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
      |         AS BIGINT) AS seq_ix
      |FROM tok ORDER BY doc_id""".stripMargin

  /** q104: n-gram novelty scoring ([[TextAnalysis.ngramNovelty]]) — per
    * doc, the share of distinct word 3-grams unseen in any earlier doc
    * (arrival order = doc_id). The incremental-crawl triage signal:
    * syndicated re-crawls score ~0, new material ~100. First-seen is a
    * per-gram-hash window minimum with the ParagraphDedup collision
    * escape; the oracle recomputes first-seen from gram STRINGS.
    */
  def q104NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    graft.text.TextAnalysis.ngramNovelty(d, "text", "doc_id", "doc_id", n = 3)
      .orderBy("doc_id")
  }

  val q104Sql: String =
    """WITH toksd AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
      |  FROM toksd,
      |       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)),
      |firsts AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram)
      |SELECT g.doc_id, count(*)::BIGINT AS n_grams,
      |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_novel,
      |       CAST(100 * sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
      |            // count(*) AS BIGINT) AS novelty_pct
      |FROM grams g JOIN firsts f USING (gram)
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id""".stripMargin

  /** q113: fixed-point multinomial Naive Bayes ([[graft.text.NaiveBayes]])
    * — the model-based filter tier (the role fastText-style quality /
    * language classifiers play in FineWeb-Edu/DCLM curation): train a
    * language classifier on the labeled 4/5 of the corpus (doc_id % 5),
    * predict the held-out 1/5. All-integer train + score (add-one
    * smoothing, 16.16 surprisal bits via the exact binary log), so the
    * oracle replays the whole pipeline — counts, floor-divided
    * probabilities, the 16-step square-and-shift log, the argmin with
    * its smaller-label tie-break — bit-for-bit.
    *
    * On this synthetic corpus the text is drawn from one ~31-token
    * vocabulary regardless of `lang`, so held-out accuracy (~42%)
    * correctly converges to the majority-class prior — the gate checks
    * the computation, not the (absent) label signal;
    * NaiveBayesSpec's planted-vocabulary corpus checks the learning.
    */
  def q113NbClassifier(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val trainDf = d.filter(col("doc_id") % 5 =!= 0)
    val testDf = d.filter(col("doc_id") % 5 === 0)
    val model = graft.text.NaiveBayes.train(trainDf, "text", "lang")
    graft.text.NaiveBayes.predict(model, testDf, "text", "doc_id")
      .join(testDf.select(col("doc_id"), col("lang").as("actual")), Seq("doc_id"))
      .select(col("doc_id"), col("pred"), col("bits_fix"), col("actual"),
        (col("pred") === col("actual")).cast("int").as("correct"))
      .orderBy("doc_id")
  }

  val q113Sql: String =
    """WITH RECURSIVE
      |tr AS (SELECT doc_id, lang AS y, text FROM documents WHERE doc_id % 5 <> 0),
      |te AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
      |ttoks AS (
      |  SELECT y, unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |                               x -> x <> '')) AS w
      |  FROM tr),
      |cwy AS (SELECT w, y, count(*)::BIGINT AS c_wy FROM ttoks GROUP BY w, y),
      |cy AS (SELECT y, CAST(sum(c_wy) AS BIGINT) AS c_y FROM cwy GROUP BY y),
      |voc AS (SELECT count(DISTINCT w)::BIGINT AS v_sz FROM cwy),
      |pri AS (SELECT y, count(*)::BIGINT AS n_y FROM tr GROUP BY y),
      |ntot AS (SELECT CAST(sum(n_y) AS BIGINT) AS n_tot FROM pri),
      |vals AS (
      |  SELECT 'w' AS kind, w, y,
      |         (1073741824::BIGINT * (c_wy + 1)) // (c_y + v_sz) AS p
      |  FROM cwy JOIN cy USING (y), voc
      |  UNION ALL
      |  SELECT 'p', '', y, (1073741824::BIGINT * n_y) // n_tot FROM pri, ntot
      |  UNION ALL
      |  SELECT 'd', '', y, 1073741824::BIGINT // (c_y + v_sz) FROM cy, voc),
      |nrm AS (
      |  SELECT kind, w, y, greatest(p, 1) AS m, 0::BIGINT AS k FROM vals
      |  UNION ALL
      |  SELECT kind, w, y, m * 2, k + 1 FROM nrm WHERE m < 1073741824),
      |normed AS (SELECT kind, w, y, m, k FROM nrm WHERE m >= 1073741824),
      |sq AS (
      |  SELECT kind, w, y, k, m, 0 AS i, 0::BIGINT AS acc FROM normed
      |  UNION ALL
      |  SELECT kind, w, y, k,
      |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
      |         i + 1,
      |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
      |  FROM (SELECT kind, w, y, k, (m * m) // 1073741824 AS m2, i, acc
      |        FROM sq WHERE i < 16) s),
      |surp AS (SELECT kind, w, y, k * 65536 - acc AS b FROM sq WHERE i = 16),
      |wb AS (SELECT w, y, b FROM surp WHERE kind = 'w'),
      |pb AS (SELECT y, b FROM surp WHERE kind = 'p'),
      |db AS (SELECT y, b FROM surp WHERE kind = 'd'),
      |ttf AS (
      |  SELECT doc_id, w, count(*)::BIGINT AS tf
      |  FROM (SELECT doc_id,
      |               unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |                                  x -> x <> '')) AS w
      |        FROM te)
      |  GROUP BY doc_id, w),
      |scored AS (
      |  SELECT t.doc_id, p.y,
      |         min(p.b) + CAST(sum(t.tf * coalesce(w.b, d.b)) AS BIGINT) AS bits
      |  FROM ttf t
      |  CROSS JOIN pb p
      |  JOIN db d ON d.y = p.y
      |  LEFT JOIN wb w ON w.w = t.w AND w.y = p.y
      |  GROUP BY t.doc_id, p.y),
      |pick AS (
      |  SELECT doc_id, y, bits,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY bits, y) AS rn
      |  FROM scored),
      |po AS (SELECT y, b FROM pb ORDER BY b, y LIMIT 1)
      |SELECT te.doc_id,
      |       coalesce(k.y, po.y) AS pred,
      |       coalesce(k.bits, po.b) AS bits_fix,
      |       te.lang AS actual,
      |       CAST(coalesce(k.y, po.y) = te.lang AS INTEGER) AS correct
      |FROM te
      |LEFT JOIN (SELECT doc_id, y, bits FROM pick WHERE rn = 1) k USING (doc_id)
      |CROSS JOIN po
      |ORDER BY te.doc_id""".stripMargin

  /** q216: classifier CALIBRATION audit (reliability diagram + ECE) —
    * the check a curation pipeline runs before trusting a model-based
    * filter's scores as sampling weights (a quality classifier that
    * says "90% positive" must be right ~90% of the time, or its
    * threshold is meaningless). Held-out NB posteriors are computed
    * EXACTLY: per-class surprisal ([[graft.text.NaiveBayes.scoreBits]]),
    * Δ = bits − min_bits per doc, class factor 2^(−Δ) via the
    * deterministic [[graft.functions.FixedLogKernel.pow2NegFix]]
    * kernel (floored binary exponentiation — the q208 bit-factor
    * machinery, negative direction), confidence = 2⁴⁷ div Σfactors.
    * Docs bucket by confidence decile; per bucket the mean stated
    * confidence and the empirical accuracy land on the 2¹⁶ grid, and
    * ECE = Σ n_b·|conf_b − acc_b| div N rides a single unpartitioned
    * window over the ≤10-row bucket relation (never a re-executing
    * self-join). Zero-token docs carry no classifier evidence and are
    * outside the reliability population by construction. Scale shape:
    * train = q113's two wordcount exchanges; score = one (doc,w)
    * combine + broadcast model join; the doc-keyed min/softmax is one
    * exchange; buckets are ≤10 rows.
    */
  def q216NbCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Load.table(spark, dir, "documents")
    val trainDf = d.filter(col("doc_id") % 5 =!= 0)
    val testDf = d.filter(col("doc_id") % 5 === 0)
    val model = graft.text.NaiveBayes.train(trainDf, "text", "lang")
    val scored = graft.text.NaiveBayes.scoreBits(model, testDf, "text",
      "doc_id")
    val w = Window.partitionBy("doc_id")
    val perDoc = scored
      .withColumn("__best", min(struct(col("bits_fix"), col("y"))).over(w))
      .withColumn("__factor", graft.functions.FixedLogExprs.pow2NegFix(
        col("bits_fix") - col("__best.bits_fix")))
      .groupBy("doc_id")
      .agg(first(col("__best.y")).as("pred"),
        sum(col("__factor")).as("__fsum"))
      .withColumn("conf_fix",
        expr(s"CAST(${1L << 47} AS BIGINT) div __fsum"))
      .join(testDf.select(col("doc_id"), col("lang").as("actual")),
        Seq("doc_id"))
      .withColumn("correct", (col("pred") === col("actual")).cast("long"))
      .withColumn("bucket",
        least(lit(9L), expr("conf_fix * 10 div 65536")))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    perDoc.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(sum(conf_fix) AS DECIMAL(38,0)) div count(*)")
          .cast("long").as("conf_mean_fix"),
        expr("CAST(sum(correct) * 65536 AS DECIMAL(38,0)) div count(*)")
          .cast("long").as("acc_fix"))
      .withColumn("gap_fix", abs(col("conf_mean_fix") - col("acc_fix")))
      .withColumn("__ngap_tot",
        sum(col("n_docs") * col("gap_fix")).over(wAll))
      .withColumn("__n_tot", sum(col("n_docs")).over(wAll))
      .withColumn("ece_fix",
        expr("CAST(__ngap_tot AS DECIMAL(38,0)) div __n_tot").cast("long"))
      .select(col("bucket"), col("n_docs"), col("conf_mean_fix"),
        col("acc_fix"), col("gap_fix"), col("ece_fix"))
      .orderBy("bucket")
  }

  val q216Sql: String = {
    val cases = graft.functions.FixedLogKernel.POW2_FRAC.zipWithIndex
      .map { case (c, i) => s"WHEN $i THEN ${c}::BIGINT" }.mkString(" ")
    s"""WITH RECURSIVE
       |tr AS (SELECT doc_id, lang AS y, text FROM documents
       |       WHERE doc_id % 5 <> 0),
       |te AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
       |ttoks AS (
       |  SELECT y, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                               x -> x <> '')) AS w
       |  FROM tr),
       |cwy AS (SELECT w, y, count(*)::BIGINT AS c_wy FROM ttoks GROUP BY w, y),
       |cy AS (SELECT y, CAST(sum(c_wy) AS BIGINT) AS c_y FROM cwy GROUP BY y),
       |voc AS (SELECT count(DISTINCT w)::BIGINT AS v_sz FROM cwy),
       |pri AS (SELECT y, count(*)::BIGINT AS n_y FROM tr GROUP BY y),
       |ntot AS (SELECT CAST(sum(n_y) AS BIGINT) AS n_tot FROM pri),
       |vals AS (
       |  SELECT 'w' AS kind, w, y,
       |         (1073741824::BIGINT * (c_wy + 1)) // (c_y + v_sz) AS p
       |  FROM cwy JOIN cy USING (y), voc
       |  UNION ALL
       |  SELECT 'p', '', y, (1073741824::BIGINT * n_y) // n_tot FROM pri, ntot
       |  UNION ALL
       |  SELECT 'd', '', y, 1073741824::BIGINT // (c_y + v_sz) FROM cy, voc),
       |nrm AS (
       |  SELECT kind, w, y, greatest(p, 1) AS m, 0::BIGINT AS k FROM vals
       |  UNION ALL
       |  SELECT kind, w, y, m * 2, k + 1 FROM nrm WHERE m < 1073741824),
       |normed AS (SELECT kind, w, y, m, k FROM nrm WHERE m >= 1073741824),
       |sq AS (
       |  SELECT kind, w, y, k, m, 0 AS i, 0::BIGINT AS acc FROM normed
       |  UNION ALL
       |  SELECT kind, w, y, k,
       |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
       |         i + 1,
       |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
       |  FROM (SELECT kind, w, y, k, (m * m) // 1073741824 AS m2, i, acc
       |        FROM sq WHERE i < 16) s),
       |surp AS (SELECT kind, w, y, k * 65536 - acc AS b FROM sq WHERE i = 16),
       |wb AS (SELECT w, y, b FROM surp WHERE kind = 'w'),
       |pb AS (SELECT y, b FROM surp WHERE kind = 'p'),
       |db AS (SELECT y, b FROM surp WHERE kind = 'd'),
       |ttf AS (
       |  SELECT doc_id, w, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id,
       |               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                                  x -> x <> '')) AS w
       |        FROM te)
       |  GROUP BY doc_id, w),
       |scored AS (
       |  SELECT t.doc_id, p.y,
       |         min(p.b) + CAST(sum(t.tf * coalesce(w.b, d.b)) AS BIGINT)
       |           AS bits
       |  FROM ttf t
       |  CROSS JOIN pb p
       |  JOIN db d ON d.y = p.y
       |  LEFT JOIN wb w ON w.w = t.w AND w.y = p.y
       |  GROUP BY t.doc_id, p.y),
       |delta AS (
       |  SELECT doc_id, y, bits - min(bits) OVER (PARTITION BY doc_id)
       |           AS dl,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY bits, y)
       |           AS rn
       |  FROM scored),
       |mkf AS (
       |  SELECT doc_id, y, rn, dl // 65536 AS k, dl % 65536 AS f
       |  FROM delta),
       |pw AS (
       |  SELECT doc_id, y, k, f, 15 AS i, 2147483648::BIGINT AS r
       |  FROM mkf WHERE f <> 0 AND k < 63
       |  UNION ALL
       |  SELECT doc_id, y, k, f, i - 1,
       |         CASE WHEN (f // (1::BIGINT << i)) % 2 = 1
       |              THEN (r * CASE i $cases END) // 2147483648
       |              ELSE r END
       |  FROM pw WHERE i >= 0),
       |fac AS (
       |  SELECT m.doc_id, m.y, m.rn,
       |         CASE WHEN m.k >= 63 THEN 0
       |              WHEN m.f = 0 THEN 2147483648::BIGINT
       |                                >> CAST(m.k AS INTEGER)
       |              ELSE p.r >> CAST(m.k AS INTEGER) END AS factor
       |  FROM mkf m LEFT JOIN (SELECT doc_id, y, r FROM pw WHERE i = -1) p
       |    USING (doc_id, y)),
       |perdoc AS (
       |  SELECT f.doc_id,
       |         max(CASE WHEN f.rn = 1 THEN f.y END) AS pred,
       |         CAST(140737488355328 // sum(f.factor) AS BIGINT) AS conf_fix
       |  FROM fac f GROUP BY f.doc_id),
       |lab AS (
       |  SELECT p.doc_id, p.conf_fix,
       |         CASE WHEN p.pred = te.lang THEN 1 ELSE 0 END AS correct,
       |         least(9, (p.conf_fix * 10) // 65536) AS bucket
       |  FROM perdoc p JOIN te USING (doc_id)),
       |bk AS (
       |  SELECT bucket, count(*)::BIGINT AS n_docs,
       |         CAST(sum(conf_fix) // count(*) AS BIGINT) AS conf_mean_fix,
       |         CAST((sum(correct) * 65536) // count(*) AS BIGINT) AS acc_fix
       |  FROM lab GROUP BY bucket)
       |SELECT bucket::BIGINT AS bucket, n_docs, conf_mean_fix, acc_fix,
       |       abs(conf_mean_fix - acc_fix) AS gap_fix,
       |       CAST(sum(n_docs * abs(conf_mean_fix - acc_fix)) OVER ()
       |            // sum(n_docs) OVER () AS BIGINT) AS ece_fix
       |FROM bk ORDER BY bucket""".stripMargin
  }

  /** q218: fill-in-the-middle transformation (Bavarian et al. 2022;
    * StarCoder's PSM/SPM variants) — the infilling data-prep stage:
    * half the corpus is rearranged so the model learns to fill a
    * masked middle from its context, the rest passes through plain.
    * The RNG is q115's discipline — every decision (apply? PSM or
    * SPM? both cut points) derives from the kmv_hash62 stable hash of
    * (doc_id, salt), so the same corpus yields the same pairs on any
    * run, partitioning, or engine, and the oracle replays every byte.
    * Cuts: a = h_a % (n+1), b = a + h_b % (n+1−a) — empty prefix /
    * middle / suffix are all legal FIM states. Rendering is sentinel
    * markup over whitespace-normalized tokens (NOT lowercased — FIM
    * preserves case): PSM = pre·P·suf·S·mid·M, SPM = suf·S·pre·P·mid·M.
    * Plain rows carry cut −1. One narrow codegen'd projection, zero
    * shuffles before the output sort.
    */
  def q218FimTransform(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Kmv
    val d = Load.table(spark, dir, "documents")
    def h(salt: String) =
      Kmv.hash62(concat(col("doc_id").cast("string"), lit(salt)))
    val tk = filter(split(col("text"), "\\s+"), t => t =!= "")
    val base = d.select(col("doc_id"), tk.as("__tk"))
      .withColumn("n_tokens", size(col("__tk")).cast("long"))
      .withColumn("__mode",
        when(col("n_tokens") < 2, lit("plain"))
          .when(h(":m") % 4 === 0, lit("psm"))
          .when(h(":m") % 4 === 1, lit("spm"))
          .otherwise(lit("plain")))
      .withColumn("cut_a",
        when(col("__mode") === "plain", lit(-1L))
          .otherwise(h(":a") % (col("n_tokens") + 1)))
      .withColumn("cut_b",
        when(col("__mode") === "plain", lit(-1L))
          .otherwise(col("cut_a") +
            h(":b") % (col("n_tokens") + 1 - col("cut_a"))))
    val pre = array_join(slice(col("__tk"), lit(1),
      col("cut_a").cast("int")), " ")
    val mid = array_join(slice(col("__tk"), (col("cut_a") + 1).cast("int"),
      (col("cut_b") - col("cut_a")).cast("int")), " ")
    val suf = array_join(slice(col("__tk"), (col("cut_b") + 1).cast("int"),
      (col("n_tokens") - col("cut_b")).cast("int")), " ")
    base.select(col("doc_id"), col("__mode").as("mode"), col("n_tokens"),
        col("cut_a"), col("cut_b"),
        when(col("__mode") === "psm",
          concat(lit("<fim_prefix>"), pre, lit("<fim_suffix>"), suf,
            lit("<fim_middle>"), mid))
          .when(col("__mode") === "spm",
            concat(lit("<fim_suffix>"), suf, lit("<fim_prefix>"), pre,
              lit("<fim_middle>"), mid))
          .otherwise(array_join(col("__tk"), " ")).as("rendered"))
      .orderBy("doc_id")
  }

  val q218Sql: String = {
    def h(salt: String) =
      DedupQueries.h62Sql(s"doc_id::VARCHAR || '$salt'")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'),
       |                     x -> x <> '') AS tk
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, tk, len(tk)::BIGINT AS n_tokens,
       |         CASE WHEN len(tk) < 2 THEN 'plain'
       |              WHEN ${h(":m")} % 4 = 0 THEN 'psm'
       |              WHEN ${h(":m")} % 4 = 1 THEN 'spm'
       |              ELSE 'plain' END AS mode
       |  FROM toks),
       |cuts AS (
       |  SELECT doc_id, tk, n_tokens, mode,
       |         CASE WHEN mode = 'plain' THEN -1
       |              ELSE ${h(":a")} % (n_tokens + 1) END AS cut_a
       |  FROM st),
       |cuts2 AS (
       |  SELECT doc_id, tk, n_tokens, mode, cut_a,
       |         CASE WHEN mode = 'plain' THEN -1
       |              ELSE cut_a + ${h(":b")} % (n_tokens + 1 - cut_a)
       |         END AS cut_b
       |  FROM cuts),
       |parts AS (
       |  SELECT doc_id, mode, n_tokens, cut_a, cut_b,
       |         -- array_to_string is string_agg underneath: an EMPTY
       |         -- slice yields NULL, not '' (Spark's array_join gives
       |         -- '') — coalesce every part
       |         coalesce(array_to_string(tk[1:cut_a], ' '), '') AS pre,
       |         coalesce(array_to_string(tk[cut_a + 1:cut_b], ' '), '')
       |           AS mid,
       |         coalesce(array_to_string(tk[cut_b + 1:n_tokens], ' '), '')
       |           AS suf,
       |         coalesce(array_to_string(tk, ' '), '') AS plain
       |  FROM cuts2)
       |SELECT doc_id, mode, n_tokens, cut_a::BIGINT AS cut_a,
       |       cut_b::BIGINT AS cut_b,
       |       CASE mode
       |         WHEN 'psm' THEN '<fim_prefix>' || pre || '<fim_suffix>'
       |                         || suf || '<fim_middle>' || mid
       |         WHEN 'spm' THEN '<fim_suffix>' || suf || '<fim_prefix>'
       |                         || pre || '<fim_middle>' || mid
       |         ELSE plain END AS rendered
       |FROM parts ORDER BY doc_id""".stripMargin
  }

  /** q115: deterministic span corruption ([[graft.text.SpanCorruption]])
    * — the denoising-objective construction step (T5-style masked-span
    * input/target pairs) with the RNG replaced by a stable block hash,
    * so the SAME corpus yields the SAME training pairs on any run,
    * partitioning, or engine. Narrow one-fold-per-doc plan, no shuffle;
    * the oracle replays the hash (HUGEINT), the run/sentinel numbering
    * (window prefix sums), and both output streams byte-for-byte.
    */
  def q115SpanCorrupt(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    graft.text.SpanCorruption.corrupt(d, "text", "doc_id").orderBy("doc_id")
  }

  val q115Sql: String = {
    val h = DedupQueries.h62Sql(
      "CAST(doc_id AS VARCHAR) || ':' || CAST(i // 3 AS VARCHAR)")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |                             x -> x <> '') AS tk
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, u.i - 1 AS i, tk[u.i] AS t
       |  FROM toks, UNNEST(generate_series(1, len(tk))) u(i)
       |  WHERE len(tk) > 0),
       |flg AS (
       |  SELECT doc_id, i, t, ($h < 691752902764108185) AS m
       |  FROM pos),
       |runs AS (
       |  SELECT doc_id, i, t, m,
       |         CASE WHEN m AND NOT coalesce(
       |                lag(m) OVER (PARTITION BY doc_id ORDER BY i), FALSE)
       |              THEN 1 ELSE 0 END AS rs
       |  FROM flg),
       |sid AS (
       |  SELECT doc_id, i, t, m, rs,
       |         CAST(sum(rs) OVER (PARTITION BY doc_id ORDER BY i)
       |           AS BIGINT) - 1 AS k
       |  FROM runs),
       |agg AS (
       |  SELECT doc_id,
       |    string_agg(CASE WHEN NOT m THEN t
       |                    WHEN rs = 1 THEN '<extra_id_' || k || '>' END,
       |               ' ' ORDER BY i) AS input_text,
       |    string_agg(CASE WHEN m AND rs = 1 THEN '<extra_id_' || k || '> ' || t
       |                    WHEN m THEN t END,
       |               ' ' ORDER BY i) AS targets_text,
       |    CAST(coalesce(max(k) + 1, 0) AS BIGINT) AS n_spans,
       |    CAST(count(*) FILTER (WHERE m) AS BIGINT) AS n_masked
       |  FROM sid GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(a.input_text, '') AS input_text,
       |       coalesce(a.targets_text, '') AS targets_text,
       |       coalesce(a.n_spans, 0) AS n_spans,
       |       coalesce(a.n_masked, 0) AS n_masked
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q143: Gopher self-repetition gate (Rae et al. 2021 §A1.1) — the
    * within-document repetition rules the corpus-level dedup family
    * can't see: looped generations and listicles repeat n-grams inside
    * ONE document. [[graft.functions.TextKernels.repetitionProfile]]
    * computes all nine signals (top-{2,3,4}-gram char coverage,
    * duplicated-{5..10}-gram char coverage, interval-union exact) in a
    * single codegen'd pass — integers end to end, so every threshold is
    * a cross-multiplied compare and the whole profile hash-gates. The
    * corpus is unioned with planted looped docs (a 60-char prefix
    * repeated 5×, built by `repeat`/`substr` identically in both
    * engines) so the duplicated-n-gram branch fires on real loops while
    * the natural docs split on the top-gram rules (published Gopher
    * bounds verbatim: 0.20/0.18/0.16 and 0.15 down to 0.10). The oracle
    * replays coverage as a window-function interval union (running max
    * of span ends) over word-offset prefix sums — a different algorithm
    * from the kernel's ordered end-pointer walk, same integers.
    * Zero-shuffle narrow map at any corpus size; only exchange is the
    * output sort.
    */
  def q143RepetitionGate(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val planted = d.select((col("doc_id") + lit(100000L)).as("doc_id"),
      repeat(concat(substring(col("text"), 1, 60), lit(" ")), 5).as("text"))
    val uni = d.select(col("doc_id"), col("text")).unionByName(planted)
    val names = "n_chars" +: graft.text.QualityRules.RepetitionBounds.map(_._1)
    graft.text.QualityRules.repetitionFlags(uni, "text", keepCol = "keep")
      .select((col("doc_id") +: names.map(col)) :+ col("keep"): _*)
      .orderBy("doc_id")
  }

  /** The repetition-profile CTE chain over source relation `src`,
    * terminating in `rep(doc_id, n_chars, top2.. dup10, keep)` — shared
    * by q143 (planted-union corpus) and q147 (spec-replay pipeline).
    */
  private[queries] def repetitionSqlCtes(src: String): String = {
    val keepSql = graft.text.QualityRules.RepetitionBounds.map { case (c, t) =>
      s"COALESCE(p.$c, 0) * 100 <= $t * w.den"
    }.mkString(" AND ")
    s"""norm AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
       |  FROM $src),
       |wrd AS (
       |  SELECT doc_id, length(s)::BIGINT AS den,
       |         CASE WHEN s = '' THEN CAST([] AS VARCHAR[])
       |              ELSE string_split(s, ' ') END AS w
       |  FROM norm),
       |starts AS (
       |  SELECT doc_id, i,
       |         COALESCE(SUM(length(w[i]) + 1) OVER (PARTITION BY doc_id ORDER BY i
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start0
       |  FROM wrd, UNNEST(generate_series(1, len(w))) AS t(i)),
       |base AS (SELECT w.doc_id, w.w, ns.n FROM wrd w
       |         CROSS JOIN (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) ns),
       |occ AS (
       |  SELECT b.doc_id, b.n, t.i,
       |         array_to_string(b.w[t.i:t.i + b.n - 1], ' ') AS g
       |  FROM base b,
       |       UNNEST(generate_series(1, greatest(len(b.w) - b.n + 1, 0))) AS t(i)),
       |cnt AS (SELECT doc_id, n, g, count(*)::BIGINT AS c
       |        FROM occ GROUP BY doc_id, n, g),
       |top AS (SELECT doc_id, n, max(c * length(g))::BIGINT AS chars
       |        FROM cnt WHERE n <= 4 GROUP BY doc_id, n),
       |dupocc AS (
       |  SELECT o.doc_id, o.n, s.start0 AS s0, s.start0 + length(o.g) AS e0
       |  FROM occ o
       |  JOIN cnt c ON c.doc_id = o.doc_id AND c.n = o.n AND c.g = o.g
       |  JOIN starts s ON s.doc_id = o.doc_id AND s.i = o.i
       |  WHERE c.c >= 2 AND o.n >= 5),
       |cov AS (
       |  SELECT doc_id, n,
       |         SUM(GREATEST(0, e0 - GREATEST(s0, COALESCE(me, 0))))::BIGINT AS chars
       |  FROM (SELECT doc_id, n, s0, e0,
       |               MAX(e0) OVER (PARTITION BY doc_id, n ORDER BY s0, e0
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS me
       |        FROM dupocc) x
       |  GROUP BY doc_id, n),
       |stats AS (SELECT doc_id, n, chars FROM top
       |          UNION ALL SELECT doc_id, n, chars FROM cov),
       |piv AS (
       |  SELECT doc_id,
       |         COALESCE(MAX(CASE WHEN n = 2 THEN chars END), 0) AS top2_chars,
       |         COALESCE(MAX(CASE WHEN n = 3 THEN chars END), 0) AS top3_chars,
       |         COALESCE(MAX(CASE WHEN n = 4 THEN chars END), 0) AS top4_chars,
       |         COALESCE(MAX(CASE WHEN n = 5 THEN chars END), 0) AS dup5_chars,
       |         COALESCE(MAX(CASE WHEN n = 6 THEN chars END), 0) AS dup6_chars,
       |         COALESCE(MAX(CASE WHEN n = 7 THEN chars END), 0) AS dup7_chars,
       |         COALESCE(MAX(CASE WHEN n = 8 THEN chars END), 0) AS dup8_chars,
       |         COALESCE(MAX(CASE WHEN n = 9 THEN chars END), 0) AS dup9_chars,
       |         COALESCE(MAX(CASE WHEN n = 10 THEN chars END), 0) AS dup10_chars
       |  FROM stats GROUP BY doc_id),
       |rep AS (
       |  SELECT d.doc_id, w.den AS n_chars,
       |         COALESCE(p.top2_chars, 0) AS top2_chars,
       |         COALESCE(p.top3_chars, 0) AS top3_chars,
       |         COALESCE(p.top4_chars, 0) AS top4_chars,
       |         COALESCE(p.dup5_chars, 0) AS dup5_chars,
       |         COALESCE(p.dup6_chars, 0) AS dup6_chars,
       |         COALESCE(p.dup7_chars, 0) AS dup7_chars,
       |         COALESCE(p.dup8_chars, 0) AS dup8_chars,
       |         COALESCE(p.dup9_chars, 0) AS dup9_chars,
       |         COALESCE(p.dup10_chars, 0) AS dup10_chars,
       |         CAST($keepSql AS INTEGER) AS keep
       |  FROM $src d JOIN wrd w USING (doc_id)
       |  LEFT JOIN piv p USING (doc_id))""".stripMargin
  }

  val q143Sql: String =
    s"""WITH documents_u AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, repeat(substr(text, 1, 60) || ' ', 5)
       |  FROM documents),
       |${repetitionSqlCtes("documents_u")}
       |SELECT doc_id, n_chars, top2_chars, top3_chars, top4_chars,
       |       dup5_chars, dup6_chars, dup7_chars, dup8_chars, dup9_chars,
       |       dup10_chars, keep
       |FROM rep ORDER BY doc_id""".stripMargin

  /** q189: sliding-window chunking ([[graft.text.Chunker]]) — RAG /
    * embedding prep: 64-token windows at stride 48 (16-token overlap),
    * positional boundaries, canonical token-join chunk text; pure
    * narrow plan (scan → tokenize → bounded explode → slice), zero
    * shuffle before the output sort.
    */
  def q189Chunking(spark: SparkSession, dir: String): DataFrame =
    graft.text.Chunker.slidingWindows(
        graft.ops.Load.table(spark, dir, "documents"),
        "text", "doc_id", window = 64, stride = 48)
      .orderBy("doc_id", "chunk_no")

  val q189Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS w
      |  FROM documents),
      |nz AS (SELECT doc_id, w, len(w) AS nt FROM toks WHERE len(w) > 0),
      |c AS (
      |  SELECT doc_id, nt, w,
      |         unnest(generate_series(0, (nt - 1) // 48)) AS chunk_no
      |  FROM nz)
      |SELECT doc_id, chunk_no::BIGINT AS chunk_no,
      |       (chunk_no * 48 + 1)::BIGINT AS tok_start,
      |       least(chunk_no * 48 + 64, nt)::BIGINT AS tok_end,
      |       (least(chunk_no * 48 + 64, nt) - chunk_no * 48)::BIGINT
      |         AS n_tokens,
      |       array_to_string(w[(chunk_no * 48 + 1):(chunk_no * 48 + 64)], ' ')
      |         AS chunk_text
      |FROM c ORDER BY doc_id, chunk_no""".stripMargin

  /** q191: cluster template extraction ([[graft.text.Templates]]) —
    * planted form-letter clusters (per doc_id div 5, a shared header
    * derived from the cluster id prefixed onto each member's text);
    * the op recovers the shared prefix via the min/max identity. The
    * cluster header plus however far members KEEP agreeing (documents
    * in a cluster may share further text) — the oracle replays the
    * same monotone prefix count.
    */
  def q191Templates(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.ops.Load.table(spark, dir, "documents")
      .select((col("doc_id") % 100).as("cluster_id"),
        concat(lit("FORM-"), (col("doc_id") % 100).cast("string"),
          lit(" :: dear customer :: "), col("text")).as("text"))
    graft.text.Templates.clusterPrefix(d, "cluster_id", "text")
      .orderBy("cluster_id")
  }

  val q191Sql: String =
    """WITH d AS (
      |  SELECT doc_id % 100 AS cluster_id,
      |         'FORM-' || CAST(doc_id % 100 AS VARCHAR)
      |           || ' :: dear customer :: ' || text AS text
      |  FROM documents),
      |mm AS (
      |  SELECT cluster_id, count(*)::BIGINT AS n_members,
      |         min(text) AS lo, max(text) AS hi
      |  FROM d GROUP BY 1),
      |lcp AS (
      |  SELECT mm.cluster_id,
      |         CASE WHEN least(len(mm.lo), len(mm.hi)) < 1 THEN 0
      |              ELSE (SELECT count(*)
      |                    FROM UNNEST(generate_series(1,
      |                           least(len(mm.lo), len(mm.hi)))) t(i)
      |                    WHERE substring(mm.lo, 1, i) = substring(mm.hi, 1, i))
      |              END AS template_len
      |  FROM mm)
      |SELECT mm.cluster_id AS cluster_id, mm.n_members,
      |       CAST(l.template_len AS BIGINT) AS template_len,
      |       substring(mm.lo, 1, CAST(l.template_len AS INTEGER)) AS template
      |FROM mm JOIN lcp l ON l.cluster_id = mm.cluster_id
      |ORDER BY mm.cluster_id""".stripMargin

  /** q229: chance-corrected classifier agreement — accuracy alone
    * (q113's `correct`) flatters a filter on imbalanced classes, and
    * calibration (q216) says nothing about WHICH classes it confuses.
    * Per class: actual/predicted/correct counts and exact per-mille
    * recall + precision; globally Cohen's kappa kept exact by
    * cross-multiplication — κ = (N·Σdiag − Σ n_pred·n_act)/(N² − Σ
    * n_pred·n_act), emitted as num, den, and the per-mille floor (both
    * engines' integer division truncates toward zero, so a
    * worse-than-chance negative κ floors identically). Class spine is
    * the full outer union of both marginals — a class the model never
    * predicts still surfaces with precision 0. Scale shape: ONE
    * prediction pass (q113's), then everything runs on the ≤|classes|
    * relation with a broadcast 1-row global.
    */
  def q229NbKappa(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val trainDf = d.filter(col("doc_id") % 5 =!= 0)
    val testDf = d.filter(col("doc_id") % 5 === 0)
    val model = graft.text.NaiveBayes.train(trainDf, "text", "lang")
    val preds = graft.text.NaiveBayes.predict(model, testDf, "text", "doc_id")
      .join(testDf.select(col("doc_id"), col("lang").as("actual")),
        Seq("doc_id"))
      .select(col("pred"), col("actual")).persist() // 3 marginal consumers
    val act = preds.groupBy(col("actual").as("lang"))
      .agg(count(lit(1)).cast("long").as("n_actual"))
    val prd = preds.groupBy(col("pred").as("lang"))
      .agg(count(lit(1)).cast("long").as("n_pred"))
    val diag = preds.filter(col("pred") === col("actual"))
      .groupBy(col("actual").as("lang"))
      .agg(count(lit(1)).cast("long").as("n_correct"))
    val cls = act.join(prd, Seq("lang"), "full_outer")
      .join(diag, Seq("lang"), "full_outer")
      .na.fill(0L, Seq("n_actual", "n_pred", "n_correct"))
    val glob = cls.agg(sum("n_actual").cast("long").as("__n"),
      sum("n_correct").cast("long").as("__diag"),
      sum(expr("n_actual * n_pred")).cast("long").as("__rc"))
    cls.crossJoin(broadcast(glob))
      .withColumn("recall_per_mille",
        when(col("n_actual") > 0, expr("(n_correct * 1000) div n_actual"))
          .otherwise(0L))
      .withColumn("precision_per_mille",
        when(col("n_pred") > 0, expr("(n_correct * 1000) div n_pred"))
          .otherwise(0L))
      .withColumn("kappa_num", expr("__n * __diag - __rc"))
      .withColumn("kappa_den", expr("__n * __n - __rc"))
      .withColumn("kappa_per_mille",
        when(col("kappa_den") > 0, expr("(kappa_num * 1000) div kappa_den"))
          .otherwise(1000L))
      .select("lang", "n_actual", "n_pred", "n_correct",
        "recall_per_mille", "precision_per_mille",
        "kappa_num", "kappa_den", "kappa_per_mille")
      .orderBy("lang")
  }

  /** q229's oracle: q113's full prediction replay wrapped as a CTE,
    * then the marginal/kappa algebra — one artifact gates the model
    * AND the agreement math.
    */
  val q229Sql: String = {
    val core = q113Sql.stripSuffix("\nORDER BY te.doc_id")
    s"""WITH preds AS (
       |$core
       |),
       |act AS (SELECT actual AS lang, count(*)::BIGINT AS n_actual
       |        FROM preds GROUP BY 1),
       |prd AS (SELECT pred AS lang, count(*)::BIGINT AS n_pred
       |        FROM preds GROUP BY 1),
       |dg AS (SELECT actual AS lang, count(*)::BIGINT AS n_correct
       |       FROM preds WHERE pred = actual GROUP BY 1),
       |cls AS (
       |  SELECT coalesce(act.lang, prd.lang, dg.lang) AS lang,
       |         coalesce(n_actual, 0) AS n_actual,
       |         coalesce(n_pred, 0) AS n_pred,
       |         coalesce(n_correct, 0) AS n_correct
       |  FROM act
       |  FULL OUTER JOIN prd ON prd.lang = act.lang
       |  FULL OUTER JOIN dg ON dg.lang = coalesce(act.lang, prd.lang)),
       |g AS (SELECT sum(n_actual)::BIGINT AS n,
       |             sum(n_correct)::BIGINT AS diag,
       |             CAST(sum(n_actual * n_pred) AS BIGINT) AS rc
       |      FROM cls)
       |SELECT lang, n_actual, n_pred, n_correct,
       |       CASE WHEN n_actual > 0 THEN (n_correct * 1000) // n_actual
       |            ELSE 0 END AS recall_per_mille,
       |       CASE WHEN n_pred > 0 THEN (n_correct * 1000) // n_pred
       |            ELSE 0 END AS precision_per_mille,
       |       n * diag - rc AS kappa_num,
       |       n * n - rc AS kappa_den,
       |       CASE WHEN n * n - rc > 0
       |            THEN ((n * diag - rc) * 1000) // (n * n - rc)
       |            ELSE 1000 END AS kappa_per_mille
       |FROM cls, g ORDER BY lang""".stripMargin
  }

  /** q232: quality-vs-token-budget curve — the planning table for "keep
    * the top X% by quality": docs ranked by the q21 heuristic score
    * (desc, doc_id tie-break) are cut into 10 exact rank deciles
    * (bucket = (rank−1)·10 div n — never ntile, whose remainder
    * distribution is engine-specific), and per decile the doc count,
    * character mass, cumulative mass, and cumulative share per-mille.
    * A curation run reads the curve to pick the quality cut that fits
    * its token budget. The global rank is the exact tier — same
    * single-sort pattern as q188/q195/q205, with the same documented
    * q118 mergeable-quantile swap at 100 TB (decile EDGES from the
    * sketch, then one partitioned pass). Everything after the rank runs
    * on the 10-row decile relation.
    */
  def q232QualityTokenCurve(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars").cast("long").as("__m"))
    val scored = d.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("__q"), col("__m"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__q").desc, col("doc_id"))
    val ranked = scored.withColumn("__r", row_number().over(w).cast("long"))
    val tot = scored.agg(count(lit(1)).cast("long").as("__n"),
      sum("__m").cast("long").as("__mass_total"))
    val per = ranked.crossJoin(broadcast(tot))
      .withColumn("bucket", expr("((__r - 1) * 10) div __n"))
      .groupBy("bucket", "__mass_total")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("__m").cast("long").as("mass"))
    val wc = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    per.withColumn("cum_mass", sum("mass").over(wc).cast("long"))
      .withColumn("cum_per_mille", expr("(cum_mass * 1000) div __mass_total"))
      .select("bucket", "n_docs", "mass", "cum_mass", "cum_per_mille")
      .orderBy("bucket")
  }

  /** q232's oracle: the q21 score CTE + rank/decile/cumulative replay. */
  val q232Sql: String = {
    val sw = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, n_chars::BIGINT AS m,
       |    len(text) AS n,
       |    len(string_split_regex(trim(text), '\\s+')) AS ntok,
       |    (len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / len(text) AS alpha,
       |    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x IN ($sw)))::DOUBLE
       |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS swr
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, m,
       |    (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 ELSE 0.5 END) * 0.25
       |    + (CASE WHEN ntok > 0 AND n::DOUBLE/ntok >= 3 AND n::DOUBLE/ntok <= 12 THEN 1.0 ELSE 0.5 END) * 0.25
       |    + alpha * 0.25
       |    + least(swr * 4, 1.0) * 0.25 AS quality
       |  FROM t),
       |r AS (
       |  SELECT doc_id, m,
       |         CAST(row_number() OVER (ORDER BY quality DESC, doc_id)
       |           AS BIGINT) AS rnk,
       |         count(*) OVER ()::BIGINT AS n_tot
       |  FROM q),
       |b AS (
       |  SELECT ((rnk - 1) * 10) // n_tot AS bucket,
       |         count(*)::BIGINT AS n_docs, sum(m)::BIGINT AS mass
       |  FROM r GROUP BY 1),
       |tot AS (SELECT sum(mass)::BIGINT AS mass_total FROM b)
       |SELECT bucket, n_docs, mass,
       |       CAST(sum(mass) OVER (ORDER BY bucket) AS BIGINT) AS cum_mass,
       |       (CAST(sum(mass) OVER (ORDER BY bucket) AS BIGINT) * 1000)
       |         // tot.mass_total AS cum_per_mille
       |FROM b, tot ORDER BY bucket""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q232_quality_token_curve" -> (q232QualityTokenCurve _),
    "q229_nb_kappa" -> (q229NbKappa _),
    "q104_ngram_novelty" -> (q104NgramNovelty _),
    "q189_chunking" -> (q189Chunking _),
    "q191_templates" -> (q191Templates _),
    "q113_nb_classifier" -> (q113NbClassifier _),
    "q216_nb_calibration" -> (q216NbCalibration _),
    "q218_fim_transform" -> (q218FimTransform _),
    "q115_span_corrupt" -> (q115SpanCorrupt _),
    "q20_text_profile" -> q20Profile,
    "q21_quality_score" -> q21Quality,
    "q22_lang_id" -> q22LangId,
    "q59_unigram_lm" -> q59UnigramLm,
    "q98_kneser_ney" -> (q98KneserNey _),
    "q163_incremental_lm" -> (q163IncrementalLm _),
    "q102_perplexity_gate" -> (q102PerplexityGate _),
    "q126_entropy_gate" -> (q126EntropyGate _),
    "q143_repetition_gate" -> (q143RepetitionGate _),
    "q131_chat_render" -> (q131ChatRender _),
    "q133_sft_pipeline" -> (q133SftPipeline _))

  val oracles: Map[String, String] = Map(
    "q232_quality_token_curve" -> q232Sql,
    "q229_nb_kappa" -> q229Sql,
    "q126_entropy_gate" -> q126Sql,
    "q143_repetition_gate" -> q143Sql,
    "q131_chat_render" -> q131Sql,
    "q133_sft_pipeline" -> q133Sql,
    "q20_text_profile" -> q20Sql,
    "q21_quality_score" -> q21Sql,
    "q22_lang_id" -> q22Sql,
    "q59_unigram_lm" -> q59Sql,
    "q98_kneser_ney" -> q98Sql,
    "q163_incremental_lm" -> q163Sql,
    "q102_perplexity_gate" -> q102Sql,
    "q104_ngram_novelty" -> q104Sql,
    "q189_chunking" -> q189Sql,
    "q191_templates" -> q191Sql,
    "q113_nb_classifier" -> q113Sql,
    "q216_nb_calibration" -> q216Sql,
    "q218_fim_transform" -> q218Sql,
    "q115_span_corrupt" -> q115Sql)
}
