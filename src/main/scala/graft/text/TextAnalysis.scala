package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting. All pure
  * Column expressions (partition-parallel, no UDFs in the hot path) — at
  * 100 TB these run as narrow map stages over the scan with zero
  * shuffle. Those built on a lambda are `CodegenFallback`s, so the
  * projection that holds one runs interpreted, kernels included (q20).
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast(LongType))

  /** BPE-ish token count: word pieces + digits + punctuation as separate
    * tokens (the usual pre-tokenizer regex family, cf. GPT-2's pattern).
    */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
      .cast(LongType)

  /** Character-class ratios for quality scoring. Each is #matches/len. */
  def charRatio(text: Column, charClassRe: String): Column = {
    val n = length(text) - length(regexp_replace(text, charClassRe, ""))
    when(length(text) > 0, n.cast(DoubleType) / length(text)).otherwise(lit(0.0))
  }

  /** English stopword hit ratio over whitespace tokens — a standard
    * quality signal (Gopher/C4-style filters): fraction of tokens that are
    * common function words.
    */
  val Stopwords: Seq[String] = Seq(
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
    "with", "as", "was", "on", "be", "at", "by", "this", "have", "from")

  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val hits = size(filter(toks, t => t.isin(Stopwords: _*)))
    when(size(toks) > 0, hits.cast(DoubleType) / size(toks)).otherwise(lit(0.0))
  }

  /** Composite quality score ∈ [0,1]: mean-word-length sanity, alpha
    * ratio, stopword presence, length floor. Deterministic arithmetic on
    * per-row values only (oracle-safe).
    */
  def qualityScore(text: Column): Column = {
    val len = length(text)
    val nTokens = tokenCountWs(text)
    val alphaRatio = charRatio(text, "[A-Za-z]")
    val lenOk = when(len >= 100 && len <= 20000, lit(1.0)).otherwise(lit(0.5))
    val meanTok = when(nTokens > 0, len.cast(DoubleType) / nTokens).otherwise(lit(0.0))
    val tokOk = when(meanTok >= 3 && meanTok <= 12, lit(1.0)).otherwise(lit(0.5))
    (lenOk * lit(0.25) + tokOk * lit(0.25) + alphaRatio * lit(0.25) +
      least(stopwordRatio(text) * 4, lit(1.0)) * lit(0.25))
  }

  /** Deflate-compression ratio (compressed/raw bytes) — the Gopher-style
    * redundancy signal that catches repetition the token-level heuristics
    * (duplicateLineFraction, topTokenFraction) miss: looped generations,
    * templated boilerplate, near-identical paragraph stacks. The
    * `compression_ratio` kernel ([[graft.functions.TextKernels.compressionRatio]]); no SQL
    * oracle (DuckDB has no deflate), so correctness is spec-pinned on
    * planted high/low-entropy fixtures.
    */
  def compressionRatio(text: Column): Column =
    graft.functions.TextExprs.compressionRatio(text)

  /** Language ID via character-class + stopword heuristics. Scripts are
    * decided by Unicode ranges (cheap, codegen'd); Latin-script languages
    * split on tiny stopword sets. Returns ISO-ish codes; "und" unknown.
    * N-gram profile models need training data — this is the dependency-free
    * heuristic tier (reference pipelines are trilingual heb/ara/eng, which
    * this distinguishes exactly: distinct scripts).
    */
  def langId(text: Column): Column = {
    val hebrew = charRatio(text, "[\\u0590-\\u05FF]")
    val arabic = charRatio(text, "[\\u0600-\\u06FF]")
    val cyrillic = charRatio(text, "[\\u0400-\\u04FF]")
    val cjk = charRatio(text, "[\\u4E00-\\u9FFF\\u3040-\\u30FF]")
    val toks = split(lower(trim(text)), "\\s+")
    def hitRatio(words: Seq[String]): Column = {
      val hits = size(filter(toks, t => words.map(w => t === lit(w)).reduce(_ || _)))
      when(size(toks) > 0, hits.cast(DoubleType) / size(toks)).otherwise(lit(0.0))
    }
    val en = hitRatio(Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"))
    val fr = hitRatio(Seq("le", "la", "les", "de", "des", "et", "est", "une", "dans", "que"))
    val es = hitRatio(Seq("el", "los", "las", "de", "y", "es", "una", "en", "que", "por"))
    val de = hitRatio(Seq("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "von"))
    when(hebrew > 0.3, lit("he"))
      .when(arabic > 0.3, lit("ar"))
      .when(cyrillic > 0.3, lit("ru"))
      .when(cjk > 0.3, lit("zh"))
      .when(greatest(en, fr, es, de) === lit(0.0), lit("und"))
      .when(en >= greatest(fr, es, de), lit("en"))
      .when(fr >= greatest(es, de), lit("fr"))
      .when(es >= de, lit("es"))
      .otherwise(lit("de"))
  }

  /** Document fingerprint: md5 of whitespace-normalized, lowercased,
    * punctuation-stripped text — the canonical near-exact-dup key
    * (catches re-encodings/case/spacing variants of the same doc).
    */
  def fingerprint(text: Column): Column =
    md5(graft.functions.HashExprs.fingerprintNormalize(text))

  /** Unigram language-model score — the KenLM-ish quality proxy: a
    * document whose tokens are rare in the corpus is jargon, noise, or
    * another language; one whose tokens are all corpus-frequent is
    * bland-but-fluent. Output per document: `n_tokens`, `sum_freq`
    * (Σ over token instances of that token's corpus count) and
    * `avg_freq` = sum_freq / n_tokens — the mean corpus frequency of
    * the document's tokens, i.e. the average unigram probability times
    * the (constant) corpus size. The log-probability variant is the
    * same plan with `ln()` folded in; this form keeps every
    * intermediate an exact integer (one final division), so it is
    * verifiable bit-for-bit across engines — transcendental `ln` and
    * float summation order are not.
    *
    * Plan shape: narrow tokenize/explode → per-(doc, token) counts
    * (ONE corpus shuffle, map-side combined, and the zipf head
    * collapses: "the" costs one row per doc, not one per instance) →
    * vocabulary aggregate off the same relation (tiny output) → join
    * tf⋈vocab on token (vocab broadcasts while it fits; Catalyst falls
    * back to a shuffle join past the threshold) → final groupBy doc.
    */
  def unigramScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tf = df
      .select(col(idCol).as("doc_id"),
        explode(Decontaminate.wordTokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("__tf"))
    val vocab = tf.groupBy("token").agg(sum(col("__tf")).as("__cnt"))
    tf.join(vocab, Seq("token"))
      .groupBy("doc_id")
      .agg(sum(col("__tf")).as("n_tokens"),
        sum(col("__tf") * col("__cnt")).as("sum_freq"))
      .withColumn("avg_freq", col("sum_freq") / col("n_tokens"))
  }

  /** Full text-profile projection used by the documents pipeline. */
  def profile(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCountWs(t))
      .withColumn("n_tokens_bpe", tokenCountBpe(t))
      .withColumn("alpha_ratio", charRatio(t, "[A-Za-z]"))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_id", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** Content-novelty scoring for incremental crawls: per document, the
    * share of its DISTINCT word n-grams never seen in any earlier
    * document (earlier = smaller `ordCol`). A re-crawl of syndicated or
    * boilerplate-heavy content scores near 0 and can be deprioritized
    * before the expensive pipeline stages; genuinely new material scores
    * near 100.
    *
    * Scale shape: one shuffle, keyed by the 8-byte gram hash — the
    * first-seen document per gram is a per-key window minimum (never a
    * global window); the per-doc rollup is the second, doc-keyed
    * shuffle. Collision discipline matches [[ParagraphDedup]]: a row
    * whose gram STRING differs from its hash-group winner is a 2⁻⁶⁴
    * collision and counts novel — a collision can only over-count
    * novelty, never suppress a genuinely new gram.
    *
    * Output: (doc_id, n_grams, n_novel, novelty_pct) with the integer
    * percentage floored — no float crosses an engine boundary.
    */
  def ngramNovelty(df: DataFrame, textCol: String, idCol: String,
      ordCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bind the token array BEFORE the gram lambda: inlining the
    // tokenizer into the transform re-splits the text per gram position
    // (measured 4.0 s → 1.5 s at sf0.1; same trap as q89's rewrite)
    val toks = df.select(col(idCol).as("doc_id"), col(ordCol).as("__ord"),
      Decontaminate.wordTokens(col(textCol)).as("__toks"))
    val tk = col("__toks")
    val grams = toks.select(col("doc_id"), col("__ord"),
      explode(array_distinct(
        transform(sequence(lit(0), greatest(size(tk) - n, lit(0))),
          i => array_join(slice(tk, i + 1, lit(n)), " ")))).as("gram"))
    val byGram = Window.partitionBy("__gh").orderBy("__ord", "doc_id")
    grams
      .withColumn("__gh", xxhash64(col("gram")))
      .withColumn("__w_ord", first(col("__ord")).over(byGram))
      .withColumn("__w_gram", first(col("gram")).over(byGram))
      .withColumn("__novel",
        (col("__ord") === col("__w_ord")) || (col("gram") =!= col("__w_gram")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__novel"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_pct", expr("100L * n_novel div n_grams"))
  }
}
