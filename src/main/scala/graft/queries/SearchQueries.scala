package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.Query
import graft.ScratchDirs
import graft.ops.Load
import graft.text.{QualityRules, SpanDedup}
import graft.similarity.{Bm25, Lexical, TfIdf}

/** Driver queries for the span-dedup / quality-rules / lexical-search
  * tier (beyond-reference training-data operators; see COVERAGE.md).
  * Each has an independent DuckDB oracle over the same parquet.
  */
object SearchQueries {

  /** q67: maximal duplicated word-4-gram spans across documents —
    * substring-granularity dedup (Lee et al. ACL'22 shape). The oracle
    * reconstructs grams, doc-frequencies, and the island merge with SQL
    * window algebra; the Spark side, which plans no Window (per-doc array
    * algebra, [[SpanDedup]]), must agree on every span boundary.
    */
  def q67SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    SpanDedup.dupSpans(d, "text", "doc_id", n = 4, minDocs = 2)
      .orderBy("doc_id", "span_start")
  }

  val q67Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+3], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(w) - 3)) t(i)
      |  WHERE len(w) >= 4),
      |hot AS (
      |  SELECT gram FROM (
      |    SELECT gram, count(DISTINCT doc_id) AS nd FROM grams GROUP BY gram) x
      |  WHERE nd >= 2),
      |hits AS (SELECT DISTINCT doc_id, pos FROM grams JOIN hot USING (gram)),
      |grp AS (
      |  SELECT doc_id, pos,
      |         sum(CASE WHEN prev IS NULL OR pos - prev > 4 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY pos) AS g
      |  FROM (SELECT doc_id, pos,
      |               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |        FROM hits) y)
      |SELECT doc_id, min(pos) AS span_start,
      |       max(pos) + 4 - min(pos) AS span_len
      |FROM grp GROUP BY doc_id, g
      |ORDER BY doc_id, span_start""".stripMargin

  /** q68: the Gopher/C4 rule-bundle quality gate — every statistic and
    * flag recomputed independently by the oracle (flags surfaced as
    * 0/1 INTEGER on both sides; comparisons sit on exactly-reproducible
    * single-division doubles).
    */
  def q68QualityRules(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val f = QualityRules.flags(d, "text")
    val flagCols = Seq("flag_word_count", "flag_mean_word_len",
      "flag_alpha_words", "flag_stopwords", "flag_dup_lines",
      "flag_bullet", "flag_ellipsis", "keep")
    flagCols.foldLeft(f)((df, c) => df.withColumn(c, col(c).cast(IntegerType)))
      .drop("text")
      .orderBy("doc_id")
  }

  val q68Sql: String = {
    val stopList = graft.text.TextAnalysis.Stopwords
      .map(s => s"'$s'").mkString("[", ",", "]")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                x -> x <> '') AS w,
       |    list_filter(list_transform(string_split(text, chr(10)),
       |                x -> trim(x)), x -> x <> '') AS ls
       |  FROM documents),
       |stats AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CASE WHEN len(w) > 0 THEN
       |      CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
       |        / CAST(len(w) AS DOUBLE) ELSE 0.0 END AS mean_word_len,
       |    CASE WHEN len(w) > 0 THEN
       |      CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
       |        / CAST(len(w) AS DOUBLE) ELSE 0.0 END AS alpha_word_ratio,
       |    CAST(len(list_filter($stopList,
       |      s -> list_contains(w, s))) AS BIGINT) AS stopword_hits,
       |    CASE WHEN len(ls) > 0 THEN
       |      CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE)
       |        / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS dup_line_ratio,
       |    CASE WHEN len(ls) > 0 THEN
       |      CAST(len(list_filter(ls, l -> l LIKE '-%' OR l LIKE '*%'
       |        OR l LIKE '•%')) AS DOUBLE)
       |        / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS bullet_line_ratio,
       |    CASE WHEN len(ls) > 0 THEN
       |      CAST(len(list_filter(ls, l -> l LIKE '%...')) AS DOUBLE)
       |        / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS ellipsis_line_ratio
       |  FROM base),
       |flagged AS (
       |  SELECT *,
       |    CAST(n_words >= 10 AND n_words <= 100000 AS INTEGER) AS flag_word_count,
       |    CAST(mean_word_len >= 2.0 AND mean_word_len <= 12.0 AS INTEGER) AS flag_mean_word_len,
       |    CAST(alpha_word_ratio >= 0.8 AS INTEGER) AS flag_alpha_words,
       |    CAST(stopword_hits >= 2 AS INTEGER) AS flag_stopwords,
       |    CAST(dup_line_ratio <= 0.5 AS INTEGER) AS flag_dup_lines,
       |    CAST(bullet_line_ratio <= 0.9 AS INTEGER) AS flag_bullet,
       |    CAST(ellipsis_line_ratio <= 0.3 AS INTEGER) AS flag_ellipsis
       |  FROM stats)
       |SELECT *, flag_word_count * flag_mean_word_len * flag_alpha_words
       |         * flag_stopwords * flag_dup_lines * flag_bullet
       |         * flag_ellipsis AS keep
       |FROM flagged ORDER BY doc_id""".stripMargin
  }

  /** q69: inverted-index TF-IDF top-5 retrieval; query set = every 31st
    * document searching the whole corpus. Fixed-point ln-free idf keeps
    * scores exact int64 (see [[graft.similarity.Lexical]]), so the
    * oracle's window formulation must hash-match, ties and all.
    */
  def q69TfIdfSearch(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val queries = d.filter(col("doc_id") % 31 === 0)
    TfIdf.topK(d, queries, "text", "doc_id", "doc_id", k = 5)
      .orderBy("query_id", "doc_id")
  }

  val q69Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS w
      |  FROM documents),
      |postings AS (
      |  SELECT doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks, UNNEST(w) AS t(term) GROUP BY doc_id, t.term),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      |wt AS (
      |  SELECT term,
      |         CAST(floor((nd - df + 0.5) / (df + 0.5) * 1048576.0) AS BIGINT) AS w
      |  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df
      |        FROM postings GROUP BY term), nn),
      |q AS (SELECT DISTINCT doc_id AS query_id, t.term
      |      FROM toks, UNNEST(w) AS t(term) WHERE doc_id % 31 = 0),
      |scored AS (
      |  SELECT q.query_id, p.doc_id, CAST(sum(p.tf * wt.w) AS BIGINT) AS score
      |  FROM q JOIN postings p USING (term) JOIN wt USING (term)
      |  GROUP BY q.query_id, p.doc_id)
      |SELECT query_id, doc_id, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |            ORDER BY score DESC, doc_id) AS rn
      |  FROM scored) x
      |WHERE rn <= 5 ORDER BY query_id, doc_id""".stripMargin

  /** q120: exact-integer Okapi BM25 top-5 retrieval; query set = every
    * 37th document searching the whole corpus. Adds what q69's TF-IDF
    * lacks: saturated tf and document-length normalization, both in
    * fixed point (pre-floored avgdl, cleared-fraction k1=1.2 / b=0.75
    * constants — see [[graft.similarity.Bm25]]), so the oracle's
    * from-scratch window formulation must hash-match, ties and all.
    */
  def q120Bm25Search(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val queries = d.filter(col("doc_id") % 37 === 0 && col("doc_id") < 10000000L)
    Bm25.topK(d, queries, "text", "doc_id", "doc_id", k = 5)
      .orderBy("query_id", "doc_id")
  }

  val q120Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS w
      |  FROM documents),
      |postings AS (
      |  SELECT doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks, UNNEST(w) AS t(term) GROUP BY doc_id, t.term),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM postings GROUP BY doc_id),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      |ad AS (SELECT greatest(1, CAST(sum(tf) AS BIGINT) // nd) AS adl
      |       FROM postings, nn GROUP BY nd),
      |wt AS (
      |  SELECT term,
      |         least(CAST(floor((nd - df + 0.5) / (df + 0.5) * 1048576.0)
      |                    AS BIGINT), 1099511627776) AS w
      |  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df
      |        FROM postings GROUP BY term), nn),
      |sat AS (
      |  SELECT p.doc_id, p.term,
      |         CAST((22528 * p.tf * 16384)
      |              // (10240 * p.tf + 3072 + 9 * ((d.dl * 1024) // ad.adl))
      |              AS BIGINT) AS v
      |  FROM postings p JOIN dl d USING (doc_id), ad),
      |q AS (SELECT DISTINCT doc_id AS query_id, t.term
      |      FROM toks, UNNEST(w) AS t(term) WHERE doc_id % 37 = 0 AND doc_id < 10000000),
      |scored AS (
      |  SELECT q.query_id, s.doc_id, CAST(sum(s.v * wt.w) AS BIGINT) AS score
      |  FROM q JOIN sat s USING (term) JOIN wt USING (term)
      |  GROUP BY q.query_id, s.doc_id)
      |SELECT query_id, doc_id, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |            ORDER BY score DESC, doc_id) AS rn
      |  FROM scored) x
      |WHERE rn <= 5 ORDER BY query_id, doc_id""".stripMargin

  /** q177: hybrid retrieval via reciprocal-rank fusion
    * ([[graft.similarity.Rrf.fuse]]) — the composition the engine's two
    * retrieval legs exist FOR: BM25 top-10 (q120's integer scoring) and
    * brute-force cosine top-10 (q40's, self kept on both sides so the
    * lists mirror exactly) fused on ranks alone, each contribution the
    * exact 2^16 div (60 + rank), re-ranked by (rrf desc, doc_id). Docs
    * strong in only one modality surface; docs present in both dominate.
    */
  def q177HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.{Ann, Rrf}
    val d = Load.table(spark, dir, "documents")
    val e = Load.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val queries = d.filter(col("doc_id") % 37 === 0 && col("doc_id") < 10000000L)
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    val lex = Bm25.topK(d, queries, "text", "doc_id", "doc_id", k = 10)
      .withColumn("rank", row_number().over(wLex))
    val sem = Ann.bruteForceTopK(e, e.filter(col("vec_id") % 37 === 0 && col("vec_id") < 10000000L),
        "vec_id", "embedding", k = 10, excludeSelf = false)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Rrf.fuse(Seq(lex.select("query_id", "doc_id", "rank"), sem), k0 = 60L,
        topK = 5)
      .orderBy("query_id", "rank")
  }

  val q177Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS w
      |  FROM documents),
      |postings AS (
      |  SELECT doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks, UNNEST(w) AS t(term) GROUP BY doc_id, t.term),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM postings GROUP BY doc_id),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      |ad AS (SELECT greatest(1, CAST(sum(tf) AS BIGINT) // nd) AS adl
      |       FROM postings, nn GROUP BY nd),
      |wt AS (
      |  SELECT term,
      |         least(CAST(floor((nd - df + 0.5) / (df + 0.5) * 1048576.0)
      |                    AS BIGINT), 1099511627776) AS w
      |  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df
      |        FROM postings GROUP BY term), nn),
      |sat AS (
      |  SELECT p.doc_id, p.term,
      |         CAST((22528 * p.tf * 16384)
      |              // (10240 * p.tf + 3072 + 9 * ((d.dl * 1024) // ad.adl))
      |              AS BIGINT) AS v
      |  FROM postings p JOIN dl d USING (doc_id), ad),
      |qt AS (SELECT DISTINCT doc_id AS query_id, t.term
      |       FROM toks, UNNEST(w) AS t(term) WHERE doc_id % 37 = 0 AND doc_id < 10000000),
      |lscored AS (
      |  SELECT qt.query_id, s.doc_id, CAST(sum(s.v * wt.w) AS BIGINT) AS score
      |  FROM qt JOIN sat s USING (term) JOIN wt USING (term)
      |  GROUP BY qt.query_id, s.doc_id),
      |lex AS (
      |  SELECT query_id, doc_id, rn AS rank FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |              ORDER BY score DESC, doc_id) AS rn
      |    FROM lscored) x
      |  WHERE rn <= 10),
      |qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |       FROM embeddings WHERE vec_id % 37 = 0 AND vec_id < 10000000),
      |cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cv
      |       FROM embeddings),
      |sscored AS (
      |  SELECT query_id, doc_id,
      |         list_dot_product(qv, cv)
      |           / (sqrt(list_dot_product(qv, qv))
      |              * sqrt(list_dot_product(cv, cv))) AS sim
      |  FROM qv CROSS JOIN cv),
      |sem AS (
      |  SELECT query_id, doc_id, rn AS rank FROM (
      |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
      |           ORDER BY sim DESC, doc_id) AS rn
      |    FROM sscored) x
      |  WHERE rn <= 10),
      |u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
      |fused AS (
      |  SELECT query_id, doc_id,
      |         CAST(sum(65536 // (60 + rank)) AS BIGINT) AS rrf_fix,
      |         count(*)::BIGINT AS n_lists
      |  FROM u GROUP BY 1, 2)
      |SELECT query_id, rank, doc_id, rrf_fix, n_lists FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |            ORDER BY rrf_fix DESC, doc_id) AS INTEGER) AS rank
      |  FROM fused) f
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Generation-0 build for q156 (prepare hook, untimed — same
    * probe-a-maintained-artifact rule as q165b/q43b/q236): the history
    * index is the artifact a production ingest MAINTAINS, so its build
    * + parquet write run outside the bench clock; the timed query is
    * delta index + additive merge + probe (+ the in-band from-scratch
    * merge_exact audit, which stays timed — it is the query's output
    * contract, not artifact construction). Self-sufficient: the query
    * calls this first, no-op once built. */
  private[graft] def buildBm25HistIndex(spark: SparkSession,
      dir: String): String = ScratchDirs.built(dir, "bm25idx") { base =>
    val hist = Load.table(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 0)
    val (hp, hs) = Bm25.index(hist, "text", "doc_id")
    hp.write.mode("overwrite").parquet(s"$base/postings")
    hs.write.mode("overwrite").parquet(s"$base/scalars")
  }

  /** q156: incremental inverted-index maintenance
    * ([[graft.similarity.Lexical]]: `index`/`mergeIndex`/`topKFromIndex`) —
    * the retrieval leg of the artifact-algebra trio (q152 profiles,
    * q155 cluster labels): history's index (raw postings + (n, tot)
    * scalars — NOT the derived avgdl/idf, which change under merge)
    * persists to parquet; an ingest delta indexes alone; the merged
    * artifact serves BM25 queries with history never re-tokenized.
    * In-band `merge_exact` compares every served score against a
    * from-scratch build on the full corpus; the oracle recomputes the
    * q120 scoring pipeline directly and pins the flag — a divergence
    * in any count, the avgdl floor, or a tie would break either the
    * scores or the row set.
    */
  def q156IncrementalIndex(spark: SparkSession, dir: String): DataFrame = {
    val base = buildBm25HistIndex(spark, dir) // no-op when the untimed prepare ran
    val d = Load.table(spark, dir, "documents")
    val delta = d.filter(col("doc_id") % 2 =!= 0)
    val histIdx = (Load.parquet(spark, s"$base/postings"),
      Load.parquet(spark, s"$base/scalars"))
    val (mp, ms) =
      Lexical.mergeIndex(Seq(histIdx, Bm25.index(delta, "text", "doc_id")))
    val queries = d.filter(col("doc_id") % 41 === 0 && col("doc_id") < 10000000L)
    val inc = Bm25.topKFromIndex(mp, ms, queries, "text", "doc_id", k = 5)
    val direct = Bm25.topK(d, queries, "text", "doc_id", "doc_id", k = 5)
      .select(col("query_id"), col("doc_id"), col("score").as("__ds"))
    inc.join(direct, Seq("query_id", "doc_id"))
      .select(col("query_id"), col("doc_id"), col("score"),
        (col("score") === col("__ds")).cast(IntegerType).as("merge_exact"))
      .orderBy("query_id", "doc_id")
  }

  val q156Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS w
      |  FROM documents),
      |postings AS (
      |  SELECT doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks, UNNEST(w) AS t(term) GROUP BY doc_id, t.term),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM postings GROUP BY doc_id),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      |ad AS (SELECT greatest(1, CAST(sum(tf) AS BIGINT) // nd) AS adl
      |       FROM postings, nn GROUP BY nd),
      |wt AS (
      |  SELECT term,
      |         least(CAST(floor((nd - df + 0.5) / (df + 0.5) * 1048576.0)
      |                    AS BIGINT), 1099511627776) AS w
      |  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df
      |        FROM postings GROUP BY term), nn),
      |sat AS (
      |  SELECT p.doc_id, p.term,
      |         CAST((22528 * p.tf * 16384)
      |              // (10240 * p.tf + 3072 + 9 * ((d.dl * 1024) // ad.adl))
      |              AS BIGINT) AS v
      |  FROM postings p JOIN dl d USING (doc_id), ad),
      |q AS (SELECT DISTINCT doc_id AS query_id, t.term
      |      FROM toks, UNNEST(w) AS t(term) WHERE doc_id % 41 = 0 AND doc_id < 10000000),
      |scored AS (
      |  SELECT q.query_id, s.doc_id, CAST(sum(s.v * wt.w) AS BIGINT) AS score
      |  FROM q JOIN sat s USING (term) JOIN wt USING (term)
      |  GROUP BY q.query_id, s.doc_id)
      |SELECT query_id, doc_id, score, 1 AS merge_exact FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |            ORDER BY score DESC, doc_id) AS rn
      |  FROM scored) x
      |WHERE rn <= 5 ORDER BY query_id, doc_id""".stripMargin

  /** q123: unigram-LM (SentencePiece-style) Viterbi tokenization — the
    * min-total-cost segmentation of every corpus word against a planted
    * integer-cost vocabulary ([[graft.text.Unigram]]), completing the
    * tokenizer family next to BPE (q101/q112): same (doc_id, widx,
    * tidx, token) shape, globally-optimal covers instead of merge
    * replay. The vocabulary plants multi-piece alternatives whose
    * optimal cover differs from greedy longest-match (spec-pinned), so
    * the gate genuinely exercises the DP. The oracle replays the DP
    * forward (recursive CTE building the best-cost list per word) and
    * the longest-piece-backward reconstruction, candidate CASEs
    * generated from the same vocab literals.
    */
  def q123UnigramEncode(spark: SparkSession, dir: String): DataFrame = {
    // sort EARLY (Par.sortEarly): range-partition the bare (doc_id, text)
    // scan by doc_id, run the Viterbi kernel post-shuffle (parallel across
    // shuffle partitions instead of pinned to the scan's file splits, and
    // exactly ONCE — no sortOnce persist of the full token relation), and
    // complete the (doc_id, widx, tidx) order within partitions: widx/tidx
    // are generated inside a doc_id group, which range partitioning never
    // splits.
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    graft.ops.Par.sortEarly(d, Seq(col("doc_id")),
      Seq(col("doc_id"), col("widx"), col("tidx"))) { dd =>
      graft.text.Unigram.encode(dd, "text", q123Vocab, unkCost = q123Unk)
        .select(col("doc_id"), col("widx").cast("long").as("widx"),
          col("tidx").cast("long").as("tidx"), col("token"))
    }
  }

  private val q123Unk = 400L
  private[queries] val q123Vocab: Seq[(String, Long)] = Seq(
    // singles (frequency-shaped costs)
    "e" -> 90L, "t" -> 100L, "n" -> 105L, "s" -> 108L, "h" -> 110L,
    "o" -> 112L, "i" -> 115L, "r" -> 118L, "a" -> 120L, "l" -> 122L,
    "d" -> 125L, "u" -> 130L, "c" -> 128L, "m" -> 127L,
    // bigrams/trigrams: cheaper than their letters, with deliberate
    // overlaps so the optimal cover is a real DP decision
    "th" -> 140L, "he" -> 145L, "the" -> 150L, "in" -> 148L,
    "er" -> 149L, "an" -> 150L, "re" -> 151L, "on" -> 152L,
    "at" -> 153L, "en" -> 147L, "ed" -> 160L, "es" -> 158L,
    "ti" -> 157L, "te" -> 155L, "ing" -> 200L, "ion" -> 205L,
    "data" -> 260L)

  val q123Sql: String = {
    def esc(s: String) = s.replace("'", "''")
    val singles = q123Vocab.filter(_._1.length == 1)
    val singleList = singles.map(p => s"'${esc(p._1)}'").mkString("(", ", ", ")")
    // forward-DP candidates for position i+1 (math), best list 1-indexed
    val dpCands = (q123Vocab.map { case (p, c) =>
      val lp = p.length
      s"CASE WHEN i + 1 >= $lp AND substring(word, i + 2 - $lp, $lp) = " +
        s"'${esc(p)}' THEN best[i + 2 - $lp] + $c END"
    } :+ s"CASE WHEN substring(word, i + 1, 1) NOT IN $singleList " +
      s"THEN best[i + 1] + $q123Unk END").mkString(",\n      |        ")
    // backward-reconstruction candidates: the piece LENGTH when its cost
    // equation holds at pos
    val recCands = (q123Vocab.map { case (p, c) =>
      val lp = p.length
      s"CASE WHEN pos >= $lp AND substring(word, pos - $lp + 1, $lp) = " +
        s"'${esc(p)}' AND best[pos - $lp + 1] + $c = best[pos + 1] THEN $lp END"
    } :+ s"CASE WHEN substring(word, pos, 1) NOT IN $singleList " +
      s"AND best[pos] + $q123Unk = best[pos + 1] THEN 1 END")
      .mkString(",\n      |        ")
    s"""WITH RECURSIVE words AS (
       |  SELECT doc_id, i - 1 AS widx, w[i] AS word, length(w[i]) AS n
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      x -> x <> '') AS w
       |        FROM documents),
       |       UNNEST(generate_series(1, len(w))) t(i)),
       |dp AS (
       |  SELECT doc_id, widx, word, n, 0 AS i, [CAST(0 AS BIGINT)] AS best
       |  FROM words
       |  UNION ALL
       |  SELECT doc_id, widx, word, n, i + 1,
       |    list_append(best, list_min(list_filter([
       |        $dpCands
       |      ], x -> x IS NOT NULL)))
       |  FROM dp WHERE i < n),
       |rec AS (
       |  SELECT doc_id, widx, word, n, best, n AS pos,
       |         CAST([] AS VARCHAR[]) AS toks
       |  FROM dp WHERE i = n
       |  UNION ALL
       |  SELECT doc_id, widx, word, n, best, pos - lmax,
       |         list_prepend(substring(word, pos - lmax + 1, lmax), toks)
       |  FROM (
       |    SELECT *, list_max(list_filter([
       |        $recCands
       |      ], x -> x IS NOT NULL)) AS lmax
       |    FROM rec WHERE pos > 0) z)
       |SELECT doc_id, CAST(widx AS BIGINT) AS widx,
       |       CAST(i - 1 AS BIGINT) AS tidx, toks[i] AS token
       |FROM (SELECT doc_id, widx, toks FROM rec WHERE pos = 0),
       |     UNNEST(generate_series(1, len(toks))) t(i)
       |ORDER BY doc_id, widx, tidx""".stripMargin
  }

  /** q165: exact phrase retrieval over positional postings
    * ([[graft.similarity.PhraseSearch]]) — the order-sensitive query
    * the bag-of-words probes (q69 TF-IDF, q120 BM25) cannot express.
    * Every 53rd document contributes its tokens 6–8 as a 3-term phrase
    * query; matching is the anchor formulation (doc matches at anchor a
    * iff postings hold every phrase term at a + offset), so the output
    * carries occurrence counts and first positions, not just hits. The
    * oracle replays postings, phrase extraction, and the
    * anchor-group-having pipeline in SQL — purely integer/string, so it
    * hash-gates.
    *
    * The probe batch is PINNED to base-corpus ids (doc_id < 10⁷ — a
    * no-op at every oracle SF, where all ids are small; ScaleUp replicas
    * sit at ≥ 10⁷): round 11 found the "13.6× sf1 tail" was neither
    * build nor probe-plan cost but the probe SET growing with the
    * corpus — doc_id % 53 selected 10× more phrase queries against 10×
    * more postings, an O(corpus²) benchmark artifact no retrieval
    * deployment has. A search system's scaling axes are index size and
    * per-query cost; the bench now holds the query batch fixed so the
    * sf ratio measures exactly the index axis.
    */
  def q165PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.PhraseSearch
    val d = Load.table(spark, dir, "documents")
    val post = PhraseSearch.postings(d, "text", "doc_id")
    val phrases = d
      .select(col("doc_id"),
        graft.text.Decontaminate.wordTokens(col("text")).as("__toks"))
      .filter(col("doc_id") % 53 === 0 && col("doc_id") < 10000000L &&
        size(col("__toks")) >= 8)
      .select(col("doc_id"), slice(col("__toks"), 6, 3).as("__ph"))
    PhraseSearch.matchesRareFirst(post,
        PhraseSearch.phraseTerms(phrases, "doc_id", "__ph"))
      .orderBy("query_id", "doc_id")
  }

  val q165Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS tk
      |  FROM documents),
      |post AS (
      |  SELECT doc_id, tk[i] AS term, i AS pos
      |  FROM toks, UNNEST(generate_series(1, len(tk))) t(i)),
      |ph AS (
      |  SELECT doc_id AS query_id, tk[5 + j] AS term, j - 1 AS off
      |  FROM toks, UNNEST(generate_series(1, 3)) u(j)
      |  WHERE doc_id % 53 = 0 AND doc_id < 10000000 AND len(tk) >= 8),
      |anchors AS (
      |  SELECT ph.query_id, p.doc_id, p.pos - ph.off AS anchor
      |  FROM ph JOIN post p USING (term)
      |  GROUP BY 1, 2, 3 HAVING count(*) = 3)
      |SELECT query_id, doc_id, count(*)::BIGINT AS n_anchors,
      |       CAST(min(anchor) AS BIGINT) AS first_pos
      |FROM anchors GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** One-time index build for q165b: postings + term stats via
    * [[graft.similarity.PhraseSearch.saveIndex]], plus the probe phrase
    * set, all persisted. Registered in [[SparkEntry.prepare]] so the
    * bench runs it UNTIMED — round-10 verdict #3: q165's 13.6× sf1/sf0.1
    * ratio was postings construction, not probe cost, and at 100 TB the
    * index is a maintained artifact, so timing its rebuild inside every
    * probe masked real probe regressions.
    */
  def buildPhraseIndex(spark: SparkSession,
      dir: String): String = ScratchDirs.built(dir, "postidx") { base =>
    val d = Load.table(spark, dir, "documents")
    graft.similarity.PhraseSearch.saveIndex(
      graft.similarity.PhraseSearch.postings(d, "text", "doc_id"), base)
    d.select(col("doc_id"),
        graft.text.Decontaminate.wordTokens(col("text")).as("__toks"))
      .filter(col("doc_id") % 53 === 0 && col("doc_id") < 10000000L &&
        size(col("__toks")) >= 8)
      .select(col("doc_id"), slice(col("__toks"), 6, 3).as("__ph"))
      .write.mode("overwrite").parquet(s"$base/phrases")
  }

  /** One-time incremental-index build for q165c (see there): generation-0
    * index over the history partition, delta postings APPENDED as new
    * parquet files (history files untouched on disk — verified by
    * mtime in the spec), term-df regenerated by ADDITIVE merge of the
    * generation-0 stats relation with the delta's own counts.
    */
  def buildPhraseIndexIncremental(spark: SparkSession,
      dir: String): String = ScratchDirs.built(dir, "postidx_inc") { base =>
    val d = Load.table(spark, dir, "documents")
    val hist = d.filter(col("doc_id") % 5 =!= 0)
    val delta = d.filter(col("doc_id") % 5 === 0)
    // yesterday's index: the standard build over the history partition
    graft.similarity.PhraseSearch.saveIndex(
      graft.similarity.PhraseSearch.postings(hist, "text", "doc_id"), base)
    // today's ingest: delta postings land as APPENDED files in the same
    // term-clustered layout — history postings are never read, let alone
    // rewritten (the 100 TB property: index growth costs O(delta))
    val pd = graft.similarity.PhraseSearch.postings(delta, "text", "doc_id")
      .persist() // feeds the append AND the df delta
    pd.repartition(col("term")).sortWithinPartitions("term", "doc_id", "pos")
      .write.mode("append").parquet(s"$base/postings")
    // df upsert: additive merge of the O(|vocab|) stats relation with the
    // delta's counts — exact because generations are doc-disjoint (the
    // q152 profile-merge discipline). History POSTINGS still never scan.
    val dfd = pd.groupBy("term").agg(count(lit(1)).cast("long").as("__df"))
    Load.parquet(spark, s"$base/term_df").unionByName(dfd)
      .groupBy("term").agg(sum("__df").cast("long").as("__df"))
      .write.mode("overwrite").parquet(s"$base/term_df_gen1")
    pd.unpersist()
    d.select(col("doc_id"),
        graft.text.Decontaminate.wordTokens(col("text")).as("__toks"))
      .filter(col("doc_id") % 53 === 0 && col("doc_id") < 10000000L &&
        size(col("__toks")) >= 8)
      .select(col("doc_id"), slice(col("__toks"), 6, 3).as("__ph"))
      .write.mode("overwrite").parquet(s"$base/phrases")
  }

  /** q165c: INCREMENTAL maintenance of the persisted positional index —
    * the q155/q156 cross-run discipline applied to q165b's artifact.
    * History (doc_id % 5 ≠ 0) is indexed as generation 0; the delta
    * (doc_id % 5 = 0) arrives later and is folded in WITHOUT rescanning
    * history: its postings append as new files in the same
    * term-clustered layout, and the term-df stats update by additive
    * merge of two O(|vocab|) relations (exact — generations are
    * doc-disjoint). The probe then runs against the merged index and
    * must equal a from-scratch rebuild over the full corpus: same
    * oracle as q165/q165b, so a drifted df, a lost posting file, or a
    * double-counted delta all hash-fail. At 100 TB this is the nightly
    * ingest: O(delta) build work + O(vocab) stats work, zero history
    * I/O.
    */
  def q165cPhraseIndexIncremental(spark: SparkSession, dir: String): DataFrame = {
    val base = buildPhraseIndexIncremental(spark, dir) // no-op when prepare already ran
    val post = Load.parquet(spark, s"$base/postings")
    val tdf = Load.parquet(spark, s"$base/term_df_gen1")
    val phrases = Load.parquet(spark, s"$base/phrases")
    graft.similarity.PhraseSearch.matchesRareFirstWithStats(post, tdf,
        graft.similarity.PhraseSearch.phraseTerms(phrases, "doc_id", "__ph"))
      .orderBy("query_id", "doc_id")
  }

  /** q165b: the phrase probe against the PERSISTED positional index —
    * reload postings + term-df + probe set from parquet and run only
    * [[graft.similarity.PhraseSearch.matchesRareFirstWithStats]] (no
    * corpus tokenization, no df aggregate). Same oracle as q165: the
    * round-trip through the artifact must change nothing — the
    * q43b/q112 cross-run discipline applied to the search index.
    * Self-sufficient without the prepare hook (Verify/driver path):
    * builds the index on first touch, in this JVM's scratch root so a
    * stale artifact from another run can never poison this one.
    */
  def q165bPhraseIndexReload(spark: SparkSession, dir: String): DataFrame = {
    val base = buildPhraseIndex(spark, dir) // no-op when the untimed prepare already ran
    val (post, tdf) = graft.similarity.PhraseSearch.loadIndex(spark, base)
    val phrases = Load.parquet(spark, s"$base/phrases")
    graft.similarity.PhraseSearch.matchesRareFirstWithStats(post, tdf,
        graft.similarity.PhraseSearch.phraseTerms(phrases, "doc_id", "__ph"))
      .orderBy("query_id", "doc_id")
  }

  /** q224: retrieval rank-agreement audit — the eval a pipeline runs
    * before swapping its lexical scorer (TF-IDF → BM25, or any A/B of
    * ranking functions): for the SAME probe set (every 37th document,
    * q120's), retrieve top-10 under both scorers and report per query
    * the set overlap, the Spearman footrule Σ|rankA − rankB| on the
    * intersection, and exact Kendall concordant/discordant pair counts
    * — all integers (ranks are strict: score desc, doc_id tie-break),
    * so the oracle hash-gates both scoring pipelines AND the agreement
    * algebra in one artifact. Scale shape: the two retrieval tiers are
    * the existing bounded postings plans; everything after them runs on
    * ≤|queries|·10 rows, and the Kendall self-join fans out to ≤45
    * pairs per query. Queries whose lists are disjoint still surface
    * (spine left-join, zeros) — the no-silent-drop discipline.
    */
  def q224RankAgreement(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val probes = d.filter(col("doc_id") % 37 === 0 && col("doc_id") < 10000000L)
    val wR = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    val tfi = TfIdf.topK(d, probes, "text", "doc_id", "doc_id", k = 10)
      .withColumn("ra", row_number().over(wR))
      .select("query_id", "doc_id", "ra")
    val lex = Bm25.topK(d, probes, "text", "doc_id", "doc_id", k = 10)
      .withColumn("rb", row_number().over(wR))
      .select("query_id", "doc_id", "rb")
    val inter = tfi.join(lex, Seq("query_id", "doc_id"))
      .persist() // feeds the per-query stats AND the Kendall pair join
    val stats = inter.groupBy("query_id").agg(
      count(lit(1)).cast("long").as("overlap"),
      sum(abs(col("ra") - col("rb"))).cast("long").as("footrule"))
    val p1 = inter.select(col("query_id"), col("doc_id").as("__d1"),
      col("ra").as("__a1"), col("rb").as("__b1"))
    val p2 = inter.select(col("query_id"), col("doc_id").as("__d2"),
      col("ra").as("__a2"), col("rb").as("__b2"))
    val kendall = p1.join(p2, Seq("query_id"))
      .filter(col("__d1") < col("__d2"))
      .withColumn("__conc",
        ((col("__a1") < col("__a2")) === (col("__b1") < col("__b2")))
          .cast("long"))
      .groupBy("query_id")
      .agg(sum("__conc").as("concordant"),
        (count(lit(1)) - sum("__conc")).as("discordant"))
    probes.select(col("doc_id").as("query_id"))
      .join(stats, Seq("query_id"), "left")
      .join(kendall, Seq("query_id"), "left")
      .na.fill(0L, Seq("overlap", "footrule", "concordant", "discordant"))
      .select("query_id", "overlap", "footrule", "concordant", "discordant")
      .orderBy("query_id")
  }

  val q224Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS w
      |  FROM documents),
      |postings AS (
      |  SELECT doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks, UNNEST(w) AS t(term) GROUP BY doc_id, t.term),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |        FROM postings GROUP BY term),
      |wta AS (
      |  SELECT term,
      |         CAST(floor((nd - df + 0.5) / (df + 0.5) * 1048576.0) AS BIGINT) AS w
      |  FROM dfs, nn),
      |wtb AS (
      |  SELECT term,
      |         least(CAST(floor((nd - df + 0.5) / (df + 0.5) * 1048576.0)
      |                    AS BIGINT), 1099511627776) AS w
      |  FROM dfs, nn),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM postings GROUP BY doc_id),
      |ad AS (SELECT greatest(1, CAST(sum(tf) AS BIGINT) // nd) AS adl
      |       FROM postings, nn GROUP BY nd),
      |sat AS (
      |  SELECT p.doc_id, p.term,
      |         CAST((22528 * p.tf * 16384)
      |              // (10240 * p.tf + 3072 + 9 * ((d.dl * 1024) // ad.adl))
      |              AS BIGINT) AS v
      |  FROM postings p JOIN dl d USING (doc_id), ad),
      |q AS (SELECT DISTINCT doc_id AS query_id, t.term
      |      FROM toks, UNNEST(w) AS t(term) WHERE doc_id % 37 = 0 AND doc_id < 10000000),
      |sca AS (
      |  SELECT q.query_id, p.doc_id, CAST(sum(p.tf * wta.w) AS BIGINT) AS score
      |  FROM q JOIN postings p USING (term) JOIN wta USING (term)
      |  GROUP BY q.query_id, p.doc_id),
      |ra AS (
      |  SELECT query_id, doc_id, rn AS ra FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |              ORDER BY score DESC, doc_id) AS rn FROM sca) x
      |  WHERE rn <= 10),
      |scb AS (
      |  SELECT q.query_id, s.doc_id, CAST(sum(s.v * wtb.w) AS BIGINT) AS score
      |  FROM q JOIN sat s USING (term) JOIN wtb USING (term)
      |  GROUP BY q.query_id, s.doc_id),
      |rb AS (
      |  SELECT query_id, doc_id, rn AS rb FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |              ORDER BY score DESC, doc_id) AS rn FROM scb) x
      |  WHERE rn <= 10),
      |inter AS (
      |  SELECT query_id, doc_id, ra.ra, rb.rb
      |  FROM ra JOIN rb USING (query_id, doc_id)),
      |stats AS (
      |  SELECT query_id, count(*)::BIGINT AS overlap,
      |         CAST(sum(abs(ra - rb)) AS BIGINT) AS footrule
      |  FROM inter GROUP BY query_id),
      |kd AS (
      |  SELECT i.query_id,
      |         sum(CASE WHEN (j.ra > i.ra) = (j.rb > i.rb)
      |                  THEN 1 ELSE 0 END)::BIGINT AS concordant,
      |         sum(CASE WHEN (j.ra > i.ra) = (j.rb > i.rb)
      |                  THEN 0 ELSE 1 END)::BIGINT AS discordant
      |  FROM inter i JOIN inter j
      |    ON i.query_id = j.query_id AND i.doc_id < j.doc_id
      |  GROUP BY i.query_id)
      |SELECT d.doc_id AS query_id,
      |       coalesce(stats.overlap, 0) AS overlap,
      |       coalesce(stats.footrule, 0) AS footrule,
      |       coalesce(kd.concordant, 0) AS concordant,
      |       coalesce(kd.discordant, 0) AS discordant
      |FROM documents d
      |LEFT JOIN stats ON stats.query_id = d.doc_id
      |LEFT JOIN kd ON kd.query_id = d.doc_id
      |WHERE d.doc_id % 37 = 0 AND d.doc_id < 10000000
      |ORDER BY query_id""".stripMargin

  /** q112: the BPE merge table as a PERSISTED artifact — save the table
    * to parquet (rank, left, right), RELOAD it, require exact equality,
    * and encode the corpus with the RELOADED table. Same oracle as q101:
    * the round-trip must change nothing, which gates the artifact
    * schema, rank ordering (merge priority — a permuted reload would
    * tokenize differently) and string fidelity — the q43b/q108 cross-run
    * pattern applied to the artifact real pipelines reload most, the
    * tokenizer. (Training → save → load → encode equality is spec-gated
    * in BpeSpec; the driver gate uses the planted table so the oracle
    * stays closed-form.)
    */
  def q112BpeArtifact(spark: SparkSession, dir: String): DataFrame = {
    val path = ScratchDirs.fresh(dir, "bpe")
    graft.text.Bpe.saveMerges(spark, q101Merges, path)
    val reloaded = graft.text.Bpe.loadMerges(spark, path)
    require(reloaded == q101Merges,
      "merge-table artifact round-trip must be exact, in rank order")
    // sort early (Par.sortEarly, q123's rationale)
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    graft.ops.Par.sortEarly(d, Seq(col("doc_id")),
      Seq(col("doc_id"), col("widx"), col("tidx"))) { dd =>
      graft.text.Bpe.encode(dd, "text", reloaded, sep = "+")
        .select(col("doc_id"), col("widx").cast("long").as("widx"),
          col("tidx").cast("long").as("tidx"), col("token"))
    }
  }

  /** q81: co-occurrence + exact-integer PMI over window-2 token pairs —
    * word-association mining / skip-gram pair prep. Pair generation is a
    * narrow per-row array expression (no position self-join); the oracle
    * regenerates pairs, unigram counts, and the cross-multiplied PMI
    * flag from scratch with SQL list comprehensions.
    */
  def q81Cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    graft.text.Cooccurrence.pmiStats(d, "text", window = 2)
      .orderBy(col("c_pair").desc, col("w1"), col("w2"))
      .limit(100)
  }

  val q81Sql: String =
    """WITH toks AS (
      |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |                     x -> x <> '') AS w
      |  FROM documents),
      |pairs AS (
      |  SELECT least(w[i], w[i+d]) AS w1, greatest(w[i], w[i+d]) AS w2
      |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) t(i),
      |       UNNEST(generate_series(1, 2)) s(d)
      |  WHERE i + d <= len(w)),
      |pc AS (SELECT w1, w2, count(*)::BIGINT AS c_pair FROM pairs GROUP BY w1, w2),
      |uni AS (SELECT u.tok, count(*)::BIGINT AS c
      |        FROM toks, UNNEST(w) u(tok) GROUP BY u.tok),
      |n AS (SELECT sum(c)::BIGINT AS n_tokens FROM uni)
      |SELECT w1, w2, c_pair, a.c AS c1, b.c AS c2, n_tokens,
      |       CAST(c_pair * n_tokens > a.c * b.c AS INTEGER) AS pmi_pos
      |FROM pc JOIN uni a ON a.tok = pc.w1 JOIN uni b ON b.tok = pc.w2, n
      |ORDER BY c_pair DESC, w1, w2 LIMIT 100""".stripMargin

  /** q89: one BPE tokenizer-training merge round — learn the most
    * frequent adjacent ordered pair corpus-wide, rewrite every document
    * with greedy-leftmost application. The oracle reproduces the greedy
    * scan with the island trick (consecutive match positions → take
    * even offsets), so the fold-with-pending-state rewrite is held to
    * positional hash-equality.
    */
  /** q101: BPE ENCODE — apply a trained merge table to the corpus (the
    * inference half of the q89 training step; together they are the full
    * tokenizer lifecycle). The planted 7-rule table exercises multi-level
    * merges ("table" → one token through 4 chained rules) and rank
    * priority ((l,e) outranks (a,l), so "ale" → [a, l+e], not [a+l, e]).
    * The oracle mirrors the priority-queue kernel with sequential
    * replaces over a framed-token representation (' tok ' per token):
    * rank-order replacement equals the priority-queue encode because
    * every pair involving a merged token ranks after the merge that
    * created it, and the frame makes prefix collisions (' a  l ' vs
    * ' a  l+e ') and shared-boundary runs exact.
    */
  def q101BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    // sort early (Par.sortEarly, q123's rationale): range-partition the
    // bare scan by doc_id so the merge-replay kernel runs once,
    // post-shuffle, with no persist of the token relation
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    graft.ops.Par.sortEarly(d, Seq(col("doc_id")),
      Seq(col("doc_id"), col("widx"), col("tidx"))) { dd =>
      graft.text.Bpe.encode(dd, "text", q101Merges, sep = "+")
        .select(col("doc_id"), col("widx").cast("long").as("widx"),
          col("tidx").cast("long").as("tidx"), col("token"))
    }
  }

  private[queries] val q101Merges: Seq[(String, String)] = Seq(
    "t" -> "a", "t+a" -> "b", "l" -> "e", "t+a+b" -> "l+e",
    "r" -> "o", "r+o" -> "w", "a" -> "l")

  /** q109: the tokenizer pipeline COMPOSED — BPE-encode every document
    * with the trained table, count its post-merge tokens (the number a
    * training run actually packs by, not the whitespace word count), and
    * pack documents into fixed 4096-token sequences
    * ([[graft.text.Sequences.packByBudget]]). Integration gate: q101
    * pins the encode and q65 pins the packing; this pins their
    * COMPOSITION — the per-doc count flowing out of the encode must be
    * exactly what the packer consumes. The count is a narrow
    * transform+fold (size of each word's encoding, summed in-row — no
    * explode, no shuffle before the packer's bounded histogram).
    */
  def q109TokenizePack(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val counts = d
      .withColumn("__ws", graft.text.Decontaminate.wordTokens(col("text")))
      .withColumn("n_bpe_tokens",
        aggregate(
          transform(col("__ws"), w =>
            size(graft.functions.BpeExprs.bpeEncode(w, q101Merges, "+"))),
          lit(0L), (acc, x) => acc + x.cast("long")))
      .select("doc_id", "n_bpe_tokens")
    graft.text.Sequences.packByBudget(counts, "doc_id", "n_bpe_tokens", 4096L)
      .orderBy("doc_id")
  }

  val q109Sql: String = {
    val chain = q101Merges.foldLeft(
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
       |wc AS (
       |  SELECT doc_id,
       |         len(list_filter(string_split($chain, ' '), x -> x <> '')) AS wn
       |  FROM words),
       |t0 AS (SELECT doc_id, CAST(sum(wn) AS BIGINT) AS n_bpe_tokens
       |       FROM wc GROUP BY doc_id),
       |t AS (SELECT d.doc_id, coalesce(t0.n_bpe_tokens, 0) AS n_bpe_tokens,
       |             substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS draw
       |      FROM documents d LEFT JOIN t0 USING (doc_id))
       |SELECT doc_id, n_bpe_tokens,
       |       CAST(coalesce(sum(n_bpe_tokens) OVER (ORDER BY draw, doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096
       |         AS BIGINT) AS seq_ix
       |FROM t ORDER BY doc_id""".stripMargin
  }

  val q101Sql: String = {
    // framed-token replace chain, rank order — ' l  r ' → ' l+sep+r '
    val chain = q101Merges.foldLeft(
      """regexp_replace(word, '(.)', ' \1 ', 'g')""") { case (acc, (l, r)) =>
      s"replace($acc, ' $l  $r ', ' $l+$r ')"
    }
    s"""WITH words AS (
       |  SELECT doc_id, i - 1 AS widx, w[i] AS word
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      x -> x <> '') AS w
       |        FROM documents),
       |       UNNEST(generate_series(1, len(w))) t(i)),
       |enc AS (SELECT doc_id, widx, $chain AS s FROM words),
       |toks AS (
       |  SELECT doc_id, widx,
       |         list_filter(string_split(s, ' '), x -> x <> '') AS ts
       |  FROM enc)
       |SELECT doc_id, CAST(widx AS BIGINT) AS widx,
       |       CAST(i - 1 AS BIGINT) AS tidx, ts[i] AS token
       |FROM toks, UNNEST(generate_series(1, len(ts))) t(i)
       |ORDER BY doc_id, widx, tidx""".stripMargin
  }

  /** q219: BPE vocabulary-pruning audit — the tokenizer LIFECYCLE
    * management step after q89 (train) and q101 (encode): measure each
    * merge rule's surviving usage on the corpus, prune the LEAF rules
    * (outputs no other rule consumes — pruning a non-leaf silently
    * disables its descendants and shatters their words, the classic
    * vocab-trim blunder this audit exists to prevent) whose usage
    * falls below a scale-invariant 10‰-of-total-tokens threshold, and
    * re-encode to report the fertility cost. Usage counting is ONE
    * encode pass collapsed to the ≤|vocab| per-token counts (the
    * contract-bounded driver-collect family); the pruned re-encode is
    * q109's narrow in-row count (no explode, no shuffle). Output: one
    * row per rule with usage, leaf-ness, the prune decision, and the
    * corpus token totals under the full and pruned tables.
    */
  def q219VocabPrune(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val outs = q101Merges.map { case (l, r) => s"$l+$r" }
    val consumed = q101Merges.flatMap { case (l, r) => Seq(l, r) }.toSet
    val leaves = outs.map(o => !consumed.contains(o))
    val tokCounts = graft.text.Bpe.encode(d, "text", q101Merges, sep = "+")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = tokCounts.valuesIterator.sum
    // an empty corpus must report all-zero usage, not divide by zero —
    // the reported tokens_full stays the true 0
    val usagePm = outs.map(o =>
      tokCounts.getOrElse(o, 0L) * 1000L / (total max 1L))
    val pruned = leaves.zip(usagePm).map { case (lf, pm) => lf && pm < 10 }
    val keptMerges = q101Merges.zip(pruned).collect {
      case (m, false) => m
    }
    val tokensPruned = d
      .withColumn("__ws", graft.text.Decontaminate.wordTokens(col("text")))
      .select(aggregate(
        transform(col("__ws"), w =>
          size(graft.functions.BpeExprs.bpeEncode(w, keptMerges, "+"))),
        lit(0L), (acc, x) => acc + x.cast("long")).as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    val rows = q101Merges.zipWithIndex.map { case ((l, r), i) =>
      (i.toLong, l, r, outs(i), tokCounts.getOrElse(outs(i), 0L),
        usagePm(i), if (leaves(i)) 1L else 0L, if (pruned(i)) 1L else 0L,
        total, tokensPruned)
    }
    import spark.implicits._
    rows.toDF("rank", "l", "r", "out_token", "final_count", "usage_pm",
      "is_leaf", "pruned", "tokens_full", "tokens_pruned").orderBy("rank")
  }

  val q219Sql: String = {
    val chain = q101Merges.foldLeft(
      """regexp_replace(word, '(.)', ' \1 ', 'g')""") { case (acc, (l, r)) =>
      s"replace($acc, ' $l  $r ', ' $l+$r ')"
    }
    val consumed = q101Merges.flatMap { case (l, r) => Seq(l, r) }.toSet
    val ruleRows = q101Merges.zipWithIndex.map { case ((l, r), i) =>
      val leaf = if (consumed.contains(s"$l+$r")) 0 else 1
      s"($i, '$l', '$r', '$l+$r', $leaf)"
    }.mkString(", ")
    // pruned re-encode: one CTE per rule so the conditional chain stays
    // linear (inlining the CASE into a fold doubles the text per step)
    val steps = q101Merges.zipWithIndex.map { case ((l, r), i) =>
      s"""s${i + 1} AS (
         |  SELECT doc_id,
         |         CASE WHEN (SELECT pruned FROM pr WHERE rank = $i) = 1
         |              THEN s ELSE replace(s, ' $l  $r ', ' $l+$r ')
         |         END AS s
         |  FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS (
       |  SELECT doc_id, w[i] AS word
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      x -> x <> '') AS w
       |        FROM documents),
       |       UNNEST(generate_series(1, len(w))) t(i)),
       |enc AS (SELECT doc_id, $chain AS s FROM words),
       |tokc AS (
       |  SELECT u.token, count(*)::BIGINT AS cnt
       |  FROM enc, UNNEST(list_filter(string_split(enc.s, ' '),
       |                               x -> x <> '')) u(token)
       |  GROUP BY 1),
       |tot AS (SELECT coalesce(CAST(sum(cnt) AS BIGINT), 0) AS total,
       |              greatest(coalesce(CAST(sum(cnt) AS BIGINT), 0), 1)
       |                AS den FROM tokc),
       |rules(rank, l, r, out_token, is_leaf) AS (VALUES $ruleRows),
       |pr AS (
       |  SELECT rank, l, r, out_token, is_leaf,
       |         coalesce(tokc.cnt, 0) AS final_count,
       |         (coalesce(tokc.cnt, 0) * 1000) // tot.den AS usage_pm,
       |         CASE WHEN is_leaf = 1 AND
       |                   (coalesce(tokc.cnt, 0) * 1000) // tot.den < 10
       |              THEN 1 ELSE 0 END AS pruned
       |  FROM rules LEFT JOIN tokc ON tokc.token = rules.out_token,
       |       tot),
       |s0 AS (SELECT doc_id, regexp_replace(word, '(.)', ' \\1 ', 'g')
       |                AS s FROM words),
       |$steps,
       |tp AS (
       |  SELECT coalesce(CAST(sum(len(list_filter(string_split(s, ' '),
       |                                  x -> x <> ''))) AS BIGINT), 0)
       |           AS tokens_pruned
       |  FROM s${q101Merges.length})
       |SELECT pr.rank::BIGINT AS rank, pr.l, pr.r, pr.out_token,
       |       pr.final_count, pr.usage_pm::BIGINT AS usage_pm,
       |       pr.is_leaf::BIGINT AS is_leaf, pr.pruned::BIGINT AS pruned,
       |       tot.total AS tokens_full, tp.tokens_pruned
       |FROM pr, tot, tp ORDER BY rank""".stripMargin
  }

  /** q132: WordPiece greedy encode ([[graft.text.WordPiece]]) — the
    * fourth tokenizer family: longest-match-first with `##`
    * continuations, whole-word `[UNK]` on any uncoverable position
    * (the BERT rule). The planted vocabulary exercises every branch on
    * this corpus: full-word pieces beat their own prefixes ("table" >
    * "tab", "data" > "da"), multi-codepoint continuations beat
    * single-char ones ("##rge" > "##r" in "merge"), "spark"/"row"
    * survive only via their full-word rescue entries, and
    * "slow"/"window"/"order" hit missing continuations → `[UNK]`. The
    * oracle replays the greedy loop as a recursive CTE (longest-first
    * COALESCE chain generated from the same vocab literals) with the
    * whole-word-UNK rewrite applied after.
    */
  def q132WordPieceEncode(spark: SparkSession, dir: String): DataFrame = {
    // sort early (Par.sortEarly, q123's rationale)
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    graft.ops.Par.sortEarly(d, Seq(col("doc_id")),
      Seq(col("doc_id"), col("widx"), col("tidx"))) { dd =>
      graft.text.WordPiece.encode(dd, "text", q132Vocab)
        .select(col("doc_id"), col("widx").cast("long").as("widx"),
          col("tidx").cast("long").as("tidx"), col("token"))
    }
  }

  private[graft] val q132Vocab: Seq[String] = Seq(
    // word-start singles (no word here starts with e/i/n/u)
    "a", "b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "o", "p",
    "q", "r", "s", "t", "v", "w",
    // continuations — ##b/##d/##f/##k/##v/##w deliberately absent so
    // "slow", "window", "order" become [UNK]
    "##a", "##c", "##e", "##g", "##h", "##i", "##l", "##m", "##n",
    "##o", "##p", "##r", "##s", "##t", "##u", "##y",
    // multi-piece entries: greedy longest-first decisions
    "the", "data", "da", "table", "tab", "sort", "so",
    "spark", "row", "me", "##rge", "##ta")

  val q132Sql: String = {
    def esc(s: String) = s.replace("'", "''")
    val maxLen = q132Vocab.map(e =>
      (if (e.startsWith("##")) e.substring(2) else e).length).max
    // longest-first candidate chain: for each L, the start-form and
    // continuation-form literal sets that have body length L
    val clen = (maxLen to 1 by -1).flatMap { L =>
      val startL = q132Vocab.filter(e => !e.startsWith("##") && e.length == L)
      val contL = q132Vocab.filter(e => e.startsWith("##") && e.length - 2 == L)
      val branches = Seq(
        if (startL.nonEmpty)
          Some(s"WHEN pos = 1 AND substring(word, pos, $L) IN " +
            startL.map(e => s"'${esc(e)}'").mkString("(", ", ", ")") +
            s" THEN $L")
        else None,
        if (contL.nonEmpty)
          Some(s"WHEN pos > 1 AND substring(word, pos, $L) IN " +
            contL.map(e => s"'${esc(e.substring(2))}'").mkString("(", ", ", ")") +
            s" THEN $L")
        else None).flatten
      if (branches.isEmpty) None
      else Some(s"CASE WHEN pos + $L - 1 <= length(word) THEN " +
        s"CASE ${branches.mkString(" ")} END END")
    }.mkString(",\n      |          ")
    s"""WITH RECURSIVE words AS (
       |  SELECT doc_id, i - 1 AS widx, w[i] AS word
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      x -> x <> '') AS w
       |        FROM documents),
       |       UNNEST(generate_series(1, len(w))) t(i)),
       |gr AS (
       |  SELECT doc_id, widx, word, 1 AS pos, -1 AS tidx,
       |         CAST(NULL AS VARCHAR) AS token
       |  FROM words
       |  UNION ALL
       |  SELECT doc_id, widx, word,
       |         CASE WHEN clen IS NULL THEN length(word) + 1
       |              ELSE pos + clen END,
       |         tidx + 1,
       |         CASE WHEN clen IS NULL THEN '[UNK]'
       |              WHEN pos = 1 THEN substring(word, pos, clen)
       |              ELSE '##' || substring(word, pos, clen) END
       |  FROM (
       |    SELECT *, COALESCE(
       |          $clen) AS clen
       |    FROM gr
       |    WHERE pos <= length(word)
       |      AND (token IS NULL OR token <> '[UNK]')) g),
       |toks AS (SELECT doc_id, widx, tidx, token FROM gr WHERE tidx >= 0),
       |unkw AS (SELECT DISTINCT doc_id, widx FROM toks WHERE token = '[UNK]'),
       |final AS (
       |  SELECT t.doc_id, t.widx, t.tidx, t.token
       |  FROM toks t LEFT JOIN unkw u USING (doc_id, widx)
       |  WHERE u.doc_id IS NULL
       |  UNION ALL
       |  SELECT doc_id, widx, 0, '[UNK]' FROM unkw)
       |SELECT doc_id, CAST(widx AS BIGINT) AS widx,
       |       CAST(tidx AS BIGINT) AS tidx, token
       |FROM final ORDER BY doc_id, widx, tidx""".stripMargin
  }

  def q89BpeStep(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val (out, _) = graft.text.Bpe.mergeRound(d, "text", sep = "_")
    out.select(col("doc_id"), posexplode(col("tokens")).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
      .transform(graft.ops.Par.sortOnce(_, col("doc_id"), col("pos")))
  }

  val q89Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS w
      |  FROM documents),
      |pc AS (
      |  SELECT w[i] AS l, w[i+1] AS r, count(*) AS c
      |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) t(i)
      |  WHERE len(w) >= 2 GROUP BY 1, 2),
      |best AS (SELECT l, r FROM pc ORDER BY c DESC, l, r LIMIT 1),
      |cand AS (
      |  SELECT doc_id, i
      |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) t(i), best
      |  WHERE len(w) >= 2 AND w[i] = best.l AND w[i+1] = best.r),
      |isl AS (
      |  SELECT doc_id, i,
      |         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
      |  FROM cand),
      |taken AS (
      |  SELECT doc_id, i FROM (
      |    SELECT doc_id, i,
      |           row_number() OVER (PARTITION BY doc_id, g ORDER BY i) - 1 AS k
      |    FROM isl) x
      |  WHERE k % 2 = 0),
      |flat AS (
      |  SELECT toks.doc_id, t.i, toks.w[t.i] AS raw
      |  FROM toks, UNNEST(generate_series(1, len(w))) t(i)),
      |merged AS (
      |  SELECT f.doc_id, f.i,
      |         CASE WHEN tk.i IS NOT NULL
      |              THEN (SELECT l || '_' || r FROM best)
      |              ELSE f.raw END AS token
      |  FROM flat f
      |  LEFT JOIN taken tk ON tk.doc_id = f.doc_id AND tk.i = f.i
      |  LEFT JOIN taken sk ON sk.doc_id = f.doc_id AND sk.i = f.i - 1
      |  WHERE sk.i IS NULL)
      |SELECT doc_id,
      |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
      |            AS BIGINT) AS pos,
      |       token
      |FROM merged ORDER BY doc_id, pos""".stripMargin

  /** q90: content-defined chunking — every document cut at Rabin-style
    * window-fingerprint boundaries (block-level dedup / delta-storage
    * prep; an edit shifts one boundary instead of re-aligning every
    * fixed block). The oracle recomputes every window hash, boundary,
    * and chunk substring from scratch in SQL — position-local
    * fingerprints make the greedy-free cut set fully declarative.
    */
  def q90CdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    d.select(col("doc_id"),
        posexplode(graft.functions.CdcExprs.cdcChunks(col("text")))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        md5(col("chunk")).as("chunk_md5"),
        length(col("chunk")).cast("long").as("chunk_len"))
      .transform(graft.ops.Par.sortOnce(_, col("doc_id"), col("chunk_idx")))
  }

  val q90Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text AS t, length(text) AS n FROM documents
      |  WHERE length(text) > 0),
      |cuts AS (
      |  SELECT doc_id, t, n, list_filter(
      |    [CASE WHEN (ord(substr(t, i, 1))::BIGINT
      |              + ord(substr(t, i + 1, 1))::BIGINT * 31
      |              + ord(substr(t, i + 2, 1))::BIGINT * 961
      |              + ord(substr(t, i + 3, 1))::BIGINT * 29791
      |              + ord(substr(t, i + 4, 1))::BIGINT * 923521
      |              + ord(substr(t, i + 5, 1))::BIGINT * 28629151
      |              + ord(substr(t, i + 6, 1))::BIGINT * 887503681
      |              + ord(substr(t, i + 7, 1))::BIGINT * 27512614111) % 64 = 0
      |            AND i + 7 < n THEN i + 7 END
      |     FOR i IN generate_series(1, greatest(n - 7, 0))],
      |    x -> x IS NOT NULL) AS cs
      |  FROM d),
      |spans AS (
      |  SELECT doc_id, t,
      |         list_prepend(1, list_transform(cs, c -> c + 1)) AS ss,
      |         list_append(cs, n) AS es
      |  FROM cuts)
      |SELECT doc_id, CAST(k - 1 AS BIGINT) AS chunk_idx,
      |       md5(substr(t, ss[k], es[k] - ss[k] + 1)) AS chunk_md5,
      |       CAST(es[k] - ss[k] + 1 AS BIGINT) AS chunk_len
      |FROM spans, UNNEST(generate_series(1, len(ss))) u(k)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** q91: block-level dedup accounting over the CDC chunks — the point
    * of content-defined chunking: a corpus with duplicated passages
    * (every 9th document replayed with a new tail) stores each shared
    * chunk ONCE. Output: per duplicated chunk, its reference count and
    * the bytes dedup saves; the oracle recomputes chunking AND the
    * accounting from scratch.
    */
  def q91ChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val replayed = d.filter(col("doc_id") % 9 === 0).select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" fresh tail after the replay")).as("text"))
    val corpus = d.unionByName(replayed)
    corpus
      .select(explode(graft.functions.CdcExprs.cdcChunks(col("text"))).as("chunk"))
      .groupBy(md5(col("chunk")).as("chunk_md5"))
      .agg(count(lit(1)).as("refs"),
        first(length(col("chunk"))).cast("long").as("chunk_len"))
      .filter(col("refs") > 1)
      .withColumn("bytes_saved", (col("refs") - 1) * col("chunk_len"))
      .select("chunk_md5", "refs", "chunk_len", "bytes_saved")
      .orderBy("chunk_md5")
  }

  val q91Sql: String = {
    // same chunker as q90Sql, over the corpus ∪ replayed slice
    """WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text || ' fresh tail after the replay'
      |  FROM documents WHERE doc_id % 9 = 0),
      |d AS (SELECT doc_id, text AS t, length(text) AS n FROM uni
      |      WHERE length(text) > 0),
      |cuts AS (
      |  SELECT doc_id, t, n, list_filter(
      |    [CASE WHEN (ord(substr(t, i, 1))::BIGINT
      |              + ord(substr(t, i + 1, 1))::BIGINT * 31
      |              + ord(substr(t, i + 2, 1))::BIGINT * 961
      |              + ord(substr(t, i + 3, 1))::BIGINT * 29791
      |              + ord(substr(t, i + 4, 1))::BIGINT * 923521
      |              + ord(substr(t, i + 5, 1))::BIGINT * 28629151
      |              + ord(substr(t, i + 6, 1))::BIGINT * 887503681
      |              + ord(substr(t, i + 7, 1))::BIGINT * 27512614111) % 64 = 0
      |            AND i + 7 < n THEN i + 7 END
      |     FOR i IN generate_series(1, greatest(n - 7, 0))],
      |    x -> x IS NOT NULL) AS cs
      |  FROM d),
      |spans AS (
      |  SELECT doc_id, t,
      |         list_prepend(1, list_transform(cs, c -> c + 1)) AS ss,
      |         list_append(cs, n) AS es
      |  FROM cuts),
      |chunks AS (
      |  SELECT substr(t, ss[k], es[k] - ss[k] + 1) AS chunk
      |  FROM spans, UNNEST(generate_series(1, len(ss))) u(k)),
      |acc AS (
      |  SELECT md5(chunk) AS chunk_md5, count(*)::BIGINT AS refs,
      |         CAST(min(length(chunk)) AS BIGINT) AS chunk_len
      |  FROM chunks GROUP BY md5(chunk))
      |SELECT chunk_md5, refs, chunk_len, (refs - 1) * chunk_len AS bytes_saved
      |FROM acc WHERE refs > 1 ORDER BY chunk_md5""".stripMargin
  }

  val rows: Seq[Query] = Seq(
    Query("q224_rank_agreement", q224RankAgreement, Some(q224Sql)),
    Query("q123_unigram_encode", q123UnigramEncode, Some(q123Sql)),
    Query("q156_incremental_index", q156IncrementalIndex, Some(q156Sql),
      prepare = Some(buildBm25HistIndex(_, _))),
    Query("q132_wordpiece_encode", q132WordPieceEncode, Some(q132Sql)),
    Query("q120_bm25_search", q120Bm25Search, Some(q120Sql)),
    Query("q177_hybrid_rrf", q177HybridRrf, Some(q177Sql)),
    Query("q165_phrase_search", q165PhraseSearch, Some(q165Sql)),
    // reload must match the rebuild
    Query("q165b_phrase_index_reload", q165bPhraseIndexReload, Some(q165Sql),
      prepare = Some(buildPhraseIndex(_, _))),
    // incr merge == from-scratch
    Query("q165c_phrase_index_incremental", q165cPhraseIndexIncremental,
      Some(q165Sql),
      prepare = Some(buildPhraseIndexIncremental(_, _))),
    Query("q67_span_dedup", q67SpanDedup, Some(q67Sql)),
    Query("q68_quality_rules", q68QualityRules, Some(q68Sql)),
    Query("q69_tfidf_search", q69TfIdfSearch, Some(q69Sql),
      observeRows = true),
    Query("q81_cooccurrence", q81Cooccurrence, Some(q81Sql)),
    Query("q89_bpe_step", q89BpeStep, Some(q89Sql)),
    Query("q101_bpe_encode", q101BpeEncode, Some(q101Sql)),
    Query("q219_vocab_prune", q219VocabPrune, Some(q219Sql)),
    Query("q109_tokenize_pack", q109TokenizePack, Some(q109Sql)),
    // reload must be output-identical to q101
    Query("q112_bpe_artifact", q112BpeArtifact, Some(q101Sql)),
    Query("q90_cdc_chunks", q90CdcChunks, Some(q90Sql)),
    Query("q91_chunk_dedup", q91ChunkDedup, Some(q91Sql)))
}
