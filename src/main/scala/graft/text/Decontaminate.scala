package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share any
  * word n-gram with a (much smaller) evaluation/benchmark corpus — the
  * standard guard against test-set leakage when assembling training data
  * (GPT-3 App. C / PaLM-style 13-gram overlap; n is a parameter because
  * the right value depends on tokenization and corpus entropy).
  *
  * Scale shape (training side ~100 TB, benchmark side ~MBs):
  *  1. benchmark grams are hashed and DISTINCT'd — a tiny relation that
  *     Catalyst/AQE broadcasts;
  *  2. tier 1: the training side streams through a narrow explode of
  *     8-byte gram HASHES into a broadcast semi-join — no shuffle of
  *     training data, no gram strings materialized in the hot path;
  *  3. tier 2: only surviving (doc, gram) rows re-derive the gram STRING
  *     and exact-verify against the benchmark gram strings, so a 2⁻⁶⁴
  *     hash collision can never flag a clean document.
  *
  * Counting is per distinct gram (a doc repeating one leaked gram five
  * times scores 1), matching how overlap thresholds are quoted.
  */
object Decontaminate {

  /** Lowercased word tokens. Empty tokens are FILTERED, not trimmed
    * away: `trim()` strips only spaces, so "\ta b" would otherwise grow
    * a phantom empty first token and disagree with the kernel tokenizer
    * (`TextKernels.wordGramHash64` treats every `Character.isWhitespace`
    * run as one separator). The filter form handles all whitespace
    * uniformly — oracles must mirror it with `list_filter`.
    */
  def wordTokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Word n-grams of lowercased whitespace-split text (distinct). Texts
    * shorter than n words yield their single (short) window — callers
    * that need strict n-grams filter on word count first, as [[overlap]]
    * does.
    */
  def wordGrams(text: Column, n: Int): Column = {
    val toks = wordTokens(text)
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** (doc_id, n_hit_grams) for every training doc sharing ≥1 word
    * n-gram with the benchmark corpus.
    *
    * Tier 1 scans the training side with the one-pass
    * `word_gram_hash64` kernel — 8-byte hashes only, no gram strings
    * (the string formulation measured 12 µs/gram: 2.8 of q48's 3.6 s at
    * sf0.1) — and semi-joins the broadcast benchmark hash set to find
    * CANDIDATE DOCS. Tier 2 re-derives gram strings for those few docs
    * alone and exact-verifies against the benchmark gram strings, so a
    * 2⁻⁶⁴ kernel-hash collision can never flag a clean document.
    */
  /** (doc_id, gram) exploded DISTINCT word n-gram strings — the exact
    * verify tier's input. One-pass `word_grams` kernel: the builtin
    * slice/join chain costs ~8 µs/gram and dominated tier 2 whenever
    * the candidate set was not tiny. Empty arrays (texts shorter than
    * n words) vanish in the explode.
    */
  private def stringGrams(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    import graft.functions.TextExprs
    df.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextExprs.wordGrams(col(textCol), n))).as("gram"))
  }

  def overlap(training: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame = {
    import graft.functions.TextExprs
    def sg(df: DataFrame) = stringGrams(df, textCol, idCol, n)
    val benchHashes = benchmark
      .select(explode(TextExprs.wordGramHash64(col(textCol), n)).as("__gh"))
      .distinct()
    // tier 1: candidate docs by hash overlap — the whole training scan
    // stays narrow (kernel + explode + broadcast semi-join)
    val candidateDocs = training
      .select(col(idCol).as("doc_id"),
        explode(TextExprs.wordGramHash64(col(textCol), n)).as("__gh"))
      .join(benchHashes, Seq("__gh"), "left_semi")
      .select("doc_id").distinct()
    // tier 2: gram STRINGS exist only for the surviving docs. The
    // candidate relation is renamed before the join — it derives from
    // `training` itself, and a same-name same-lineage column reference
    // would ride on Spark's self-join disambiguation heuristics.
    val cands = candidateDocs.select(col("doc_id").as("__cand_id"))
    val benchGrams = sg(benchmark).select("gram").distinct()
    sg(training.join(cands,
        col(idCol) === col("__cand_id"), "left_semi"))
      .join(benchGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gram")).as("n_hit_grams"))
  }

  /** [[overlap]] with a BLOOM-FILTER tier 1 instead of the broadcast
    * hash-set semi-join — the membership structure for when even the
    * 8-byte gram-hash set outgrows a comfortable broadcast (a 10⁹-gram
    * benchmark suite is an 8 GB hash relation but a ~1.2 GB bloom at 1%
    * fpp, and proportionally smaller at every scale below). Tier 1
    * becomes a NARROW codegen'd filter — no join, no broadcast hash
    * table, no shuffle; the corpus scan never touches an exchange.
    *
    * The filter is built once with the public distributed aggregate
    * `DataFrame.stat.bloomFilter` over the benchmark gram hashes and
    * embedded in the plan as a binary literal evaluated by Spark's own
    * `BloomFilterMightContain` (the expression behind AQE runtime
    * row-filters — codegen'd, whole-stage-fusable). False positives
    * only ever ADMIT extra candidates; tier 2's exact string
    * verification (identical to [[overlap]]'s) removes them, so the
    * output is bit-equal to [[overlap]] at any fpp.
    */
  def overlapBloom(training: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import graft.functions.TextExprs
    def sg(df: DataFrame) = stringGrams(df, textCol, idCol, n)
    val benchHashes = benchmark
      .select(explode(TextExprs.wordGramHash64(col(textCol), n)).as("__gh"))
    // two cheap jobs over the benchmark side (MBs by contract): size the
    // filter, then fill it with the distributed sketch aggregate
    val nGrams = math.max(benchHashes.count(), 1L)
    val bloom = benchHashes.stat.bloomFilter("__gh", nGrams, fpp)
    val ser = {
      val baos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(baos)
      baos.toByteArray
    }
    val mightContain = GraftBridge.column(BloomFilterMightContain(
      Literal(ser, org.apache.spark.sql.types.BinaryType),
      GraftBridge.expression(col("__gh"))))
    // tier 1: narrow filter over the training gram hashes
    val candidateDocs = training
      .select(col(idCol).as("doc_id"),
        explode(TextExprs.wordGramHash64(col(textCol), n)).as("__gh"))
      .filter(mightContain)
      .select("doc_id").distinct()
    val cands = candidateDocs.select(col("doc_id").as("__cand_id"))
    val benchGrams = sg(benchmark).select("gram").distinct()
    sg(training.join(cands,
        col(idCol) === col("__cand_id"), "left_semi"))
      .join(benchGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gram")).as("n_hit_grams"))
  }
}
