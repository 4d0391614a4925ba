package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Load

/** One BPE merge round — the inner step of byte-pair-encoding tokenizer
  * TRAINING (Sennrich et al. 2016): count adjacent ordered token pairs
  * over the corpus, pick the most frequent, and rewrite every document
  * with that pair merged greedily left-to-right (so `a a a` under merge
  * (a,a) becomes `[a∘a, a]`, never `[a, a∘a]`). Training loops this
  * step; the loop is a driver-side fold exactly like k-means training —
  * each round is one counting shuffle + one narrow rewrite.
  *
  * The greedy rewrite is a per-row `aggregate` fold with (accumulated
  * tokens, pending token) state — a single narrow expression, no
  * explode, no join, no UDF. Exact semantics, so a SQL oracle can
  * reproduce it with the island trick (consecutive match positions →
  * take even offsets).
  */
object Bpe {

  /** Ordered adjacent-pair counts: (l, r, cnt). One counting shuffle.
    * The token array is BOUND AS A COLUMN before the pair lambda:
    * inlining the tokenizer expression would re-evaluate it per element
    * access inside the higher-order functions (O(tokens²) re-splits per
    * row — measured 8.6 s vs 0.9 s at sf0.1).
    */
  def pairCounts(df: DataFrame, textCol: String): DataFrame =
    pairCountsTokens(
      df.select(Decontaminate.wordTokens(col(textCol)).as("__w")), "__w")

  /** The merge rule this round would learn: highest count, ties broken
    * (l, r) lexically. Driver-side scalar — the learned merge TABLE is a
    * tokenizer artifact, like the k-means centroids.
    */
  def topPair(df: DataFrame, textCol: String): Option[(String, String)] =
    pairCounts(df, textCol)
      .orderBy(col("cnt").desc, col("l"), col("r"))
      .limit(1).collect().headOption
      .map(r => (r.getString(0), r.getString(1)))

  /** Greedy leftmost application of merge (l, r) to a token array — the
    * O(n) `bpe_merge` kernel ([[graft.functions.BpeKernels.merge]]). (The same
    * scan is expressible as a builtin `aggregate` fold with
    * (acc, pending) state, but that copies the accumulator array per
    * element and runs interpreted: 10.2 s → 0.7 s at sf0.1.)
    */
  def applyMerge(tokens: Column, l: String, r: String,
      sep: String = "▁"): Column =
    graft.functions.BpeExprs.bpeMerge(tokens, l, r, sep)

  /** One full merge round over a corpus: learn the top pair, rewrite
    * every document. Returns (rewritten df with `tokens` column, rule).
    */
  def mergeRound(df: DataFrame, textCol: String,
      sep: String = "▁"): (DataFrame, Option[(String, String)]) = {
    val rule = topPair(df, textCol)
    val toks = Decontaminate.wordTokens(col(textCol))
    val out = rule match {
      case Some((l, r)) => df.withColumn("tokens", applyMerge(toks, l, r, sep))
      case None => df.withColumn("tokens", toks)
    }
    (out, rule)
  }

  /** Pair counts over an existing token-array column (rounds ≥ 2 recount
    * the REWRITTEN corpus, exactly like real BPE training).
    */
  def pairCountsTokens(df: DataFrame, tokensCol: String): DataFrame = {
    val toks = col(tokensCol)
    val idx = sequence(lit(1), size(toks))
    val pairs = flatten(transform(idx, i =>
      transform(slice(toks, i + 1, lit(1)),
        x => struct(element_at(toks, i).as("l"), x.as("r")))))
    df.select(explode(pairs).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** ENCODE (inference) against a trained merge table: split `textCol`
    * into words, tokenize each word with the table-driven priority-queue
    * kernel ([[graft.functions.BpeEncodeKernel.encode]]). Output: one row per token —
    * (original columns…, widx, tidx, token). A pure narrow map + explode:
    * no shuffle; the table is built once per JVM from the merge list,
    * never per row. This is the apply half of [[train]] — together they
    * are the full tokenizer lifecycle.
    */
  def encode(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], sep: String = "▁"): DataFrame = {
    val words = df.withColumn("__ws", Decontaminate.wordTokens(col(textCol)))
      .select(col("*"), posexplode(col("__ws")).as(Seq("widx", "__word")))
      .drop("__ws")
    words
      .withColumn("__toks",
        graft.functions.BpeExprs.bpeEncode(col("__word"), merges, sep))
      .select(col("*"), posexplode(col("__toks")).as(Seq("tidx", "token")))
      .drop("__toks", "__word")
  }

  /** DECODE (detokenize): invert [[encode]]'s per-word tokenization —
    * strip the merge separators from each token and concatenate. A
    * narrow map; with `sep` absent from the alphabet (the trainer's
    * contract), decode ∘ encode is the identity on words, which is the
    * whole correctness story for a tokenizer round-trip (spec-tested as
    * a law over the corpus).
    */
  def decodeWord(tokens: Column, sep: String = "▁"): Column =
    array_join(transform(tokens, t => regexp_replace(t,
      java.util.regex.Pattern.quote(sep), "")), "")

  /** The full training loop: `rounds` merge rounds, each re-counting the
    * rewritten corpus. Returns (final df with `tokens`, ordered merge
    * table — the tokenizer artifact). The per-round rewritten corpus is
    * persisted and the previous round unpersisted (the k-means-style
    * driver fold; at cluster scale each round is a checkpoint). Stops
    * early when the best remaining pair occurs only once.
    */
  def train(df: DataFrame, textCol: String, rounds: Int,
      sep: String = "▁"): (DataFrame, Seq[(String, String)]) = {
    var cur = df.withColumn("tokens", Decontaminate.wordTokens(col(textCol))).persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    for (_ <- 0 until rounds if !done) {
      val top = pairCountsTokens(cur, "tokens")
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect().headOption
        .collect { case r if r.getLong(2) > 1 => (r.getString(0), r.getString(1)) }
      top match {
        case Some((l, r)) =>
          merges += ((l, r))
          val next = cur.withColumn("tokens",
            applyMerge(col("tokens"), l, r, sep)).persist()
          next.count() // materialize before dropping the parent
          cur.unpersist()
          cur = next
        case None => done = true
      }
    }
    (cur, merges.toSeq)
  }

  /** Persist a merge table as a parquet artifact: (rank, left, right),
    * rank = merge priority (training order). The tokenizer artifact real
    * pipelines reload most — encode is only correct if the reloaded
    * table preserves EXACT rank order, which [[loadMerges]] restores by
    * sorting on the stored rank (parquet carries no row order).
    */
  def saveMerges(spark: SparkSession, merges: Seq[(String, String)],
      path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveMerges]] artifact in training order. */
  def loadMerges(spark: SparkSession, path: String): Seq[(String, String)] =
    Load.parquet(spark, path).orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
}
