package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.PlanInspect

/** Every kernel-table entry, evaluated on sf0.001 columns (plus edge rows:
  * NULL, empty, blank and non-BMP text) through its Column wrapper: the
  * generated code (`CODEGEN_ONLY`, which throws on a Janino compile error
  * rather than falling back) and the interpreted path (`NO_CODEGEN`) give
  * identical rows, and each SQL name `GraftExtensions.install` registers
  * gives the wrapper's rows.
  */
class KernelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs: DataFrame = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id").as("id"), col("text"), col("n_chars"))
    .unionByName(Seq[(Long, String, java.lang.Long)]((-1L, "", 0L), (-2L, null, null),
      (-3L, " \t ", 3L), (-4L, "ab😀cd é ab😀cd", 15L)).toDF("id", "text", "n_chars"))

  private lazy val vecs: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("v"))
    .unionByName(Seq[(Long, Seq[Float])]((-1L, null), (-2L, Seq(0f, 0f))).toDF("id", "v"))

  private val text = col("text")
  private val v = col("v")
  private def sh(n: Int) = HashExprs.shingleHash64(text, n)
  private val chars = split(lower(text), "")
  private val firstWord = lower(substring_index(text, " ", 1))
  private val merges = Seq(("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"))
  private val planes = Array.tabulate(8, 16)((p, i) => math.sin(p * 16 + i + 1.0))
  private val centroids = Array.tabulate(4, 16)((c, i) => math.cos(c * 16 + i + 1.0) * 0.1)

  /** A kernel call on `input`: its wrapper column and, when the kernel is
    * SQL-callable, the arguments of the same call by SQL name. */
  private final case class Case(input: () => DataFrame, wrapper: Column, sqlArgs: Column*)

  private lazy val cases: Map[String, Case] = Map(
    "simhash64" -> Case(() => docs, HashExprs.simhash64(sh(5)), sh(5)),
    "minhash_sig" -> Case(() => docs, HashExprs.minhashSig(sh(5), 16), sh(5), lit(16)),
    "minhash_sig_oph" -> Case(() => docs, HashExprs.minhashSigOph(sh(5), 64), sh(5), lit(64)),
    "shingle_hash64" -> Case(() => docs, sh(5), text, lit(5)),
    "winnow_hash64" -> Case(() => docs, HashExprs.winnowHash64(text, 5, 4), text, lit(5), lit(4)),
    "sorted_intersect_count" -> Case(() => docs, HashExprs.sortedIntersectCount(sh(4), sh(5)), sh(4), sh(5)),
    "top_token_fraction" -> Case(() => docs, HashExprs.topTokenFraction(text), text),
    "fingerprint_normalize" -> Case(() => docs, HashExprs.fingerprintNormalize(text), text),
    "compression_ratio" -> Case(() => docs, TextExprs.compressionRatio(text), text),
    "lev_bounded" -> Case(() => docs, TextExprs.levBounded(text, concat(lit("xy"), text), 3),
      text, concat(lit("xy"), text), lit(3)),
    "char_entropy_fix" -> Case(() => docs, TextExprs.charEntropyFix(text), text),
    "repetition_profile" -> Case(() => docs, TextExprs.repetitionProfile(text), text),
    "word_grams" -> Case(() => docs, TextExprs.wordGrams(text, 2), text, lit(2)),
    "word_gram_hash64" -> Case(() => docs, TextExprs.wordGramHash64(text, 3), text, lit(3)),
    "cosine_sim" -> Case(() => vecs, VectorExprs.cosineSim(v, reverse(v)), v, reverse(v)),
    "srp_bucket" -> Case(() => vecs, VectorExprs.srpBucket(v, planes)),
    "nearest_centroid" -> Case(() => vecs, VectorExprs.nearestCentroid(v, centroids)),
    "sparse_dot_long" -> {
      val args = Seq(array(lit(1), lit(3), lit(5)), array(col("n_chars"), lit(2L), lit(3L)),
        array(lit(3), lit(5)), array(lit(7L), col("n_chars")))
      Case(() => docs, VectorExprs.sparseDotLong(args(0), args(1), args(2), args(3)), args: _*)
    },
    "log2fix" -> Case(() => docs, FixedLogExprs.log2fix(col("n_chars"), 30, 16),
      col("n_chars"), lit(30), lit(16)),
    "pow2_neg_fix" -> Case(() => docs, FixedLogExprs.pow2NegFix(col("n_chars") * 977L), col("n_chars") * 977L),
    "bpe_merge" -> Case(() => docs, BpeExprs.bpeMerge(chars, "t", "h", "_"),
      chars, lit("t"), lit("h"), lit("_")),
    "bpe_encode" -> Case(() => docs, BpeExprs.bpeEncode(firstWord, merges, "")),
    "bpe_encode_tokens" -> Case(() => docs, BpeExprs.bpeEncodeTokens(chars, merges, "")),
    "wordpiece_encode" -> Case(() => docs, WordPieceExprs.wordpieceEncode(firstWord,
      ('a' to 'z').map(_.toString) ++ ('a' to 'z').map("##" + _) ++ Seq("the", "##in", "an"))),
    "unigram_encode" -> Case(() => docs, UnigramExprs.unigramEncode(firstWord,
      Seq(("th", 3L), ("the", 4L), ("e", 2L), ("in", 3L), ("a", 2L)), 9L)),
    "multi_replace" -> Case(() => docs, MultiReplaceExpr.multiReplace(lower(text), Seq("the", "a", "an"), "*")),
    "cdc_chunks" -> Case(() => docs, CdcExprs.cdcChunks(text), text),
    "unicode_normalize" -> Case(() => docs, NormalizeExprs.unicodeNormalize(text, "NFD")),
    "span_corrupt" -> {
      val toks = split(text, " ")
      // no higher-order function here: it is a CodegenFallback and would
      // keep the whole projection out of whole-stage codegen
      val flags = concat(array(col("n_chars") % 2 === 0, lit(false)),
        array_repeat(col("n_chars") % 3 === 0, size(toks) - 2))
      Case(() => docs, SpanCorruptExpr.spanCorrupt(toks, flags), toks, flags)
    },
    "url_parts" -> {
      val url = when(col("id") % 3 === 0, concat(lit("not a url "), col("id")))
        .otherwise(concat(lit("https://Ex.com:8443/p/"), col("id"), lit("?a=1")))
      Case(() => docs, UrlExprs.urlParts(url), url)
    },
    "morton2" -> Case(() => docs, ZOrderExprs.morton2(col("id"), col("n_chars")), col("id"), col("n_chars")),
    "kmv_hash62" -> Case(() => docs, Kmv.hash62(text), text),
    "kmv_estimate" -> {
      val sketch = sort_array(array(Seq(text, upper(text), reverse(text), concat(text, lit("x")),
        concat(lit("y"), text)).map(Kmv.hash62): _*))
      Case(() => docs, Kmv.estimate(sketch, 4), sketch, lit(4))
    })

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  private def under[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, x) => spark.conf.set(k, x) }
    try body
    finally saved.foreach { case (k, x) => x.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("every kernel-table entry has a case") {
    assert(cases.keySet == Kernels.all.map(_.name).toSet)
  }

  for (k <- Kernels.all) test(s"${k.name}: generated and interpreted code give the same rows") {
    val c = cases(k.name)
    def run = c.input().select(col("id"), c.wrapper.as("out"))
    val generated = under("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.wholeStage" -> "true") {
      assert(PlanInspect(run).codegen(k.name), s"${k.name} fell out of codegen")
      rows(run)
    }
    val interpreted = under("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(rows(run))
    assert(generated.size > 4 && generated.exists(!_.isNullAt(1)))
    assert(generated == interpreted)
  }

  test("each registered SQL kernel gives the rows of its Column wrapper") {
    graft.GraftExtensions.install(spark)
    val registered = graft.GraftExtensions.sqlFunctions.map(_._1).toSet
    val sqlCases = cases.filter(_._2.sqlArgs.nonEmpty)
    assert(sqlCases.keySet == Kernels.all.filter(_.sqlCallable).map(_.name).toSet)
    assert(sqlCases.keySet.subsetOf(registered))
    for ((name, c) <- sqlCases) {
      val bySql = rows(c.input().select(col("id"), call_function(name, c.sqlArgs: _*)))
      assert(bySql == rows(c.input().select(col("id"), c.wrapper)), name)
    }
    // a k that is no power of two would give wrong signatures, not an error
    val e = intercept[Exception](docs.select(call_function("minhash_sig_oph", sh(5), lit(48))).collect())
    assert(e.toString.contains("power of two") || Option(e.getCause).exists(_.toString.contains("power of two")))
  }

  test("a kernel call compares by value: equal literal arguments are semantically equal") {
    def resolved(c: Column) = docs.select(c).queryExecution.analyzed.expressions.head.children.head
    assert(resolved(BpeExprs.bpeEncode(firstWord, merges, ""))
      .semanticEquals(resolved(BpeExprs.bpeEncode(firstWord, merges.toList, ""))))
    assert(!resolved(BpeExprs.bpeEncode(firstWord, merges, ""))
      .semanticEquals(resolved(BpeExprs.bpeEncode(firstWord, merges.tail, ""))))
    assert(!resolved(HashExprs.minhashSig(sh(5), 16)).semanticEquals(resolved(HashExprs.minhashSig(sh(5), 32))))
    assert(resolved(MultiReplaceExpr.multiReplace(text, Seq("a"), "*"))
      .semanticEquals(resolved(MultiReplaceExpr.multiReplace(text, List("a"), "*"))))
  }

  test("bad arguments fail when the plan is built, before any task runs") {
    val bad: Seq[() => Column] = Seq(
      () => HashExprs.minhashSigOph(sh(5), 48),
      () => HashExprs.winnowHash64(text, 0, 4),
      () => VectorExprs.srpBucket(v, Array.fill(64)(Array(1.0))),
      () => VectorExprs.nearestCentroid(v, Array.empty),
      () => TextExprs.levBounded(text, text, -1),
      () => MultiReplaceExpr.multiReplace(text, Seq(""), "*"),
      () => WordPieceExprs.wordpieceEncode(text, Seq("##")),
      () => UnigramExprs.unigramEncode(text, Seq(("a", -1L)), 1L),
      () => Kmv.estimate(sh(5), 1))
    bad.foreach(b => intercept[IllegalArgumentException](b()))
  }

  test("the names in plan checks: a kernel call by its SQL name, others by prettyName") {
    val pi = PlanInspect(docs.select(sh(5).as("h"), upper(text).as("u")))
    assert(pi.usesExpr("shingle_hash64") && pi.usesExpr("upper"))
    assert(!pi.usesExpr("staticinvoke") && !pi.usesExpr("simhash64"))
    assert(!pi.codegen("simhash64"), "codegen must not pass for an absent name")
  }
}
