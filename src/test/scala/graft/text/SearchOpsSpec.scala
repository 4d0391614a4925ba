package graft.text

import graft.SparkSpec
import graft.similarity.{LexicalSpec, TfIdf}
import org.apache.spark.sql.functions._

/** Planted-fixture specs for the span-dedup / quality-rules / tf-idf
  * search tier (q67–q69 carry the DuckDB hash oracles; these pin the
  * operator-level semantics on hand-checkable inputs).
  */
class SearchOpsSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- SpanDedup ----

  test("dupSpans finds the shared run and merges overlapping windows") {
    // docs 1 and 2 share tokens 2..7 (six words → three 4-gram windows
    // at starts 2,3,4 in doc 1 — one merged span); doc 3 is clean.
    val d = docs(
      1L -> "aa bb one two three four five six yy zz",
      2L -> "pp qq one two three four five six rr ss tt",
      3L -> "just some entirely different words here okay")
    val spans = SpanDedup.dupSpans(d, "text", "doc_id", n = 4, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(spans === Array((1L, 2L, 6L), (2L, 2L, 6L)))
  }

  test("dupSpans keeps disjoint spans separate (gap > n)") {
    val d = docs(
      1L -> "one two three four x0 x1 x2 x3 x4 x5 five six seven eight",
      2L -> "one two three four y0 y1 y2 y3 y4 y5 five six seven eight")
    val spans = SpanDedup.dupSpans(d, "text", "doc_id", n = 4, minDocs = 2)
      .filter(col("doc_id") === 1).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sorted
    assert(spans === Array((0L, 4L), (10L, 4L)))
  }

  test("dupSpans ignores repeats confined to a single document") {
    val d = docs(
      1L -> "loop loop loop loop loop loop loop loop",
      2L -> "other words that do not repeat anything at all")
    assert(SpanDedup.dupSpans(d, "text", "doc_id", n = 4, minDocs = 2).count() === 0)
  }

  test("stripSpans removes covered tokens and passes clean docs through") {
    val d = docs(
      1L -> "aa bb one two three four five six yy zz",
      2L -> "pp qq one two three four five six rr ss tt",
      3L -> "all clean tokens stay right where they were")
    val out = SpanDedup.stripSpans(d, "text", "doc_id", n = 4, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out(0) === ((1L, "aa bb yy zz", 10L, 6L)))
    assert(out(1) === ((2L, "pp qq rr ss tt", 11L, 6L)))
    assert(out(2) === ((3L, "all clean tokens stay right where they were", 8L, 0L)))
  }

  // ---- QualityRules ----

  test("quality rule flags trip on their own statistic only") {
    val good = "the quick brown fox jumps over this lazy dog and it was " +
      "seen by a careful observer from the nearby hill at dawn"
    val d = docs(
      1L -> good,
      2L -> "- one\n- two\n- three",                        // bullets + short
      3L -> "same line\nsame line\nsame line\nsame line\nthe end is near for it now ok", // dup lines 4/5
      4L -> ("trailing off the and of to in a is that it so..." + "\n" +
        "more thoughts to be had by it...\nugh..."),        // ellipsis lines
      5L -> "1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 19 20") // no alpha
    val f = QualityRules.flags(d, "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getAs[Boolean]("keep"))
    assert(!f(2L).getAs[Boolean]("flag_bullet"))
    assert(!f(2L).getAs[Boolean]("flag_word_count"))
    assert(!f(3L).getAs[Boolean]("flag_dup_lines"))
    assert(!f(4L).getAs[Boolean]("flag_ellipsis"))
    assert(!f(5L).getAs[Boolean]("flag_alpha_words"))
    assert(!f(5L).getAs[Boolean]("flag_stopwords"))
  }

  // ---- TF-IDF (LexicalSpec runs the strategy-equality law over both scorings) ----

  test("tf-idf ranks rare-term matches above common-term matches") {
    val corpus = docs(
      1L -> "zyzzyva appears here once amid plain filler words",
      2L -> "common words common words common words and then some",
      3L -> "plain filler words and then some more filler",
      4L -> "another document of plain common text entirely")
    val queries = docs(10L -> "zyzzyva filler")
    val top = TfIdf.topK(corpus, queries, "text", "doc_id", "doc_id", k = 2)
      .orderBy(desc("score")).collect()
    assert(top.map(_.getLong(1)).head === 1L) // the zyzzyva doc wins
    assert(top.length === 2)
  }

  test("tf-idf self-retrieval puts the query doc first") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "beta gamma something else here",
      3L -> "totally unrelated content lives here")
    val top = TfIdf.topK(d, d.filter(col("doc_id") === 1),
      "text", "doc_id", "doc_id", k = 3).orderBy(desc("score")).collect()
    assert(top.head.getLong(1) === 1L)
  }

  test("two-tier topK equals the one-tier reference at every df share") {
    // queries drawn from the common-term corpus so some are bound-safe
    // and some (the all-common doc 8) must fall back. Shares sweep the
    // knob across regimes: 0.0 → everything common (pure fallback),
    // 1.0 → nothing common (pure phase A).
    val corpus = LexicalSpec.commonTerms(spark)
    val queries = corpus.filter(col("doc_id") % 3 === 1) // 1,4,7,10
    val naive = TfIdf.topKNaive(corpus, queries, "text", "doc_id", "doc_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    for (share <- Seq(0.0, 0.05, 0.3, 0.7, 1.0)) {
      val tiered = TfIdf.topKTiered(corpus, queries, "text", "doc_id", "doc_id",
          k = 3, commonDfShare = share, minCommonDf = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(tiered === naive, s"two-tier diverged from reference at share=$share")
    }
    val dense = TfIdf.topKDense(corpus, queries, "text", "doc_id", "doc_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(dense === naive, "dense tier diverged from reference")
  }

  test("dense tier drops zero-overlap pairs but keeps zero-score shared-term pairs") {
    // doc 3 shares no term with the query → absent; docs 1-2 share terms
    // (inner-join semantics preserved through the -1 sentinel)
    val corpus = docs(
      1L -> "apple banana cherry",
      2L -> "apple dates elderberry",
      3L -> "fig grape honeydew")
    val queries = docs(7L -> "apple banana")
    val out = TfIdf.topKDense(corpus, queries, "text", "doc_id", "doc_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out === Array((7L, 1L), (7L, 2L)))
  }

  test("two-tier topK handles an all-common query via fallback, exactly") {
    // every term of the query is common at share 0.2 → B_q ≥ θ_q is
    // forced, exercising the fallback branch on its own
    val corpus = docs(
      1L -> "the and of rare1 words",
      2L -> "the and of rare2 words",
      3L -> "the and of rare3 words",
      4L -> "the and of rare4 words",
      5L -> "the and of here now")
    val queries = docs(99L -> "the and of")
    val naive = TfIdf.topKNaive(corpus, queries, "text", "doc_id", "doc_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val tiered = TfIdf.topKTiered(corpus, queries, "text", "doc_id", "doc_id",
        k = 2, commonDfShare = 0.2, minCommonDf = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(tiered === naive)
  }

  test("tf-idf score is the exact fixed-point sum") {
    // one shared term, tf=2 in the corpus doc: score = 2 * floor((N-df+.5)/(df+.5)*2^20)
    val corpus = docs(1L -> "term term", 2L -> "other stuff", 3L -> "more things")
    val queries = docs(9L -> "term")
    val score = TfIdf.topK(corpus, queries, "text", "doc_id", "doc_id", k = 1)
      .collect().head.getLong(2)
    val w = math.floor((3 - 1 + 0.5) / (1 + 0.5) * (1L << 20).toDouble).toLong
    assert(score === 2L * w)
  }
}
