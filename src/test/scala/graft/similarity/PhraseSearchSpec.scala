package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PhraseSearchSpec extends SparkSpec {
  import spark.implicits._

  private def run(docs: Seq[(Long, String)], phrases: Seq[(Long, Seq[String])]) = {
    val d = docs.toDF("doc_id", "text")
    val p = phrases.toDF("query_id", "ph")
    PhraseSearch.matches(
        PhraseSearch.postings(d, "text", "doc_id"),
        PhraseSearch.phraseTerms(p, "query_id", "ph"))
      .orderBy("query_id", "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
  }

  test("adjacency is strict: gaps and reorderings do not match") {
    val docs = Seq(
      1L -> "the new york times today",
      2L -> "new in york times",      // gap
      3L -> "york new times",         // reorder
      4L -> "prefix words then new york again")
    val got = run(docs, Seq(10L -> Seq("new", "york")))
    assert(got == Seq((10L, 1L, 1L, 2L), (10L, 4L, 1L, 4L)))
  }

  test("overlapping occurrences all count; first_pos is the earliest anchor") {
    val got = run(Seq(7L -> "a a a a b"), Seq(1L -> Seq("a", "a")))
    assert(got == Seq((1L, 7L, 3L, 1L)))
  }

  test("repeated phrase terms need every offset satisfied") {
    val docs = Seq(
      1L -> "x a b a y",   // matches "a b a" at anchor 2
      2L -> "x a b b a")   // does not
    val got = run(docs, Seq(5L -> Seq("a", "b", "a")))
    assert(got == Seq((5L, 1L, 1L, 2L)))
  }

  test("multiple queries resolve independently; absent phrases yield no rows") {
    val docs = Seq(1L -> "alpha beta gamma", 2L -> "beta gamma delta")
    val got = run(docs,
      Seq(1L -> Seq("beta", "gamma"), 2L -> Seq("gamma", "beta"),
        3L -> Seq("delta", "epsilon")))
    assert(got == Seq((1L, 1L, 1L, 2L), (1L, 2L, 1L, 1L)))
  }

  test("tokenization is the shared lowercase-whitespace contract") {
    val got = run(Seq(1L -> "The  Quick\tBrown fox"),
      Seq(1L -> Seq("quick", "brown")))
    assert(got == Seq((1L, 1L, 1L, 2L)))
  }

  test("matchesRareFirst is row-for-row equal to matches") {
    val docs = Seq(
      1L -> "a b c a b c a b",       // repeated phrase, hot terms
      2L -> "a a a a a a",           // degenerate hot
      3L -> "x y z q r s",           // rare terms
      4L -> "b c a b c x",           // overlap
      5L -> "z z y x w")
    val phrases = Seq(
      10L -> Seq("a", "b", "c"),     // multi-anchor
      11L -> Seq("x"),               // single-term phrase (no verify leg)
      12L -> Seq("a", "a"),          // repeated term in the phrase
      13L -> Seq("nope", "b"),       // absent term -> zero-df seed
      14L -> Seq("z", "z", "y"))
    val d = docs.toDF("doc_id", "text")
    val p = phrases.toDF("query_id", "ph")
    val post = PhraseSearch.postings(d, "text", "doc_id")
    val terms = PhraseSearch.phraseTerms(p, "query_id", "ph")
    val a = PhraseSearch.matches(post, terms)
      .orderBy("query_id", "doc_id").collect().toSeq
    val b = PhraseSearch.matchesRareFirst(post, terms)
      .orderBy("query_id", "doc_id").collect().toSeq
    assert(a == b)
    assert(a.nonEmpty) // the law must bite on real matches

    // the persisted-index path (q165b): save postings + derived term-df,
    // reload, probe with the precomputed stats — row-for-row equal again
    val path = scratch("postidx")
    PhraseSearch.saveIndex(post, path)
    val (rp, rtdf) = PhraseSearch.loadIndex(spark, path)
    val c = PhraseSearch.matchesRareFirstWithStats(rp, rtdf, terms)
      .orderBy("query_id", "doc_id").collect().toSeq
    assert(a == c)
  }

  test("incremental index: delta appends, history files untouched, " +
      "additive df merge probes identically to a rebuild") {
    val hist = Seq(1L -> "a b c a b c a b", 3L -> "x y z q r s",
      5L -> "z z y x w").toDF("doc_id", "text")
    val delta = Seq(2L -> "a a a a a a", 4L -> "b c a b c x")
      .toDF("doc_id", "text")
    val full = hist.unionByName(delta)
    val phrases = Seq(10L -> Seq("a", "b", "c"), 14L -> Seq("z", "z", "y"))
      .toDF("query_id", "ph")
    val terms = PhraseSearch.phraseTerms(phrases, "query_id", "ph")
    val base = this.scratch("postidx_inc")
    // generation 0: history only
    PhraseSearch.saveIndex(
      PhraseSearch.postings(hist, "text", "doc_id"), base)
    def snapshot(): Map[String, (Long, Long)] =
      new java.io.File(s"$base/postings").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    val before = snapshot()
    assert(before.nonEmpty)
    // ingest: delta postings APPEND; history parquet files must be
    // byte-for-byte untouched (same name, size, mtime) — the O(delta)
    // nightly-ingest property q165c claims
    val pd = PhraseSearch.postings(delta, "text", "doc_id")
    pd.repartition(col("term")).write.mode("append")
      .parquet(s"$base/postings")
    val after = snapshot()
    assert(before.forall { case (n, meta) => after.get(n).contains(meta) },
      "history posting files were rewritten by the delta append")
    assert(after.size > before.size, "delta produced no new posting files")
    // df upsert: additive merge of the two stats relations
    val dfd = pd.groupBy("term").agg(count(lit(1)).cast("long").as("__df"))
    val merged = spark.read.parquet(s"$base/term_df").unionByName(dfd)
      .groupBy("term").agg(sum("__df").cast("long").as("__df"))
    // probe over (appended postings, merged df) == from-scratch rebuild
    val mergedPost = spark.read.parquet(s"$base/postings")
    val inc = PhraseSearch.matchesRareFirstWithStats(mergedPost, merged, terms)
      .orderBy("query_id", "doc_id").collect().toSeq
    val scratch = PhraseSearch.matches(
        PhraseSearch.postings(full, "text", "doc_id"), terms)
      .orderBy("query_id", "doc_id").collect().toSeq
    assert(inc == scratch)
    assert(inc.nonEmpty)
  }
}
