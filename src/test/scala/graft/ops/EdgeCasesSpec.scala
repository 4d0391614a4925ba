package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Degenerate-input behavior of the headline operators: a 100 TB
  * pipeline ALWAYS contains an empty partition, an empty relation after
  * a filter, or a one-token document somewhere — none of these may
  * throw or silently mis-classify.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup family on an empty corpus") {
    assert(graft.dedup.Dedup.exactDedup(emptyDocs, "text", "doc_id").isEmpty)
    assert(graft.dedup.Dedup.fingerprintDedup(emptyDocs, "text", "doc_id").isEmpty)
    assert(graft.text.SpanDedup.dupSpans(emptyDocs, "text", "doc_id",
      n = 4, minDocs = 2).isEmpty)
  }

  test("quality/text stats on empty and whitespace-only documents") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("doc_id", "text")
    val flags = graft.text.QualityRules.flags(docs, "text")
    assert(flags.count() == 3, "no row may be dropped or duplicated")
    assert(flags.filter($"keep" === true).isEmpty,
      "sub-minimum docs must fail the word-count gate, not pass vacuously")
    val cooc = graft.text.Cooccurrence.pmiStats(docs, "text", window = 2)
    assert(cooc.isEmpty, "no pairs exist in 0/1-token docs")
  }

  for (scoring <- Seq(graft.similarity.TfIdf, graft.similarity.Bm25))
    test(s"$scoring search with an empty query set and an empty corpus") {
      val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
      val blank = Seq((1L, "   "), (2L, "")).toDF("doc_id", "text")
      assert(scoring.topK(docs, emptyDocs, "text", "doc_id", "doc_id", k = 3).isEmpty)
      assert(scoring.topK(emptyDocs, docs, "text", "doc_id", "doc_id", k = 3).isEmpty)
      assert(scoring.topK(blank, docs, "text", "doc_id", "doc_id", k = 3).isEmpty,
        "a whitespace-only corpus has no postings")
    }

  test("snapshot diff where one side is empty") {
    val v = Seq((1L, "a")).toDF("id", "text")
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    val allRemoved = SnapshotDiff.diff(v, empty, Seq("id"), Seq("text"))
      .collect().map(_.getString(1)).toSeq
    val allAdded = SnapshotDiff.diff(empty, v, Seq("id"), Seq("text"))
      .collect().map(_.getString(1)).toSeq
    assert(allRemoved == Seq("removed") && allAdded == Seq("added"))
  }

  test("importance tagging with an empty target slice") {
    val docs = Seq((1L, "x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = graft.text.ImportanceSampling
      .importanceTag(docs, "doc_id", "text", lit(false))
      .collect()
    assert(out.length == 2)
    assert(out.forall(r => r.getLong(1) == 0L && r.getInt(3) == 0),
      "no target corpus -> zero target mass, nothing kept")
  }

  test("heavy hitters over all-empty token arrays") {
    val df = Seq(Seq.empty[String], Seq.empty[String]).toDF("toks")
    val out = df.agg(graft.functions.FreqItemsAgg.freqItems($"toks", 8).as("hh"))
      .select(size($"hh")).as[Int].head()
    assert(out == 0)
  }

  test("url canonicalization survives nulls") {
    val df = Seq(Option.empty[String], Some("http://a.b/c")).toDF("u")
    val got = df.select(UrlOps.canonicalize($"u")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(got == Seq(null, "http://a.b/c"))
  }
}
