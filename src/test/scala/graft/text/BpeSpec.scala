package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def merge(tokens: Seq[String], l: String, r: String): Seq[String] =
    Seq(tokens).toDF("t")
      .select(Bpe.applyMerge(col("t"), l, r, sep = "_"))
      .as[Seq[String]].head()

  test("greedy leftmost merge, chains never double-consume") {
    assert(merge(Seq("a", "b", "c"), "a", "b") == Seq("a_b", "c"))
    assert(merge(Seq("a", "a", "a"), "a", "a") == Seq("a_a", "a"))
    assert(merge(Seq("a", "a", "a", "a"), "a", "a") == Seq("a_a", "a_a"))
    assert(merge(Seq("x", "a", "b", "a", "b"), "a", "b") ==
      Seq("x", "a_b", "a_b"))
    assert(merge(Seq("b", "a"), "a", "b") == Seq("b", "a"))
    assert(merge(Seq.empty, "a", "b") == Seq.empty)
    assert(merge(Seq("a"), "a", "b") == Seq("a"))
  }

  test("topPair picks highest count with lexical tie-break") {
    val docs = Seq("p q p q", "p q r", "r r").toDF("text")
    // pairs: (p,q) x3, (q,p) x1, (q,r) x1, (r,r) x1
    assert(Bpe.topPair(docs, "text").contains(("p", "q")))
  }

  test("train: rounds compose, learned merges can nest") {
    // round 1 learns (p,q); round 2 sees p_q tokens and learns (p_q,r)
    val docs = Seq((1L, "p q r p q r"), (2L, "p q r"), (3L, "z z")).toDF("doc_id", "text")
    val (out, merges) = Bpe.train(docs, "text", rounds = 2, sep = "_")
    assert(merges == Seq(("p", "q"), ("p_q", "r")))
    val got = out.orderBy("doc_id").select("tokens").as[Seq[String]].collect()
    assert(got(0) == Seq("p_q_r", "p_q_r"))
    assert(got(1) == Seq("p_q_r"))
    assert(got(2) == Seq("z", "z"), "untouched tokens survive verbatim")
    out.unpersist()
  }

  test("train stops early when no pair repeats") {
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val (out, merges) = Bpe.train(docs, "text", rounds = 5, sep = "_")
    assert(merges.isEmpty, "singleton pairs must not be merged")
    out.unpersist()
  }

  test("mergeRound rewrites the corpus with the learned rule") {
    val docs = Seq((1L, "p q p q"), (2L, "q p")).toDF("doc_id", "text")
    val (out, rule) = Bpe.mergeRound(docs, "text", sep = "_")
    assert(rule.contains(("p", "q")))
    val got = out.orderBy("doc_id").select("tokens").as[Seq[String]].collect()
    assert(got(0) == Seq("p_q", "p_q") && got(1) == Seq("q", "p"))
  }

  private def enc(word: String, merges: Seq[(String, String)]): Seq[String] =
    Seq(word).toDF("w")
      .select(graft.functions.BpeExprs.bpeEncode(col("w"), merges, "_"))
      .as[Seq[String]].head()

  test("bpeEncode: priority-queue semantics, rank beats position") {
    val m = Seq("t" -> "a", "t_a" -> "b", "l" -> "e", "t_a_b" -> "l_e",
      "a" -> "l")
    assert(enc("table", m) == Seq("t_a_b_l_e"))
    // (l,e) rank 2 outranks (a,l) rank 4 even though (a,l) comes first
    // positionally — the priority-queue picks the global min rank
    assert(enc("ale", m) == Seq("a", "l_e"))
    assert(enc("tab", m) == Seq("t_a_b"))
    assert(enc("bat", m) == Seq("b", "a", "t"))
    assert(enc("t", m) == Seq("t"))
    assert(enc("", m) == Seq.empty)
  }

  test("bpeEncode: merge-all per round, greedy leftmost on runs") {
    val m = Seq("a" -> "a")
    assert(enc("aaa", m) == Seq("a_a", "a"))
    assert(enc("aaaa", m) == Seq("a_a", "a_a"),
      "aaaa: two (a,a) merges; (a_a,a_a) is not in the table")
  }

  test("bpeEncode: surrogate pairs split by codepoint, not char") {
    val emoji = "😀" // 😀
    assert(enc(s"a${emoji}b", Seq.empty) == Seq("a", emoji, "b"))
  }

  test("decode inverts encode on every corpus word (round-trip law)") {
    val merges = Seq("t" -> "a", "t_a" -> "b", "l" -> "e", "t_a_b" -> "l_e",
      "a" -> "l")
    val words = Seq("table", "ale", "tab", "bat", "x", "battle", "tattle")
      .toDF("w")
    val back = words
      .select(col("w"),
        Bpe.decodeWord(
          graft.functions.BpeExprs.bpeEncode(col("w"), merges, "_"), "_")
          .as("rt"))
      .collect()
    back.foreach(r => assert(r.getString(0) == r.getString(1),
      s"round-trip broke for ${r.getString(0)}"))
  }

  test("word-level encodeTokens agrees with iterated train applyMerge") {
    // applying the learned table in one priority-queue pass reproduces
    // train's round-by-round corpus rewrite (rank order == learn order)
    val docs = Seq((1L, "p q r p q r z z")).toDF("doc_id", "text")
    val (out, merges) = Bpe.train(docs, "text", rounds = 2, sep = "_")
    val viaTrain = out.select("tokens").as[Seq[String]].head()
    val viaEncode = docs.select(
      graft.functions.BpeExprs.bpeEncodeTokens(
        Decontaminate.wordTokens(col("text")), merges, "_"))
      .as[Seq[String]].head()
    assert(viaTrain == viaEncode)
  }

  test("trained merge table survives the parquet artifact round-trip") {
    // train → save → load → encode must equal encode-with-trained (the
    // cross-run artifact contract, q112's spec half): rank order is the
    // merge PRIORITY, so the reload sorts by the stored rank, not by
    // parquet row order
    val docs = Seq(
      (1L, "s t u s t u s t"), (2L, "t u s t u v v v")).toDF("doc_id", "text")
    val (_, merges) = Bpe.train(docs, "text", rounds = 3, sep = "_")
    assert(merges.nonEmpty)
    val dir = scratch("bpe_artifact")
    Bpe.saveMerges(spark, merges, dir)
    val reloaded = Bpe.loadMerges(spark, dir)
    assert(reloaded == merges, "rank order or strings changed in round-trip")
    val a = Bpe.encode(docs, "text", merges, sep = "_")
      .select("doc_id", "widx", "tidx", "token").collect().toSeq
    val b = Bpe.encode(docs, "text", reloaded, sep = "_")
      .select("doc_id", "widx", "tidx", "token").collect().toSeq
    assert(a.sortBy(_.toString) == b.sortBy(_.toString))
  }

  test("q219: prune audit — leaf discipline and the fertility identity") {
    val out = graft.queries.SearchQueries.q219VocabPrune(spark, sf)
      .collect()
    assert(out.length == 7)
    out.foreach { r =>
      assert(r.getLong(7) <= r.getLong(6),
        s"only leaves prune: ${r.toSeq}")
      assert(r.getString(3) == s"${r.getString(1)}+${r.getString(2)}",
        "out token is l+sep+r")
    }
    // each pruned rule is a single top-level merge, so every occurrence
    // splits into exactly its two parents: the corpus-wide fertility
    // cost is the sum of pruned usages, token for token
    val prunedUsage = out.filter(_.getLong(7) == 1L).map(_.getLong(4)).sum
    val (full, pruned) = (out.head.getLong(8), out.head.getLong(9))
    assert(pruned - full == prunedUsage,
      s"fertility identity: $pruned - $full != $prunedUsage")
    assert(out.map(_.getLong(8)).distinct.length == 1 &&
      out.map(_.getLong(9)).distinct.length == 1, "constant totals")
  }
}
