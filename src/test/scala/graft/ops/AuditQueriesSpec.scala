package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.AuditQueries

class AuditQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("q200: ~1/97 of key-derived check digits solve the congruence") {
    val out = AuditQueries.q200IbanAudit(spark, sf).cache()
    try {
      val n = out.count()
      val v = out.filter(col("valid") === 1).count()
      // custkey % 100 spans 0..99 ~uniformly; exactly one residue class
      // per (nation, bban) verifies -> expect n/97-ish, never 0, never n
      assert(v > 0 && v < n / 20,
        s"valid fraction implausible: $v of $n")
      // every residue is a canonical mod-97 class
      assert(out.filter(col("residue") < 0 || col("residue") > 96)
        .count() == 0)
    } finally out.unpersist()
  }

  test("q201: an exact power law regresses to slope -1 (16.16)") {
    // freq(rank) = 2^(20 - ceil(log2 rank)) over ranks 1,2,4,...,2^15:
    // log2 points fall EXACTLY on a slope -1 line
    val rows = (0 to 15).map(i => ("pl", math.pow(2, i).toLong))
    val tf = rows.toDF("lang", "rank")
      .withColumn("freq", expr("CAST(pow(2, 20) AS BIGINT) div rank"))
    def lg2(c: org.apache.spark.sql.Column) =
      lit(30L * 65536L) +
        graft.functions.FixedLogExprs.log2fix(c.cast("long"), 30, 16)
    val pts = tf.select(col("lang"), lg2(col("rank")).as("x"),
      lg2(col("freq")).as("y"))
    val got = Ols.groupTrend(pts, "lang", "x", "y").collect()(0)
    val slope = got.getLong(got.fieldIndex("slope_fix"))
    assert(slope == -65536L, s"exact dyadic power law must give -1, got $slope")
  }

  test("q202: a planted volume spike is flagged by its weekday's norm") {
    // 8 weeks of flat per-day volume for one type, one day tripled:
    // that day's weekday group flags exactly 1 outlier
    val base = for (d <- 0L until 56L) yield ("click", d, if (d == 21L) 300L else 100L)
    val daily = base.toDF("event_type", "__day", "cnt")
      .withColumn("dow", (col("__day") + 4) % 7)
    val out = RobustStats.medianMadOutliers(
        daily, Seq("event_type", "dow"), "cnt")
      .collect().map(r => (r.getLong(2), r.getLong(5))).toSeq
    assert(out.map(_._2).sum == 1, s"expected exactly one flagged day: $out")
    assert(out.forall(_._1 == 8L), "8 samples per weekday expected")
  }

  test("q209: reference-slice docs score lower under the reference model") {
    val out = AuditQueries.q209RhoSelection(spark, sf).cache()
    try {
      assert(out.count() > 0)
      // selected <=> excess > 0, and excess is the clamped rate gap
      assert(out.filter((col("excess_fix") > 0) =!=
        (col("selected") === 1)).count() == 0)
      // curated-slice docs (the ref model's own training data) must be
      // selected at a HIGHER rate than out-of-slice docs — the whole
      // point of the contrast
      val inSel = out.filter(col("doc_id") % 5 === 0)
        .agg(avg(col("selected"))).head.getDouble(0)
      val outSel = out.filter(col("doc_id") % 5 =!= 0)
        .agg(avg(col("selected"))).head.getDouble(0)
      assert(inSel > outSel,
        s"ref-slice selection rate $inSel !> out-of-slice $outSel")
    } finally out.unpersist()
  }

  test("q210: Gini is 0 on equal masses and ~(n-1)/n on one-doc-takes-all") {
    def gini(rows: Seq[(String, Long, Long)]): Long = {
      // replicate the query's algebra on a toy frame via the same expr
      val df = rows.toDF("source", "doc_id", "tok")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("tok"), col("doc_id"))
      df.withColumn("__i", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("total_tokens"),
          sum(expr("CAST(__i AS DECIMAL(38,0)) * tok")).as("__ixt"))
        .withColumn("g", expr(
          """CAST(((2 * __ixt - (CAST(n_docs AS DECIMAL(38,0)) + 1)
            |       * total_tokens) * 65536)
            |     div (CAST(n_docs AS DECIMAL(38,0)) * total_tokens)
            |     AS BIGINT)""".stripMargin))
        .select("g").head.getLong(0)
    }
    assert(gini((1L to 8L).map(i => ("a", i, 100L))) == 0L)
    // one doc holds everything: G = (n-1)/n = 7/8 -> 57344 in 2^16
    assert(gini((1L to 8L).map(i =>
      ("a", i, if (i == 8L) 800L else 0L))) == 57344L)
    // and the real corpus lands strictly inside (0, 1)
    val real = AuditQueries.q210GiniConcentration(spark, sf)
      .agg(min("gini_fix"), max("gini_fix")).head
    assert(real.getLong(0) >= 0L && real.getLong(1) < 65536L)
  }

  test("q212: island merge — adjacent coverage fuses, one clean token splits") {
    // benchmark doc (id 29) carries two 8-gram phrases A and B; the
    // training doc embeds A at pos 3 and B right after (coverage
    // adjacent -> ONE span) and A again after exactly one clean token
    // (gap 9 -> NEW span)
    val A = (1 to 8).map(i => s"a$i")
    val B = (1 to 8).map(i => s"b$i")
    val pad = (1 to 2).map(i => s"p$i")
    val trainToks = pad ++ A ++ B ++ Seq("clean") ++ A ++ Seq("tail")
    val df = Seq(
      (29L, (A ++ Seq("x") ++ B).mkString(" ")), // benchmark
      (1L, trainToks.mkString(" ")))
      .toDF("doc_id", "text")
    val base = scratch("q212")
    df.write.mode("overwrite").parquet(s"$base/documents.parquet")
    val out = AuditQueries.q212ContaminationSpans(spark, base)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // spans: [3, 18] (A at 3..10 fused with B at 11..18) and [20, 27]
    assert(out.toSeq == Seq((1L, 3L, 18L), (2L, 20L, 27L)),
      s"unexpected spans: ${out.toSeq}")
  }

  test("q213: power iteration recovers a planted dominant direction") {
    // corpus = multiples of the diagonal direction (1,1,1,1)/2: the
    // Gram matrix is rank-1, so 8 iterations land exactly on it —
    // every eigenvector component equals the normalization cap
    val vs = (-2 to 2).flatMap(t => Seq.fill(3)(
      Array.fill(4)(0.5f * t)))
    val base = scratch("q213")
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$base/embeddings.parquet")
    val out = AuditQueries.q213TopComponent(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._2).distinct.toSeq == Seq(65536L),
      s"diagonal direction expected: ${out.toSeq}")
    // axis-aligned control: variance only on dim 2 -> eigvec = e2
    val ax = (-2 to 2).flatMap(t => Seq.fill(3)(
      Array(0f, 0f, 1.0f * t, 0f)))
    ax.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$base/embeddings.parquet")
    val out2 = AuditQueries.q213TopComponent(spark, base)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(math.abs(out2(2L)) == 65536L &&
      Seq(0L, 1L, 3L).forall(d => out2(d) == 0L),
      s"axis direction expected: $out2")
  }

  test("q214: memorized-looking doc scores below the rare-bigram doc") {
    // docs 0..7: the same common sentence (a "member" — every bigram
    // is corpus-frequent, so even its most-surprising tail is cheap);
    // doc 8: RARE CONTINUATIONS OF THE COMMON HISTORY "the" — under KN
    // a singleton bigram is only surprising when its history is
    // frequent (c_vw/c_v small); singleton-history singletons have
    // ratio ≈ 1 and score LOW, so fully-unique words would not plant
    // a high Min-K% tail; doc 9: no bigrams (the spine row)
    val common = "the cat sat on the mat and the dog sat on the rug"
    val docs = (0L to 7L).map(i => (i, common, "en", "s", 0L)) ++ Seq(
      (8L, "the zyx the wvu the tsr qpo", "en", "s", 0L),
      (9L, "solo", "en", "s", 0L))
    val base = scratch("q214")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val out = AuditQueries.q214MinkMembership(spark, base)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    // k = ceil(n/5): 13 tokens -> 12 bigrams -> k = 3
    assert(out(0L)._1 == 12L && out(0L)._2 == 3L, s"k shape: $out")
    assert(out(8L)._3 > out(0L)._3,
      s"rare doc must out-surprise the member: $out")
    assert(out(9L)._1 == 0L && out(9L)._2 == 0L && out(9L)._3 == 0L,
      s"empty-bigram doc rides the spine: $out")
  }

  test("q217: q-hat is the exact conformal order statistic") {
    val out = AuditQueries.q217ConformalGate(spark, sf).collect()
    assert(out.nonEmpty)
    val qhat = out.map(_.getLong(2)).distinct
    assert(qhat.length == 1, s"one threshold: ${qhat.toSeq}")
    // recompute the calibration order statistic independently
    val cal = graft.text.KneserNey.perplexityBits(
        graft.text.KneserNey.bigramModel(
          spark.read.parquet(s"$sf/documents.parquet"), "text"),
        spark.read.parquet(s"$sf/documents.parquet"), "text", "doc_id")
      .filter("n_bigrams > 0 AND doc_id % 5 = 0")
      .selectExpr("(CAST(bits_fix AS DECIMAL(38,0)) * 65536) div n_bigrams" +
        " AS p", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted
    val r = ((cal.length + 1) * 9 + 9) / 10
    assert(qhat.head == cal(r - 1)._1, s"rank $r of ${cal.length}")
    out.foreach { o =>
      assert((o.getInt(3) == 1) == (o.getLong(1) > qhat.head),
        "flag identity")
    }
    // finite-sample behavior: the flag rate sits near alpha, never wild
    val rate = out.count(_.getInt(3) == 1).toDouble / out.length
    assert(rate <= 0.25, s"flag rate: $rate")
  }

  test("q217: a tiny calibration set yields q-hat = +inf, never an empty output") {
    // one calibration doc: rank = ceil(2 * 0.9) = 2 > n_cal = 1, so the
    // conformal threshold is +infinity — every test doc must still
    // surface, unflagged (the empty-join silent drop this guards)
    val docs = Seq(
      (0L, "the cat sat on the mat", "en", "s", 0L),   // calibration
      (1L, "the dog sat on the rug", "en", "s", 0L),
      (2L, "a completely different text here", "en", "s", 0L))
    val base = scratch("q217")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val out = AuditQueries.q217ConformalGate(spark, base).collect()
    assert(out.length == 2, s"both test docs surface: ${out.toSeq}")
    assert(out.forall(_.getLong(2) == Long.MaxValue), "q-hat = +inf")
    assert(out.forall(_.getInt(3) == 0), "nothing flags under +inf")
  }

  test("q211: cumulative share is monotone, ends at 2^16, covers95 is a step") {
    val out = AuditQueries.q211MatryoshkaVariance(spark, sf)
      .orderBy("dim").collect()
    assert(out.nonEmpty)
    val shares = out.map(_.getLong(2))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b },
      "cum share must be monotone in dim")
    assert(shares.last == 65536L, s"full prefix must cover 100%: ${shares.last}")
    val flags = out.map(_.getInt(3))
    assert(flags.zip(flags.tail).forall { case (a, b) => a <= b },
      "covers95 must be a monotone step")
    assert(flags.last == 1)
  }
}
