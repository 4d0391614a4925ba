package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class NaiveBayesSpec extends SparkSpec {
  import spark.implicits._

  // two classes with disjoint characteristic vocab plus shared filler
  private lazy val labeled = {
    val a = (0 until 40).map(i =>
      (i.toLong, s"alpha beta gamma filler$i common words here", "a"))
    val b = (0 until 40).map(i =>
      (100L + i, s"delta epsilon zeta filler$i common words here", "b"))
    (a ++ b).toDF("doc_id", "text", "label")
  }

  private lazy val model = NaiveBayes.train(labeled, "text", "label")

  test("recovers the planted classes on held-in docs") {
    val preds = NaiveBayes.predict(model, labeled, "text", "doc_id")
      .join(labeled, "doc_id")
    assert(preds.filter($"pred" =!= $"label").isEmpty)
  }

  test("classifies unseen docs by their characteristic tokens") {
    val fresh = Seq(
      (1000L, "beta gamma alpha"), (1001L, "zeta delta epsilon"),
      (1002L, "alpha alpha delta")).toDF("doc_id", "text")
    val p = NaiveBayes.predict(model, fresh, "text", "doc_id")
      .select($"doc_id", $"pred").as[(Long, String)].collect().toMap
    assert(p(1000L) == "a" && p(1001L) == "b")
    // 2×alpha vs 1×delta: the a-evidence outweighs
    assert(p(1002L) == "a")
  }

  test("prediction is partition-invariant (all-integer scoring)") {
    val docs = labeled.select($"doc_id", $"text")
    val a = NaiveBayes.predict(model, docs.repartition(1), "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    val b = NaiveBayes.predict(model, docs.repartition(11), "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("a token-less doc scores the prior-only argmin, not a dropped row") {
    val docs = Seq((5000L, ""), (5001L, "alpha")).toDF("doc_id", "text")
    val out = NaiveBayes.predict(model, docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    // priors are equal (40/40) → tie breaks to the smaller label
    assert(out(0).getAs[String]("pred") == "a")
  }

  test("model round-trips through parquet artifacts without changing predictions") {
    val dir = scratch("nb")
    model.wordProbs.write.mode("overwrite").parquet(s"$dir/wp")
    model.classStats.write.mode("overwrite").parquet(s"$dir/cs")
    val reloaded = NaiveBayes.Model(
      spark.read.parquet(s"$dir/wp"), spark.read.parquet(s"$dir/cs"))
    val a = NaiveBayes.predict(model, labeled, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    val b = NaiveBayes.predict(reloaded, labeled, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("smoothing: a doc of only-unseen tokens still scores finitely") {
    val docs = Seq((6000L, "totally novel vocabulary")).toDF("doc_id", "text")
    val out = NaiveBayes.predict(model, docs, "text", "doc_id").head()
    assert(out.getAs[Long]("bits_fix") > 0L)
  }
}
