package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embeddings =
    spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")

  test("cosine of a vector with its scaled copy is 1") {
    val df = embeddings.limit(5)
      .select(Ann.cosine($"embedding", transform($"embedding", v => v * 3.0f)).as("c"))
    df.collect().foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("bruteForceTopK returns k ranked neighbors per query") {
    val q = embeddings.filter($"vec_id" < 5)
    val out = Ann.bruteForceTopK(embeddings, q, "vec_id", "embedding", k = 4)
    val byQuery = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 5)
    byQuery.values.foreach { rows =>
      assert(rows.length == 4)
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("srpTopK recall vs exact baseline is reasonable") {
    val q = embeddings.filter($"vec_id" < 20)
    val exact = Ann.bruteForceTopK(embeddings, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Ann.srpTopK(embeddings, q, "vec_id", "embedding", dim = 64, k = 3, nBits = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"SRP recall $recall too low") // multi-probe 1-bit, 8 planes
  }

  test("ivfAssign gives every row a list and respects nLists bound") {
    val out = Ann.ivfAssign(embeddings.limit(200), "vec_id", "embedding", nLists = 4)
    assert(out.count() == 200)
    val lists = out.select("list_id").distinct().collect().map(_.getInt(0)).toSet
    assert(lists.nonEmpty && lists.size <= 4)
  }

  test("ivfAssign plan is narrow: no joins, no exchanges") {
    val out = Ann.ivfAssign(embeddings.limit(200), "vec_id", "embedding", nLists = 4)
    val pi = graft.plans.PlanInspect(out)
    assert(!pi.has[org.apache.spark.sql.execution.joins.BaseJoinExec],
      s"assignment must not join:\n${pi.root}")
    assert(pi.exchangeFree, s"assignment must not shuffle:\n${pi.root}")
  }

  test("ivfTopK recall vs exact baseline is reasonable") {
    val q = embeddings.filter($"vec_id" < 20)
    val exact = Ann.bruteForceTopK(embeddings, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Ann.ivfTopK(embeddings, q, "vec_id", "embedding", k = 3,
      nLists = 8, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall too low")
  }

  test("hardNegatives: different label only, dup ceiling excludes clones") {
    // two labels along one axis: label 0 at x≈1, label 1 at x≈-1, plus a
    // mislabeled exact clone of the query (sim 1.0 ≥ ceiling → excluded)
    val rows = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // query
      (1L, Array(0.9f, 0.1f), 0),   // same label → never a negative
      (2L, Array(1.0f, 0.0f), 1),   // clone under another label → ceiling
      (3L, Array(0.8f, 0.6f), 1),   // the hard negative (closest legit)
      (4L, Array(-1.0f, 0.0f), 1))  // easy negative
      .toDF("vec_id", "embedding", "label")
    val q = rows.filter($"vec_id" === 0L)
    val got = Ann.hardNegatives(rows, q, "vec_id", "embedding", "label",
      k = 2, dupCeiling = 0.99)
      .orderBy("rank")
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(got.toSeq == Seq((1, 3L), (2, 4L)))
  }

  test("ngramNovelty: first doc all novel, re-crawl scores zero") {
    val docs = Seq(
      (1L, "a b c d"),   // grams: "a b c", "b c d" — both novel
      (2L, "a b c d"),   // exact re-crawl → 0 novel
      (3L, "a b c e"))   // "a b c" seen, "b c e" novel → 50%
      .toDF("doc_id", "text")
    val got = graft.text.TextAnalysis
      .ngramNovelty(docs, "text", "doc_id", "doc_id", n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 2L, 100L), (2L, 2L, 0L, 0L),
      (3L, 2L, 1L, 50L)))
  }

  test("globalOutliers: planted strays flagged, inliers kept, exact dist²") {
    // 40 tight inliers around (1,0) + 2 strays far away
    val rows = (0L until 40L).map(i =>
      (i, Array(1.0f + (i % 5) * 0.001f, (i % 3) * 0.001f))) ++
      Seq((100L, Array(50.0f, -50.0f)), (101L, Array(-80.0f, 0.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Outliers.globalOutliers(df, "vec_id", "embedding",
      alphaMilli = 2000)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got(100L) == 0 && got(101L) == 0, "strays must be flagged")
    assert((0L until 40L).forall(got(_) == 1), "inliers must be kept")
  }

  test("globalOutliers is partitioning-invariant (exact integers)") {
    val rows = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 37 + d * 11) % 97) / 97.0f)))
    val a = Outliers.globalOutliers(rows.toDF("vec_id", "embedding")
      .repartition(13), "vec_id", "embedding", alphaMilli = 1005)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = Outliers.globalOutliers(rows.toDF("vec_id", "embedding")
      .coalesce(1), "vec_id", "embedding", alphaMilli = 1005)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b)
  }

  test("globalOutliers rejects ragged embeddings loudly") {
    val rows = (0L until 20L).map(i => (i, Array(1.0f, 2.0f, 3.0f))) :+
      (99L, Array(1.0f, 2.0f)) // one short vector
    val ex = intercept[Exception] {
      Outliers.globalOutliers(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", alphaMilli = 1005).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("dimensionality")), s"got: $ex")
  }

  test("ivfTrain samples uniformly: centroids span a CLUSTER-SORTED corpus") {
    // corpus sorted so that all of cluster A precedes cluster B: a
    // first-rows "sample" would only ever see cluster A and leave B
    // without any nearby centroid. 400 rows per cluster, sampleRows=100
    // ⪡ 800, so a biased sampler cannot pass.
    val mk = (base: Float, from: Int, n: Int) => (from until from + n).map { i =>
      (i.toLong, Array.tabulate(8)(d => base + (i % 7) * 0.01f + d * 0.001f))
    }
    val sorted = (mk(10f, 0, 400) ++ mk(-10f, 400, 400))
      .toDF("vec_id", "embedding")
      .coalesce(1).sortWithinPartitions("vec_id")
    val centroids = Ann.ivfTrain(sorted, "embedding", nLists = 4,
      iterations = 5, sampleRows = 100)
    val nearA = centroids.count(c => math.abs(c(0) - 10.0) < 2.0)
    val nearB = centroids.count(c => math.abs(c(0) + 10.0) < 2.0)
    assert(nearA >= 1 && nearB >= 1,
      s"centroids must cover both clusters, got A=$nearA B=$nearB: " +
        centroids.map(_.head).mkString(","))
    // determinism: same seed → same centroids
    val again = Ann.ivfTrain(sorted, "embedding", nLists = 4,
      iterations = 5, sampleRows = 100)
    assert(centroids.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("centroid artifact save→load round-trip is bit-exact") {
    // moved here from q43b's timed path (round-11 verdict #3): the
    // require used to run inside the bench clock alongside the probe.
    // The artifact gates schema, list ordering, and double fidelity.
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => (i * 31 + d * 7 + 1) * 0.001f))
    }
    val trained = Ann.ivfTrain(rows.toDF("vec_id", "embedding"),
      "embedding", nLists = 4, iterations = 5, sampleRows = 100)
    val path = scratch("ann_roundtrip")
    Ann.saveCentroids(spark, trained, path)
    val reloaded = Ann.loadCentroids(spark, path)
    assert(reloaded.length == trained.length &&
      reloaded.zip(trained).forall { case (a, b) => a.sameElements(b) },
      "centroid artifact round-trip must be bit-exact")
  }
}
