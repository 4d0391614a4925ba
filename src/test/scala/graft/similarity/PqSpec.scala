package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product-quantization float-tier laws ([[Pq]]); q124 gates the
  * integer twin against DuckDB.
  */
class PqSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("encode appends one in-range code per subspace, deterministically") {
    val books = Pq.train(emb, "embedding", m = 8, ksub = 4,
      iterations = 3, sampleRows = 200)
    val coded = Pq.encode(emb, "embedding", books)
    val rows = coded.select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rows.values.forall(cs => cs.length == 8 && cs.forall(c => c >= 0 && c < 4)))
    val again = Pq.encode(emb, "embedding", books)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rows === again)
  }

  test("an ADC shortlist captures the exact L2 top-k for re-ranking") {
    // the production contract: PQ codes SHORTLIST (top-50 of 500 = 10%),
    // exact re-rank finishes — so the gate is shortlist containment of
    // the exact top-10, not raw recall@10 (on near-random vectors PQ's
    // quantization error makes strict top-10 recall meaningless)
    val books = Pq.train(emb, "embedding", m = 8, ksub = 16,
      iterations = 5, sampleRows = 500)
    val coded = Pq.encode(emb, "embedding", books)
    val queries = emb.filter(col("vec_id") < 8)
    val k = 10
    val shortlist = 50
    val adc = Pq.adcTopK(coded, queries, "embedding", "vec_id", "vec_id",
      books, shortlist).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    // exact L2 top-k via the scoring helper (cosine on l2-normalized is
    // rank-equivalent; here compute L2 directly for an independent ref)
    val ref = emb.select(col("vec_id").as("doc_id"), col("embedding").as("e"))
      .crossJoin(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qe")))
      .select(col("query_id"), col("doc_id"),
        aggregate(zip_with(col("e"), col("qe"),
          (a, b) => (a.cast("double") - b.cast("double")) * (a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, v) => acc + v).as("d2"))
    val exact = ref.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("d2"), col("doc_id"))))
      .filter(col("rn") <= k).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = exact.map { case (q, ex) =>
      adc(q).intersect(ex).size.toDouble / k }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean shortlist containment of exact top-$k too low: $mean")
    // every query must at least find its own vector (distance 0 row)
    for ((q, got) <- adc) assert(got.contains(q), s"query $q lost itself")
  }

  test("codebooks round-trip through the parquet artifact bit-exactly") {
    val books = Pq.train(emb, "embedding", m = 4, ksub = 4,
      iterations = 2, sampleRows = 100)
    val path = scratch("pq")
    Pq.saveCodebooks(spark, books, path)
    val re = Pq.loadCodebooks(spark, path)
    assert(re.length === books.length)
    for (j <- books.indices) {
      assert(re(j).length === books(j).length)
      for (c <- books(j).indices)
        assert(java.util.Arrays.equals(re(j)(c), books(j)(c)),
          s"codebook ($j,$c) drifted through the artifact")
    }
  }
}
