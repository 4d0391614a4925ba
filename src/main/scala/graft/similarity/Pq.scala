package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Load

/** Product quantization (PQ) — the ANN STORAGE tier: split each
  * d-dim embedding into `m` subvectors, k-means each subspace to
  * `ksub` centroids, and store per vector only the m nearest-centroid
  * ids. A 64-float (256-byte) embedding compresses to m bytes
  * (m=8, ksub≤256 → 32×), which is what makes a 100 TB vector corpus
  * PROBE-able at all: codes live in memory next to the IVF list while
  * full vectors stay in cold parquet for the final re-rank. Distances
  * come from asymmetric distance computation (ADC): per query, an
  * m×ksub table of exact query-subvector↔centroid distances, then each
  * corpus vector costs m table lookups instead of d multiplies.
  *
  * Scale shape: training is the one driver-side step (bounded sample,
  * like [[Ann.ivfTrain]] — the codebook is m·ksub·(d/m) doubles);
  * encode is a NARROW per-row argmin per subspace (codebooks ride as
  * literals); ADC scoring is a broadcast of the per-query tables over
  * a linear scan of the codes, finished by the bounded-heap
  * [[graft.plans.TopKPerKey]] — no shuffle touches the corpus beyond
  * the final ≤ k·partitions rows per query.
  *
  * The driver gate (q124) runs the INTEGER twin of this path: vectors
  * quantized to 2⁻¹⁶ fixed point (the q110 discipline) against planted
  * integer codebooks, so codes, ADC and exact distances replay
  * bit-for-bit in SQL. The float path below is the production tier,
  * spec'd by recall against brute force ([[PqSpec]]).
  */
object Pq {

  /** Codebooks: subspace j → centroid c → subvector (d/m doubles). */
  type Codebooks = Array[Array[Array[Double]]]

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Train per-subspace codebooks: one bounded uniform sample of the
    * corpus (the [[Ann.ivfTrain]] sampling discipline), then an
    * independent driver-side k-means per subspace slice.
    */
  def train(corpus: DataFrame, vecCol: String, m: Int, ksub: Int,
      iterations: Int = 5, sampleRows: Int = 2000,
      seed: Long = 42L): Codebooks = {
    val base = corpus.select(col(vecCol))
    val n = base.count()
    require(n > 0, "Pq.train: empty corpus")
    val fraction = math.min(1.0, (sampleRows * 1.25 + 64.0) / n.toDouble)
    val rows =
      if (fraction >= 1.0) base.collect()
      else base.sample(withReplacement = false, fraction, seed).collect()
    val sample = new scala.util.Random(seed).shuffle(rows.toVector)
      .take(sampleRows)
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toArray
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var centroids: Array[Array[Double]] = sub
        .grouped(math.max(1, sub.length / ksub)).map(_.head).take(ksub).toArray
      for (_ <- 0 until iterations) {
        val sums = Array.fill(centroids.length)(new Array[Double](dsub))
        val counts = new Array[Int](centroids.length)
        sub.foreach { v =>
          val best = centroids.indices.minBy(i => l2sq(centroids(i), v))
          counts(best) += 1
          var d = 0
          while (d < dsub) { sums(best)(d) += v(d); d += 1 }
        }
        centroids = centroids.indices.map { i =>
          if (counts(i) == 0) centroids(i)
          else sums(i).map(_ / counts(i))
        }.toArray
      }
      centroids
    }
  }

  /** Append `codes` (array<int>, one nearest-centroid id per subspace)
    * — a narrow map via the same one-pass argmin kernel the IVF tier
    * uses, once per subspace slice.
    */
  def encode(df: DataFrame, vecCol: String, books: Codebooks): DataFrame = {
    val dsub = books(0)(0).length
    val codeCols = books.indices.map { j =>
      coalesce(graft.functions.VectorExprs.nearestCentroid(
        slice(col(vecCol), j * dsub + 1, dsub), books(j)), lit(-1))
    }
    df.withColumn("codes", array(codeCols: _*))
  }

  /** ADC top-k: per query, the m×ksub distance table is computed ONCE
    * (exact query-subvector↔centroid L2), broadcast with the query,
    * and each corpus row pays m lookups. Output: (query_id, doc_id,
    * adc_dist) — ascending distance top-k, ties by doc_id.
    */
  def adcTopK(codes: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, qidCol: String, books: Codebooks, k: Int): DataFrame = {
    val dsub = books(0)(0).length
    // per-subspace array of distances from the query's j-th slice to
    // every centroid — a literal-codebook aggregate, query-side only
    val tableCol = array(books.indices.map { j =>
      val sub = slice(col(vecCol), j * dsub + 1, dsub)
      array(books(j).map { c =>
        val cl = array(c.map(lit): _*)
        aggregate(zip_with(sub, cl, (a, b) => (a.cast(DoubleType) - b) * (a.cast(DoubleType) - b)),
          lit(0.0), (acc, v) => acc + v)
      }: _*)
    }: _*)
    val q = queries.select(col(qidCol).cast(LongType).as("query_id"),
      tableCol.as("__tbl"))
    val scored = codes
      .select(col(idCol).cast(LongType).as("doc_id"), col("codes"))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("doc_id"),
        aggregate(
          zip_with(col("codes"), col("__tbl"),
            (code, tbl) => element_at(tbl, code + 1)),
          lit(0.0), (acc, v) => acc + v).as("adc_dist"))
    graft.plans.TopKPerKey.topK(scored, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.Sort("adc_dist"),
        graft.plans.TopKPerKey.Sort("doc_id")), k)
  }

  /** Persist codebooks as a parquet artifact (subspace, id, vec) — the
    * [[Ann.saveCentroids]] shape with a subspace column.
    */
  def saveCodebooks(spark: org.apache.spark.sql.SparkSession,
      books: Codebooks, path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cs, j) =>
      cs.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
    }.toSeq.toDF("subspace", "id", "vec")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveCodebooks]] artifact (order restored by ids). */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Codebooks =
    Load.parquet(spark, path)
      .select("subspace", "id", "vec").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }.toArray
}
