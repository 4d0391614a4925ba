package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Load

/** Similarity search over an embedding column (`array<float>`).
  *
  * Tiers:
  *  - brute-force cosine top-k: exact baseline. Query side broadcast, one
  *    narrow pass over the corpus, per-query top-k via window rank. Scales
  *    linearly in corpus size — right answer for ≤ thousands of queries.
  *  - random-hyperplane LSH (SRP) bucketed: corpus is bucketed by sign
  *    bits of random projections; a query only scans its bucket(s). The
  *    100 TB path: bucket key is the shuffle/partition key, probing is a
  *    co-partitioned join, never a cross join.
  *  - IVF (k-means-lite coarse quantizer): centroids fit on the driver,
  *    assignment is a broadcast argmin — nprobe closest lists scanned.
  */
object Ann {

  /** Cosine similarity between two float-array columns, computed in
    * double — the native one-pass kernel (dot + both norms in a single
    * traversal, bit-identical fold order to the builtin `aggregate`
    * formulation it replaced, so q40's DuckDB hash-equality holds).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosineSim(a, b)

  /** All (query, neighbor, cosine) scores — the scoring stage shared by
    * the window and TopKPerKey ranking variants. `queries` must already
    * carry (query_id, __qv) and be broadcast-sized.
    */
  def bruteForceScores(corpus: DataFrame, queries: DataFrame, idCol: String): DataFrame = {
    val c = graft.ops.Par.fanOut(corpus)
      .select(col(idCol).as("neighbor_id"), col("embedding").as("__cv"))
    c.crossJoin(queries)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("sim"))
  }

  /** Exact brute-force top-k neighbors for each query row.
    * `queries` must be small (broadcast); corpus may be arbitrarily large.
    * Returns (query_id, neighbor_id, sim, rank), rank 1..k, ties broken by
    * neighbor id for determinism.
    *
    * Ranking runs through the TopKPerKey physical operator: map-side
    * bounded heaps cut each scan partition to ≤ k rows per query before
    * the key shuffle, so the exchange moves `partitions × queries × k`
    * rows, not the full n×q score matrix. The window formulation this
    * replaces (kept bit-identical by TopKPerKeySpec) sorts every
    * per-query group in full after shuffling all scores.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val c = graft.ops.Par.fanOut(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(q)
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("sim"))
      .withColumn("__negSim", -col("sim"))
    val top = graft.plans.TopKPerKey.topK(scored, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.Sort("__negSim"), graft.plans.TopKPerKey.Sort("neighbor_id")), k)
    // rank the ≤k survivors per key — a window over k rows per group
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w)).drop("__negSim")
  }

  /** Contrastive hard-negative mining: for each query, the k most
    * SIMILAR corpus items with a DIFFERENT label, excluding the
    * near-duplicate band (sim ≥ dupCeiling — an almost-identical vector
    * under another label is a labeling error or an unflagged duplicate,
    * and training on it as a negative teaches the model noise). This is
    * the negative-sampling stage of contrastive/embedding training data
    * prep (e.g. dense-retriever mining à la DPR): the highest-similarity
    * non-matches are exactly the pairs the model learns most from.
    *
    * Same scale shape as [[bruteForceTopK]]: queries broadcast, corpus
    * scanned once, label filter and similarity ceiling applied BEFORE
    * the TopKPerKey bounded heaps, so the exchange moves ≤ partitions ×
    * queries × k rows regardless of corpus size.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int,
      dupCeiling: Double = 0.99): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), col(labelCol).as("__ql")))
    val c = graft.ops.Par.fanOut(corpus).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), col(labelCol).as("__cl"))
    val scored = c.crossJoin(q)
      .filter(col("__cl") =!= col("__ql"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("sim"))
      .filter(col("sim") < dupCeiling)
      .withColumn("__negSim", -col("sim"))
    val top = graft.plans.TopKPerKey.topK(scored, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.Sort("__negSim"),
        graft.plans.TopKPerKey.Sort("neighbor_id")), k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w)).drop("__negSim")
  }

  /** Two-tier exact-ish top-k: tier 1 scores int8-QUANTIZED codes
    * (Embeddings.quantizeInt8 — 4× less data through the scan) and keeps
    * `candidateFactor × k` candidates per query via TopKPerKey; tier 2
    * re-scores ONLY those candidates with exact float cosine. The
    * production shape when the quantized corpus is the stored artifact
    * and float vectors are fetched for finalists.
    */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      candidateFactor: Int = 4): DataFrame = {
    import graft.functions.VectorExprs.cosineSim
    import graft.similarity.{Embeddings => E}
    // tier 1: ONLY the quantized codes travel (the 4× smaller artifact a
    // stored corpus would scan); float vectors do not enter this stage
    val q8 = broadcast(queries.select(col(idCol).as("query_id"),
      E.quantizeInt8(col(vecCol)).as("__qq")))
    val c8 = graft.ops.Par.fanOut(corpus)
      .select(col(idCol).as("neighbor_id"), E.quantizeInt8(col(vecCol)).as("__cq"))
    val coarse = c8.crossJoin(q8)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        E.cosineInt8(col("__qq"), col("__cq")).as("sim8"))
      .withColumn("__negSim8", -col("sim8"))
    val cands = graft.plans.TopKPerKey.topK(coarse, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.Sort("__negSim8"),
        graft.plans.TopKPerKey.Sort("neighbor_id")), k * candidateFactor)
    // tier 2: fetch float vectors for the ≤ queries×k×factor candidates
    // only (the tiny cands side broadcasts into the corpus fetch)
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val rescored = cands.select("query_id", "neighbor_id")
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("__qv"), col("__cv")).as("sim"))
      .withColumn("__negSim", -col("sim"))
    val top = graft.plans.TopKPerKey.topK(rescored, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.Sort("__negSim"),
        graft.plans.TopKPerKey.Sort("neighbor_id")), k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w)).drop("__negSim")
  }

  /** Deterministic random unit-ish hyperplanes: component h of plane p is
    * a fixed hash of (p, h) mapped to [-1, 1]. Same planes on every call —
    * reproducible across jobs (no RNG state, safe for resume/retries).
    */
  private def planeComponent(p: Int, h: Int): Double = {
    var x = p.toLong * 0x9E3779B97F4A7C15L + h.toLong * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 30)) * 0x94D049BB133111EBL
    x = x ^ (x >>> 31)
    (x.toDouble / Long.MaxValue.toDouble)
  }

  /** Signed-random-projection bucket id: one bit per hyperplane (sign of
    * dot product), packed into a long. nBits planes → 2^nBits buckets.
    * Native one-pass kernel; the plane matrix (same deterministic
    * components as always) is one literal argument of the kernel call.
    */
  def srpBucket(vec: Column, dim: Int, nBits: Int = 8): Column = {
    val planes = Array.tabulate(nBits, dim)((p, h) => planeComponent(p, h))
    graft.functions.VectorExprs.srpBucket(vec, planes)
  }

  /** LSH-bucketed ANN: corpus pre-bucketed by SRP code; each query probes
    * only its own bucket (multi-probe = flip each single bit). Recall is
    * approximate; rank/sim within probed set is exact.
    */
  def srpTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      nBits: Int = 8,
      multiProbe: Boolean = true): DataFrame = {
    val c = graft.ops.Par.fanOut(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("bucket", srpBucket(col("__cv"), dim, nBits))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__b0", srpBucket(col("__qv"), dim, nBits))
    // probe set: own bucket + each 1-bit flip neighbor bucket
    val probes =
      if (multiProbe)
        array((lit(0L) +: (0 until nBits).map(b => lit(1L << b))).map(m =>
          col("__b0").bitwiseXOR(m)): _*)
      else array(col("__b0"))
    val q = qBase.withColumn("bucket", explode(probes)).drop("__b0")
    val scored = c.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("sim"))
      // no (query, neighbor) dups possible: the probe buckets of one query
      // are distinct values, and a corpus row carries exactly one bucket
      .withColumn("__negSim", -col("sim"))
    val top = graft.plans.TopKPerKey.topK(scored, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.Sort("__negSim"), graft.plans.TopKPerKey.Sort("neighbor_id")), k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w)).drop("__negSim")
  }

  /** IVF training: sample + iterate k-means on the driver — the centroid
    * table is tiny (nLists × dim doubles) and training data is a bounded
    * sample, so this is the one legitimately driver-side step.
    *
    * The sample is a seeded UNIFORM `df.sample` over the whole corpus, not
    * a `limit` of the first rows: on a corpus stored sorted or clustered
    * (the common layout after a bucketed write) first-rows training sees
    * only a few clusters and recall collapses. One extra `count()` job
    * prices the fraction; both jobs scan only the vector column.
    */
  def ivfTrain(
      corpus: DataFrame,
      vecCol: String,
      nLists: Int,
      iterations: Int = 5,
      sampleRows: Int = 2000,
      seed: Long = 42L): Array[Array[Double]] = {
    val base = corpus.select(col(vecCol))
    val n = base.count()
    require(n > 0, "ivfTrain: empty corpus")
    // oversample ~25% so Bernoulli variance rarely undershoots the target;
    // the driver-side take() trims back to exactly sampleRows
    val fraction = math.min(1.0, (sampleRows * 1.25 + 64.0) / n.toDouble)
    val rows =
      if (fraction >= 1.0) base.collect()
      else base.sample(withReplacement = false, fraction, seed).collect()
    // driver-side seeded shuffle: decorrelates the k-means init (strided
    // pick below) from partition order, deterministic across runs
    val sample = new scala.util.Random(seed).shuffle(rows.toVector)
      .take(sampleRows)
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toArray
    val dim = sample.head.length
    var centroids: Array[Array[Double]] = sample
      .grouped(math.max(1, sample.length / nLists)).map(_.head).take(nLists).toArray
    for (_ <- 0 until iterations) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        val best = centroids.indices.minBy(i => l2sq(centroids(i), v))
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
      }
      centroids = centroids.indices.map { i =>
        if (counts(i) == 0) centroids(i)
        else sums(i).map(_ / counts(i))
      }.toArray
    }
    centroids
  }

  /** Squared L2 distance of a vector column to a literal centroid. */
  private def l2ToCentroid(vec: Column, centroid: Array[Double]): Column = {
    val c = array(centroid.map(lit): _*)
    aggregate(zip_with(vec, c, (a, b) => (a.cast(DoubleType) - b) * (a.cast(DoubleType) - b)),
      lit(0.0), (acc, v) => acc + v)
  }

  /** Nearest-centroid list id as a NARROW column expression — the native
    * one-pass argmin kernel (the centroid matrix is one literal argument
    * of the kernel call): no crossJoin row explosion, no argmin shuffle.
    *
    * Wrapped in `coalesce(..., -1)` to make the result NON-NULLABLE:
    * every caller joins on this column, and a nullable join key makes
    * InferFiltersFromConstraints add `isnotnull(nearest_centroid(...))`,
    * which pushdown then duplicates below the projection — re-evaluating
    * the whole normalize+argmin per row a second time, all the way into
    * the parquet DataFilters (measured 1.6× on q73 end to end). A null
    * vector maps to sentinel list -1, which no real probe list ever
    * equals, and a -1/-1 self-join match dies at the cosine-on-null
    * filter — semantics identical to the null key's inner-join drop.
    */
  def ivfListId(vec: Column, centroids: Array[Array[Double]]): Column =
    coalesce(graft.functions.VectorExprs.nearestCentroid(vec, centroids),
      lit(-1))

  /** IVF coarse quantizer: train on the driver, assign via the narrow
    * argmin expression. Returns the corpus plus `list_id` — the partition
    * key for co-located probing (at scale: write bucketed by list_id).
    */
  def ivfAssign(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      iterations: Int = 5,
      sampleRows: Int = 2000): DataFrame = {
    val centroids = ivfTrain(corpus, vecCol, nLists, iterations, sampleRows)
    corpus.withColumn("list_id", ivfListId(col(vecCol), centroids))
  }

  /** IVF-probed approximate top-k: each query scans only the `nprobe`
    * inverted lists whose centroids are closest to it. The corpus shuffle
    * key is list_id (at 100 TB the corpus is stored bucketed by list_id
    * and this join is co-located, reading only probed buckets); ranking
    * runs through the TopKPerKey bounded-heap operator.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int = 16,
      nprobe: Int = 4,
      iterations: Int = 5,
      sampleRows: Int = 2000): DataFrame = {
    val centroids = ivfTrain(corpus, vecCol, nLists, iterations, sampleRows)
    ivfTopKWithCentroids(corpus, queries, idCol, vecCol, k, centroids, nprobe)
  }

  /** Persist a trained coarse quantizer as a parquet artifact
    * (list_id, centroid) — the cross-run ANN pattern matching
    * [[graft.dedup.Dedup.buildSignatureIndex]]: train once, reload for
    * every later probe run. At scale the ASSIGNED corpus is also written
    * bucketed by list_id ([[graft.ops.Bucketing]]) so reload-probes
    * co-locate and read only the probed buckets.
    */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveCentroids]] artifact (list order restored by id). */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Double]] =
    Load.parquet(spark, path).orderBy("list_id").collect()
      .map(_.getSeq[Double](1).toArray)

  /** [[ivfTopK]] against an ALREADY-TRAINED (e.g. reloaded) quantizer. */
  def ivfTopKWithCentroids(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[Array[Double]],
      nprobe: Int = 4): DataFrame = {
    val c = graft.ops.Par.fanOut(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("list_id", ivfListId(col("__cv"), centroids))
    // nprobe closest lists per query: literal distance array, sorted as
    // (dist, list) structs — narrow, no shuffle on the (small) query side
    val dists = array(centroids.zipWithIndex.map { case (cent, i) =>
      struct(l2ToCentroid(col("__qv"), cent).as("d"), lit(i).as("l"))
    }: _*)
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
        .withColumn("list_id",
          explode(transform(slice(array_sort(dists), 1, nprobe), s => s.getField("l")))))
    val scored = c.join(q, Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("sim"))
      .withColumn("__negSim", -col("sim"))
    val top = graft.plans.TopKPerKey.topK(scored, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.Sort("__negSim"), graft.plans.TopKPerKey.Sort("neighbor_id")), k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w)).drop("__negSim")
  }

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
}
