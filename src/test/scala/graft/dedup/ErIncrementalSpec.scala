package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.DedupQueries

/** q236's incremental-ER contract beyond the driver's full-recompute
  * oracle: the oracle proves the OUTPUT is indistinguishable from a
  * from-scratch q235 run, but not that the incremental machinery was
  * actually exercised. This spec pins that the corpus split makes all
  * three generation-transition paths REAL on the test corpus:
  *
  *   - carried pairs (patterns reused, no field re-comparison) exist;
  *   - new pairs exist AND every one touches the delta — an insert-only
  *     ingest can never create a history-history candidate (head blocks
  *     only grow toward the prune cap; SNM offsets only grow), so a
  *     history-history "new" pair would mean the carry logic leaks
  *     re-comparisons;
  *   - removed candidates exist (hot-block crossings / SNM rank shifts)
  *     — the decremental path that invalidates cluster stars;
  *   - some generation-0 golden rows survive verbatim (reuse is real)
  *     while others are recomputed (touch detection is real).
  */
class ErIncrementalSpec extends SparkSpec {

  test("q236 equals q235 row-for-row and exercises carry/new/remove") {
    val full = DedupQueries.q235DedupPipeline(spark, sf)
      .collect().map(_.toSeq).toSeq
    val inc = DedupQueries.q236IncrementalEr(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(full == inc, s"incremental drift: ${inc.size} vs ${full.size} rows")

    val base = DedupQueries.buildErGeneration(spark, sf)
    val candH = spark.read.parquet(s"$base/candidates")
      .select("id_a", "id_b")
    val records = DedupQueries.fsRecords(spark, sf)
    val candM = DedupQueries.fsBlockCandidates(records, DedupQueries.ErKeys)
      .select("id_a", "id_b").persist()

    val carried = candM.join(candH, Seq("id_a", "id_b")).count()
    val fresh = candM.join(candH, Seq("id_a", "id_b"), "left_anti").persist()
    val removedCand = candH.join(candM, Seq("id_a", "id_b"), "left_anti").count()
    assert(carried > 0, "no carried candidates — split degenerate")
    assert(fresh.count() > 0, "no new candidates — delta invisible")
    assert(removedCand > 0,
      "no removed candidates — the decremental path is untested here")

    // every new pair must touch the delta (insert-only monotonicity)
    val histIds = records.filter(!DedupQueries.erIsDelta)
      .select(col("doc_id"))
    val histHist = fresh
      .join(histIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(histIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
        "left_semi")
      .count()
    assert(histHist == 0,
      s"$histHist history-history pairs scored as NEW — carry leak")

    // golden-row reuse vs recompute both happen: compare generation-0
    // golden rows with the final output by cluster id
    val goldenH = spark.read.parquet(s"$base/golden")
      .select("cluster_id", "n_members").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = full.map(r =>
      r.head.asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
    val same = out.count { case (c, n) => goldenH.get(c).contains(n) }
    assert(same > 0, "no generation-0 cluster survived — reuse untested")
    assert(same < out.size, "every cluster unchanged — touch detection untested")

    candM.unpersist(); fresh.unpersist()
    spark.catalog.clearCache()
  }

  test("q243 equals q242 and the carry paths are real on the payload corpus") {
    // the payload-heavy pair (round-12 verdict #1's measured
    // demonstration): output equality is the driver's oracle; here we
    // pin that the split exercises carry/new on the widened window AND
    // that no history-history pair is ever scored as new — the
    // structural guarantee that the levenshtein pass (which only the
    // erpFlag'd NEW-pair branch contains) never touches history pairs
    val full = DedupQueries.q242ErPayloadFull(spark, sf)
      .collect().map(_.toSeq).toSeq
    val inc = DedupQueries.q243ErPayloadIncremental(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(full == inc,
      s"payload incremental drift: ${inc.size} vs ${full.size} rows")

    val base = DedupQueries.buildErPayloadGeneration(spark, sf)
    val candH = spark.read.parquet(s"$base/candidates")
      .select("id_a", "id_b")
    val records = DedupQueries.fsPayloadRecords(spark, sf)
    val candM = DedupQueries.fsBlockCandidates(records, DedupQueries.ErPayload)
      .select("id_a", "id_b").persist()
    val carried = candM.join(candH, Seq("id_a", "id_b")).count()
    val fresh = candM.join(candH, Seq("id_a", "id_b"), "left_anti").persist()
    assert(carried > 0, "no carried payload candidates — split degenerate")
    assert(fresh.count() > 0, "no new payload candidates — delta invisible")
    val histIds = records.filter(!DedupQueries.erIsDelta)
      .select(col("doc_id"))
    val histHist = fresh
      .join(histIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(histIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
        "left_semi")
      .count()
    assert(histHist == 0,
      s"$histHist history-history pairs would re-pay levenshtein")
    candM.unpersist(); fresh.unpersist()
    spark.catalog.clearCache()
  }

  test("q240: two chained generation merges equal one from-scratch run") {
    // the induction step: night 1's ROLLED artifacts feed night 2's
    // merge, and the composition must be indistinguishable from q235 on
    // the full corpus — the fixpoint that lets the pipeline run
    // incrementally forever
    val full = DedupQueries.q235DedupPipeline(spark, sf)
      .collect().map(_.toSeq).toSeq
    val twoGen = DedupQueries.q240IncrementalEr2Gen(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(full == twoGen,
      s"generation composition drift: ${twoGen.size} vs ${full.size} rows")
    // the rolled generation-1 artifact set is complete (the next merge's
    // whole input contract)
    val g1 = DedupQueries.buildErGenerations2(spark, sf)
    for (a <- Seq("fields", "value_counts", "candidates", "labels", "golden",
        "snm_rank", "snm_hist"))
      assert(new java.io.File(s"$g1/$a").exists(), s"missing rolled $a")
    // and the rolled candidates carry the patterns the NEXT merge
    // re-scores from
    val cand = spark.read.parquet(s"$g1/candidates")
    for (c <- Seq("agree_lang", "agree_source", "agree_head", "agree_lenb"))
      assert(cand.columns.contains(c), s"rolled candidates lack $c")
    spark.catalog.clearCache()
  }

  for ((probe, spec) <- Seq("probe" -> DedupQueries.ErKeys,
      "payload probe" -> DedupQueries.ErPayload))
    test(s"the $probe ranks from the maintained SNM index, never the corpus") {
      // round-12 verdict #4's pin: with the index artifact removed, the
      // merge must FAIL — a probe that silently succeeded would be
      // re-ranking history from raw values (the corpus-wide pass the
      // maintained index exists to eliminate). The bit-level carry
      // contract lives in ExactRankMergeSpec (poisoned-rank test).
      val base = scratch(s"er_noidx_${probe.replace(' ', '_')}")
      DedupQueries.writeErScoring(spark, spec, sf, base,
        !DedupQueries.erIsDelta).unpersist()
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete()
      }
      rmrf(new java.io.File(s"$base/snm_rank"))
      val delta = spec.records(spark, sf).filter(DedupQueries.erIsDelta)
      val ex = intercept[Exception] {
        DedupQueries.erMerge(spark, spec, base, delta).scored
          .write.format("noop").mode("overwrite").save()
      }
      assert(ex.getMessage.contains("snm_rank") ||
        ex.toString.contains("PATH_NOT_FOUND") ||
        ex.toString.contains("Path does not exist"),
        s"unexpected failure mode: $ex")
      rmrf(new java.io.File(base))
      spark.catalog.clearCache()
    }
}
