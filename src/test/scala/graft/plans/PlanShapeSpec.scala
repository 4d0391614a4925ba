package graft.plans

import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.{CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

import graft.SparkSpec
import graft.queries.DedupQueries

/** Plan-shape guards that need their own setup: frames no query builds on
  * its own, broadcast turned off, or a run (cached blocks left behind,
  * exchanges AQE reuses only when the plan executes). Every query's own
  * shape row lives in `PlanShapes` and runs in PlanBudgetSpec.
  */
class PlanShapeSpec extends SparkSpec {

  private def checkRows(queries: Seq[String]): Unit = {
    graft.GraftExtensions.install(spark)
    queries.foreach { q =>
      val pi = graft.tools.PlanBudget.inspect(spark, sf, q)
      val broken = PlanShapes.broken(q, pi)
      if (broken.nonEmpty) fail(s"$q lost its plan shape: ${broken.mkString("; ")}\n${pi.root}")
    }
  }

  // Per-query guards: each checks the PlanShapes rows of the queries named
  // before the colon; PlanBudgetSpec checks every row on its budget plan too.
  Seq(
    "q1: aggregation is map-side partial (HashAggregate pair around exchange)",
    "q2: filters and the 5-column projection reach the parquet scan",
    "q3: dimension joins broadcast; fact pre-agg is partial before its shuffle",
    "q40: ANN ranking runs through the partial/final TopKPerKey pair, not a Window",
    "q74: the Morton key stays inside whole-stage codegen; one range exchange",
    "q76: the bucket histogram broadcasts back; masses agg is partial",
    "q79: heavy hitters run with NO token-keyed exchange",
    "q89: the BPE rewrite is the codegen'd kernel in a narrow stage",
    "q114: KMV sketches condense map-side before the group exchange",
    "q115/q117: the narrow curation kernels add no exchange before the output sort",
    "q118: quantile summary is the only grouped state; window runs post-reduction",
    "q107: the range join plans as an equi-join, never a nested loop",
    "q100/q104: dedup and novelty windows are hash-partitioned, not global",
    "q101: the encode stage is narrow — table ships as one reference, no shuffle before the sink sort",
    "q105: profiling is one scan — a single Expand, no union of scans",
    "q120: BM25 probes broadcast the query side and finish in bounded heaps",
    "q123: unigram encode is narrow — vocab rides as a reference, no shuffle before the sink sort",
    "q126: the entropy gate is one narrow codegen'd scan — no exchange before the sink sort",
    "q127: bitext forward scan broadcasts the batch; heaps bound both k-NN exchanges",
    "q129/q131/q132: the narrow kernels stay narrow",
    "q143/q144/q145: repetition gate stays narrow; shuffle and blocking never window globally",
    "q146: exact rank never windows the corpus — histogram broadcasts, ties partition by value",
    "q153: u-stats are one Expand; weights reach the pairs by broadcast",
    "q154: survivorship is partial-aggregable struct-max, no collects",
    "q156: history's index arrives as a parquet scan, never re-tokenized",
    "q163: history's LM counts arrive as a parquet scan, never re-tokenized",
    "q164: HLL registers are map-side-combined max partials; slice A arrives as a parquet scan",
    "q165: rare-first seeds broadcast; verify join is exact equi, count partial",
    "q166: wedge join keys on the intermediate node; aggregation stays partial",
    "q167: all three SCD2 windows share one user-keyed exchange",
    "q168: the whole CUSUM window stack shares one key-only exchange",
    "q170: selection rides bounded heaps; the allocation joins back broadcast",
    "q171: median/MAD is one key exchange, two in-partition sorts, zero joins",
    "q206/q207: media decode runs BELOW the key exchange — bytes never shuffle",
    "q128: edit verify blocks on an equi-join; texts stay out of the blocking shuffle"
  ).foreach { name =>
    test(name)(checkRows(name.takeWhile(_ != ':').split('/').toSeq.map(id =>
      graft.SparkEntry.queries.keys.find(_.startsWith(id + "_")).getOrElse(fail(s"no query $id")))))
  }
  test("exact dedup aggregates partially before the digest shuffle")(checkRows(Seq("q30_exact_dedup")))

  test("dedup signature stage stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val df = d.select(col("doc_id"),
      graft.functions.HashExprs.minhashSig(
        graft.dedup.Dedup.shingleHashes(col("text"), 5), 64).as("sig"))
    val pi = PlanInspect(df)
    assert(pi.codegen("minhash_sig"), s"signature projection fell out of codegen:\n${pi.root}")
  }

  test("q122: the CMS sketch build combines map-side before its only exchange") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val pi = PlanInspect(graft.ops.Cms.sketch(li, col("l_partkey"), 4, 8192))
    assert(pi.partialFinalAgg(), s"sketch build not map-side combined:\n${pi.root}")
    assert(pi.hashShuffles.size === 1, s"sketch build needs exactly one exchange:\n${pi.root}")
  }

  test("q124: PQ encode is narrow; ADC scoring broadcasts queries into the heap operator") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val books = graft.similarity.Pq.train(emb, "embedding", m = 4, ksub = 4,
      iterations = 1, sampleRows = 64)
    val coded = graft.similarity.Pq.encode(emb, "embedding", books)
    val codedPi = PlanInspect(coded)
    assert(codedPi.exchangeFree, s"PQ encode must not shuffle:\n${codedPi.root}")
    val adc = graft.similarity.Pq.adcTopK(coded, emb.filter(col("vec_id") < 2),
      "embedding", "vec_id", "vec_id", books, 3)
    val pi = PlanInspect(adc)
    assert(pi.all[TopKPerKeyExec].exists(_.partial), s"no map-side top-k:\n${pi.root}")
    assert(pi.has[BroadcastExchangeLike], s"queries not broadcast:\n${pi.root}")
  }

  test("q73: SemDeDup self-join reuses ONE assignment exchange (no persist, no leak)") {
    // pin the at-scale shape: with broadcast off, both self-join sides
    // become the same hashpartitioning(__cluster) exchange and AQE must
    // replay its shuffle files (ReusedExchange) instead of recomputing
    // the scan + normalize + argmin subtree
    withoutBroadcast {
      // delta, not global-empty: suites share one session and Bpe.train
      // returns its corpus cached by contract
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = DedupQueries.q73SemDedup(spark, sf)
      df.collect() // AQE finalizes reuse only on the executed plan
      val pi = PlanInspect(df)
      assert(pi.reused >= 1, s"cluster assignment computed twice (no exchange reuse):\n${pi.root}")
      assert(pi.usesExpr("nearest_centroid"), s"narrow argmin assignment missing:\n${pi.root}")
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
        "q73 left blocks in executor storage after materializing")
    }
  }

  /** The executed plan runs exactly one hash shuffle keyed on the postings
    * keys and explodes the corpus once: the probe (posting values) and the
    * per-term stats (df, vmax, N) read the same postings aggregate. A
    * consumer that needs fewer of its columns gets a pruned copy AQE
    * cannot reuse, and the corpus is tokenized and exploded again.
    */
  private def postingsShuffledOnce(q: String, keys: String*): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = graft.SparkEntry.queries(q)(spark, sf)
    df.collect() // AQE reuses exchanges only on the executed plan
    val pi = PlanInspect(df)
    val n = pi.hashShuffles.count(_.keys.toSet == keys.toSet)
    assert(n == 1, s"$q shuffles its postings (${keys.mkString(",")}) $n times:\n${pi.root}")
    // the corpus-side explode is the one over the tokenized `__ws` column
    val explodes = pi.all[GenerateExec].count(_.generator.references.map(_.name).toSet == Set("__ws"))
    assert(explodes == 1, s"$q tokenizes and explodes its corpus $explodes times:\n${pi.root}")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      s"$q left blocks in executor storage after materializing")
  }

  test("q69: TF-IDF builds the postings index once and leaves no cached blocks")(
    postingsShuffledOnce("q69_tfidf_search", "term", "doc_id"))

  test("q120: BM25 builds the postings index once and leaves no cached blocks")(
    postingsShuffledOnce("q120_bm25_search", "term", "doc_id", "__dl"))

  test("shared subtrees shuffle once at run time: AQE reuses the exchange the plan repeats") {
    // the un-run plan repeats these subtrees (each consumer plans its own
    // copy); the executed plan must replay one shuffle for all of them
    for ((q, key) <- Seq("q149_corpus_overlap" -> "h", "q162_transitions" -> "user_id",
        "q199_next_event" -> "user_id", "q208_doremi_step" -> "source",
        "q228_neyman_allocation" -> "lang")) {
      spark.catalog.clearCache()
      val df = graft.SparkEntry.queries(q)(spark, sf)
      df.collect()
      val pi = PlanInspect(df)
      assert(pi.hashShuffles.count(_.keys == Seq(key)) == 1, s"$q shuffles on $key more than once:\n${pi.root}")
    }
  }

  test("q113: the NB word model joins distributed when broadcast is off") {
    // the per-word model must NEVER require a broadcast (at web scale it
    // outgrows one); only the |Y|-row class table and 1-row scalars may.
    // With auto-broadcast disabled the (w, y) model join has to plan as
    // a shuffle join — if the code forced a broadcast, this would either
    // still plan BroadcastHashJoin on the model relation or fail.
    withoutBroadcast {
      val df = graft.SparkEntry.queries("q113_nb_classifier")(spark, sf)
      df.collect()
      val pi = PlanInspect(df)
      assert(!pi.has[CartesianProductExec], s"unbounded cartesian in the scoring plan:\n${pi.root}")
      assert(pi.has[SortMergeJoinExec] || pi.has[ShuffledHashJoinExec],
        s"model join did not shuffle with broadcast off:\n${pi.root}")
    }
  }
}
