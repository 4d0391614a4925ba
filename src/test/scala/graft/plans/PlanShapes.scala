package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.expressions.{Or, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.{FullOuter, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, GenerateExec, MapPartitionsExec, RDDScanExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.BinaryType

/** What makes each query scale, as checks on its physical plan tree.
  * PlanBudgetSpec runs a query's row on the plan its budget test has
  * just built (un-run, from a cold cache). Rows are keyed by query name.
  */
object PlanShapes {
  import PlanInspect.Node

  final case class Shape(what: String, holds: PlanInspect => Boolean)

  /** The checks of query `name`'s row that its plan fails. */
  def broken(name: String, pi: PlanInspect): Seq[String] =
    rows.getOrElse(name, Nil).filterNot(_.holds(pi)).map(_.what)

  private def cls[T](implicit t: ClassTag[T]): String = t.runtimeClass.getSimpleName.stripSuffix("Exec")
  private def is[T](p: AnyRef)(implicit t: ClassTag[T]): Boolean = t.runtimeClass.isInstance(p)
  private def any(what: String)(pf: PartialFunction[Node, Boolean]) =
    Shape(what, _.nodes.exists(pf.applyOrElse(_, (_: Node) => false)))
  private def every(what: String)(pf: PartialFunction[Node, Boolean]) =
    Shape(what, _.nodes.forall(pf.applyOrElse(_, (_: Node) => true)))
  private def evaluates(n: Node, e: String) = n.plan.expressions.exists(_.exists(_.prettyName == e))
  private def keys(pi: PlanInspect) = pi.hashShuffles.map(_.keys.toSet)

  private def has[T <: SparkPlan: ClassTag] = Shape(s"has ${cls[T]}", _.has[T])
  private def no[T <: SparkPlan: ClassTag] = Shape(s"no ${cls[T]}", !_.has[T])
  private def atLeast[T <: SparkPlan: ClassTag](n: Int) = Shape(s">= $n ${cls[T]}", _.all[T].size >= n)
  private def exactly[T <: SparkPlan: ClassTag](n: Int) = Shape(s"exactly $n ${cls[T]}", _.all[T].size == n)
  private val sinkOnly = Shape("no shuffle below the sink sort", _.narrowBelowSinkSort)
  private def partial(fn: String = "") = Shape(s"partial/final $fn aggregate pair", _.partialFinalAgg(fn))
  private def codegen(e: String) = Shape(s"$e inside whole-stage codegen", _.codegen(e))
  private def uses(e: String) = Shape(s"uses $e", _.usesExpr(e))
  private def noFallback(e: String) = Shape(s"$e present, never a CodegenFallback", pi => pi.usesExpr(e) &&
    !pi.nodes.exists(_.plan.expressions.exists(_.exists(x => x.prettyName == e && is[CodegenFallback](x)))))
  /** Some build side reads `table`, and none reads `not`. */
  private def broadcasts(table: String, not: String = "") = Shape(s"$table broadcasts, $not never", { pi =>
    val sides = pi.broadcastSides.map(PlanInspect(_))
    sides.exists(scanNamed(_, table).nonEmpty) && (not.isEmpty || !sides.exists(scanNamed(_, not).nonEmpty))
  })
  private val broadcast = Shape("some side broadcasts", _.has[BroadcastExchangeLike])
  private val noProduct = Shape("no CartesianProduct or nested-loop join",
    pi => !pi.has[CartesianProductExec] && !pi.has[BroadcastNestedLoopJoinExec])

  private def keyed(cols: String*) = Shape(s"a hash shuffle on (${cols.mkString(",")})", keys(_).contains(cols.toSet))
  private def keyedOnce(cols: String*) =
    Shape(s"one hash shuffle on (${cols.mkString(",")})", keys(_).count(_ == cols.toSet) == 1)
  private def hashShuffles(n: Int) = Shape(s"exactly $n hash shuffles", _.hashShuffles.size == n)
  private def noHashOn(col: String) = Shape(s"no hash shuffle on $col", !keys(_).exists(_.contains(col)))
  private def keysWithin(cols: String*) = Shape(s"hash shuffles only on ${cols.mkString(",")}",
    keys(_).forall(_.forall(cols.contains)))
  private val noTextShuffled = Shape("no hash shuffle moves the text",
    !_.hashShuffles.exists(_.columns.exists(c => c == "text" || c == "__t")))
  private def partitioned(what: String)(p: Partitioning => Boolean) =
    any(what) { case Node(e: ShuffleExchangeLike, _) => p(e.outputPartitioning) }
  private val rangeShuffle = partitioned("a range shuffle")(_.isInstanceOf[RangePartitioning])
  private val singlePartition = partitioned("a single-partition gather")(_ == SinglePartition)
  private def exchangesAtMost(n: Int) = Shape(s"at most $n exchanges", pi => pi.all[Exchange].size + pi.reused <= n)
  private val noBlobShuffled = every("no shuffle moves a binary column") {
    case Node(e: ShuffleExchangeLike, _) => !e.output.exists(_.dataType == BinaryType)
  }

  private def windowsBy(col: String) = Shape(s"every window partitions by $col",
    pi => pi.windowKeys.nonEmpty && pi.windowKeys.forall(_.contains(col)))
  private def aWindowBy(col: String) = Shape(s"a window partitioned by $col", _.windowKeys.exists(_.contains(col)))
  private val noGlobalWindow = Shape("every window is partitioned", _.windowKeys.forall(_.nonEmpty))
  private val globalWindowsBroadcast = every("unpartitioned windows only on a broadcast side") {
    case Node(w: WindowExec, up) if w.partitionSpec.isEmpty => up.exists(is[BroadcastExchangeLike])
  }
  private val noGlobalSort = Shape("no global sort", !_.all[SortExec].exists(_.global))
  private val topK = any("TopKPerKeyPartial under a shuffle under TopKPerKey") {
    case Node(t: TopKPerKeyExec, up) if t.partial =>
      up.dropWhile(!is[ShuffleExchangeLike](_)).exists { case f: TopKPerKeyExec => !f.partial; case _ => false }
  }
  private val heap = Shape("the TopK heap pair", _.all[TopKPerKeyExec].map(_.partial).distinct.size == 2)

  private def joinOf(jt: JoinType) = Shape(s"a $jt join", _.all[BaseJoinExec].exists(_.joinType == jt))
  /** Every `jt` broadcast hash join streams an unshuffled side. */
  private def streamedNarrow(jt: JoinType) = Shape(s"$jt broadcast join streams an unshuffled side",
    _.all[BroadcastHashJoinExec].filter(_.joinType == jt) match {
      case Seq() => false
      case js => js.forall(j => PlanInspect(if (j.buildSide == BuildLeft) j.right else j.left).shuffles == 0)
    })
  private def joinsUnder[A <: SparkPlan: ClassTag](n: Int) = Shape(s">= $n joins under ${cls[A]}",
    _.nodes.count(x => is[BaseJoinExec](x.plan) && x.ancestors.exists(is[A])) >= n)
  private val noUdf = Shape("no Scala UDF", !_.nodes.exists(_.plan.expressions.exists(_.exists(is[ScalaUDF]))))
  private val noDistinctAgg =
    Shape("no DISTINCT aggregate", !_.all[BaseAggregateExec].exists(_.aggregateExpressions.exists(_.isDistinct)))

  private def scanNamed(pi: PlanInspect, name: String) =
    pi.scans.filter(_.relation.location.rootPaths.exists(_.toString.contains(name)))
  private def reads(name: String) = Shape(s"scans $name", scanNamed(_, name).nonEmpty)
  private def notReads(name: String) = Shape(s"never scans $name", scanNamed(_, name).isEmpty)
  private val scansOnce = Shape("at most one file scan", _.scans.size <= 1)
  /** A scan's `dataFilters` are what it pushes down (its `PushedFilters`). */
  private def pushed(table: String, cols: String*) = Shape(s"$table scan pushes filters on ${cols.mkString(",")}",
    scanNamed(_, table).exists(s => s.dataFilters.nonEmpty &&
      cols.forall(s.dataFilters.flatMap(_.references.map(_.name)).contains)))
  private def pushesOr(table: String) = Shape(s"$table scan pushes an OR filter",
    scanNamed(_, table).exists(_.dataFilters.exists(is[Or])))
  private def readsWithout(table: String, col: String) = Shape(s"$table scan never reads $col",
    pi => scanNamed(pi, table).nonEmpty && scanNamed(pi, table).forall(!_.requiredSchema.fieldNames.contains(col)))
  private def readsFormat(table: String, format: String) =
    Shape(s"$table scanned as $format", scanNamed(_, table).exists(_.relation.fileFormat.toString == format))

  private def afterShuffles(e: String) = Shape(s"$e evaluated only above shuffles", pi => pi.usesExpr(e) &&
    pi.nodes.forall(n => !evaluates(n, e) || !n.ancestors.exists(is[ShuffleExchangeLike])))
  private def exprUnder[A <: SparkPlan: ClassTag](e: String) =
    Shape(s"$e under ${cls[A]}", _.nodes.exists(n => evaluates(n, e) && n.ancestors.exists(is[A])))
  /** Decoding runs before any counted shuffle sees the rows. */
  private val decodeBelowShuffles = Shape("no shuffle below a MapPartitions decode", pi =>
    pi.has[MapPartitionsExec] &&
      !pi.nodes.exists(n => PlanInspect.counted(n.plan) && n.ancestors.exists(is[MapPartitionsExec])))
  private val decodeUnderHashShuffle = every("every MapPartitions decode under a hash shuffle") {
    case Node(_: MapPartitionsExec, up) =>
      up.exists { case e: ShuffleExchangeLike => e.outputPartitioning.isInstanceOf[HashPartitioning]; case _ => false }
  }
  private def aggUnderWindowBy(col: String) = any(s"a $col-grouped aggregate feeds a Window") {
    case Node(a: BaseAggregateExec, up) => a.groupingExpressions.exists(_.name == col) && up.exists(is[WindowExec])
  }

  // narrow pipelines (the second group also explodes in-row): only the sink sort shuffles
  val rows: Map[String, Seq[Shape]] = Seq(
    "q14_links", "q15_recode", "q19_validate_units", "q22_lang_id", "q23_repetition", "q28_zotero_shape",
    "q38_transpose_sheet", "q39_xlsx_roundtrip", "q68_quality_rules", "q70_judges_events", "q95_sitemap",
    "q124_pq_codes", "q200_iban_audit", "q219_vocab_prune"
  ).map(_ -> Seq(sinkOnly)).toMap ++ Seq(
    "q64_chunk_windows", "q87_vocab_encode", "q189_chunking"
  ).map(_ -> Seq(sinkOnly, has[GenerateExec])).toMap ++ Map(
    "q1_agg" -> Seq(partial(), atLeast[HashAggregateExec](2), hashShuffles(1)),
    "q2_filter_project" -> Seq(pushed("lineitem", "l_quantity", "l_discount"),
      readsWithout("lineitem", "l_shipdate"), sinkOnly),
    "q3_join" -> Seq(broadcasts("nation", "lineitem"), broadcasts("customer", "lineitem"),
      atLeast[HashAggregateExec](4), partial(),
      Shape("fact pre-aggregates below a broadcast join", _.hasUnder[HashAggregateExec, BroadcastHashJoinExec]),
      noDistinctAgg),
    "q4_join_self" -> Seq(keyedOnce("l_orderkey"), hashShuffles(1), partial()),
    "q5_window" -> Seq(heap),
    "q6_dedup_suffix" -> Seq(hashShuffles(1), noGlobalWindow, no[BaseJoinExec]),
    "q7_forward_fill" -> Seq(keyedOnce("user_id"), windowsBy("user_id"), no[BaseJoinExec]),
    "q8_unpivot" -> Seq(has[ExpandExec], sinkOnly),
    "q9_concatenate" -> Seq(has[UnionExec], sinkOnly),
    "q10_doc_id" -> Seq(codegen("md5"), sinkOnly),
    "q11_set_type" -> Seq(sinkOnly, noUdf),
    "q12_year_expand" -> Seq(has[GenerateExec], no[BaseJoinExec], sinkOnly),
    "q13_explode_dedup" -> Seq(has[GenerateExec], partial(), keyedOnce("token")),
    "q16_scd_merge" -> Seq(exactly[BaseJoinExec](1)),
    "q17_fuzzy_translate" -> Seq(broadcasts("nation", "customer"), sinkOnly),
    "q17b_exact_translate" -> Seq(broadcasts("nation", "customer"), has[BroadcastHashJoinExec]),
    "q18_nested_series" -> Seq(keyedOnce("l_orderkey"), hashShuffles(1), partial()),
    "q18b_series_explode" -> Seq(keyedOnce("l_orderkey"), hashShuffles(1), partial(),
      has[GenerateExec]),
    "q21_quality_score" -> Seq(sinkOnly, no[GenerateExec]),
    "q24_pii_redact" -> Seq(sinkOnly, codegen("regexp_replace")),
    "q25_hash_sample" -> Seq(codegen("md5"), sinkOnly),
    "q26_curation" -> Seq(uses("fingerprint_normalize"), keyedOnce("fp")),
    "q27_publications_scrub" -> Seq(sinkOnly, scansOnce),
    "q29_fanout_harvest" -> Seq(keyedOnce("search_id"), windowsBy("search_id")),
    // also Dedup.exactDedup's shape: partial aggregation before the digest shuffle
    "q30_exact_dedup" -> Seq(partial(), keyedOnce("__h"), noTextShuffled),
    "q31_fingerprint_dedup" -> Seq(keyedOnce("__f"), codegen("fingerprint_normalize")),
    "q32_minhash_pairs" -> Seq(codegen("shingle_hash64"), codegen("minhash_sig_oph"),
      partial("bounded_collect_long"), keyedOnce("bucket")),
    "q33_simhash_pairs" -> Seq(codegen("simhash64"), partial("bounded_collect_long")),
    "q34_ngram_jaccard" -> Seq(codegen("sorted_intersect_count"), noTextShuffled),
    "q36_incremental_dedup" -> Seq(codegen("sorted_intersect_count")),
    "q37_options_collect" -> Seq(partial("collect_set")),
    "q40_ann_brute" -> Seq(topK, Shape("no Window below the top-k", !_.hasUnder[WindowExec, TopKPerKeyExec]),
      Shape("rank Window above the top-k", _.hasUnder[TopKPerKeyExec, WindowExec])),
    "q41_ann_srp" -> Seq(topK, has[BroadcastHashJoinExec], codegen("srp_bucket")),
    "q42_ann_topk_heap" -> Seq(topK),
    "q43_ann_ivf" -> Seq(codegen("nearest_centroid"), has[BroadcastHashJoinExec]),
    "q43b_ann_ivf_reload" -> Seq(codegen("nearest_centroid"), has[BroadcastHashJoinExec]),
    "q44_salted_join" -> Seq(has[UnionExec], has[GenerateExec], joinsUnder[UnionExec](2)),
    "q46_dump_roundtrip" -> Seq(sinkOnly, reads("/q46_dump")),
    "q47_components" -> Seq(has[RDDScanExec]),
    "q48_decontaminate" -> Seq(joinOf(LeftSemi), has[BroadcastHashJoinExec]),
    "q49_domain_cap" -> Seq(topK, no[WindowExec]),
    "q50_windowed_events" -> Seq(partial(), keyedOnce("window", "event_type")),
    "q51_sessionize" -> Seq(keyedOnce("user_id"), windowsBy("user_id"), no[BaseJoinExec]),
    "q52_vocab" -> Seq(partial(), has[TakeOrderedAndProjectExec], noGlobalSort),
    "q53_funnel_join" -> Seq(has[BroadcastHashJoinExec], noProduct),
    "q56_boilerplate" -> Seq(joinOf(LeftAnti), has[BroadcastHashJoinExec], keyed("__lh"),
      keyedOnce("doc_id")),
    "q57_bloom_decontaminate" -> Seq(uses("might_contain"),
      exprUnder[BroadcastHashJoinExec]("might_contain"), joinOf(LeftSemi)),
    "q58_token_budget" -> Seq(noGlobalWindow, has[BroadcastHashJoinExec], keyed("lang", "__bkt")),
    "q59_unigram_lm" -> Seq(broadcasts("documents"), partial()),
    "q60_multimodal" -> Seq(decodeBelowShuffles, noBlobShuffled, sinkOnly),
    "q60b_luma_laplacian" -> Seq(decodeBelowShuffles, noBlobShuffled, sinkOnly),
    "q61_audio" -> Seq(decodeBelowShuffles, noBlobShuffled, sinkOnly),
    "q62_sparse_cosine" -> Seq(keysWithin("term", "doc_id", "id_a", "id_b"), noTextShuffled),
    "q63_cluster_split" -> Seq(codegen("md5")),
    "q65_pack_sequences" -> Seq(keyed("__bkt"), globalWindowsBroadcast),
    "q66_image_pixels" -> Seq(decodeBelowShuffles, noBlobShuffled, sinkOnly),
    "q69_tfidf_search" -> Seq(has[BroadcastHashJoinExec], keyed("term", "doc_id")),
    "q71_judges_join" -> Seq(broadcasts("nation", "customer"), sinkOnly),
    "q72_asof_join" -> Seq(has[UnionExec], no[BaseJoinExec], windowsBy("user_id")),
    "q73_semdedup" -> Seq(codegen("nearest_centroid"), partial()),
    "q74_zorder" -> Seq(codegen("morton2"), rangeShuffle),
    "q75_phash_dedup" -> Seq(noBlobShuffled),
    "q76_dsir" -> Seq(has[BroadcastHashJoinExec], broadcasts("documents"),
      atLeast[HashAggregateExec](4), keyedOnce("doc_id")),
    "q77_length_stats" -> Seq(keyedOnce("source")),
    "q78_stream_dedup" -> Seq(joinOf(LeftOuter), streamedNarrow(LeftOuter)),
    "q79_freq_items" -> Seq(uses("freq_items"), partial("freq_items"), singlePartition, noHashOn("token")),
    "q80_orc_roundtrip" -> Seq(readsFormat("docs_orc", "ORC"), pushed("docs_orc"), sinkOnly),
    "q81_cooccurrence" -> Seq(partial(), keyed("tok")),
    "q82_json_flatten" -> Seq(sinkOnly, afterShuffles("from_json")),
    "q83_semantic_decontaminate" -> Seq(codegen("nearest_centroid"), codegen("cosine_sim"),
      keyedOnce("train_id")),
    "q84_snapshot_diff" -> Seq(joinOf(FullOuter), no[WindowExec], keyed("doc_id")),
    "q85_url_canonical" -> Seq(sinkOnly, afterShuffles("url_parts")),
    "q86_schema_evolution" -> Seq(no[UnionExec], exactly[FileSourceScanExec](1)),
    "q88_spec_pipeline" -> Seq(pushesOr("orders"), has[BroadcastHashJoinExec], sinkOnly),
    "q89_bpe_step" -> Seq(noFallback("bpe_merge"), sinkOnly),
    "q90_cdc_chunks" -> Seq(sinkOnly, codegen("cdc_chunks")),
    "q91_chunk_dedup" -> Seq(partial(), noTextShuffled),
    "q92_ohlc" -> Seq(partial(), hashShuffles(1)),
    "q93_pivot" -> Seq(partial(), scansOnce),
    "q94_rollup" -> Seq(exactly[ExpandExec](1), partial(), hashShuffles(1), scansOnce),
    "q96_bucketed_join" -> Seq(has[SortMergeJoinExec], sinkOnly, exchangesAtMost(1)),
    "q97_pagerank" -> Seq(atLeast[BaseJoinExec](3)),
    "q98_kneser_ney" -> Seq(keyed("v", "w"), partial(), broadcast),
    "q99_epoch_mix" -> Seq(sinkOnly, has[GenerateExec], codegen("md5")),
    "q100_paragraph_dedup" -> Seq(windowsBy("__ph"), keyedOnce("doc_id")),
    "q101_bpe_encode" -> Seq(uses("bpe_encode"), codegen("bpe_encode"), exchangesAtMost(2), sinkOnly),
    "q102_perplexity_gate" -> Seq(keyed("v", "w"), keyed("doc_id"), codegen("log2fix")),
    "q103_hard_negatives" -> Seq(topK, broadcasts("embeddings")),
    "q104_ngram_novelty" -> Seq(windowsBy("__gh"), keyedOnce("__gh"), keyed("doc_id")),
    "q105_profile" -> Seq(has[ExpandExec], no[UnionExec], scansOnce),
    "q106_nfc_normalize" -> Seq(codegen("unicode_normalize"), sinkOnly),
    "q107_range_join" -> Seq(noProduct, has[BaseJoinExec]),
    "q108_sketch_merge" -> Seq(partial("freq_items_weighted"), reads("runA")),
    "q109_tokenize_pack" -> Seq(uses("bpe_encode"), keyed("__bkt")),
    "q110_embedding_outliers" -> Seq(partial()),
    "q112_bpe_artifact" -> Seq(sinkOnly, codegen("bpe_encode")),
    "q113_nb_classifier" -> Seq(keyed("doc_id", "w"), keyed("w", "y")),
    "q114_kmv_distinct" -> Seq(has[ObjectHashAggregateExec], partial("kmv_sketch"),
      keyed("l_returnflag")),
    "q115_span_corrupt" -> Seq(sinkOnly, exchangesAtMost(1), no[GenerateExec], no[WindowExec],
      codegen("span_corrupt")),
    "q116_stream_distinct" -> Seq(partial("kmv_sketch"), keyed("window"), has[BaseJoinExec]),
    "q117_multi_scrub" -> Seq(sinkOnly, exchangesAtMost(1), codegen("multi_replace")),
    "q118_quantile_sketch" -> Seq(partial("count"), has[WindowExec], aggUnderWindowBy("bucket")),
    "q119_weighted_sample" -> Seq(topK, no[WindowExec], codegen("log2fix")),
    "q120_bm25_search" -> Seq(topK, broadcast, no[SortMergeJoinExec]),
    "q121_unimax_mix" -> Seq(partial(), keyed("lang")),
    "q122_cms_frequency" -> Seq(partial(), keyed("depth", "bucket"), broadcasts("/cms_")),
    "q123_unigram_encode" -> Seq(uses("unigram_encode"), codegen("unigram_encode"),
      exchangesAtMost(2), sinkOnly),
    "q126_entropy_gate" -> Seq(codegen("char_entropy_fix"), hashShuffles(0), sinkOnly),
    "q127_bitext_mine" -> Seq(topK, broadcast, no[SortMergeJoinExec]),
    "q128_edit_verify" -> Seq(uses("lev_bounded"), no[CartesianProductExec],
      no[BroadcastNestedLoopJoinExec], noHashOn("__t"), noTextShuffled),
    "q129_temperature_mix" -> Seq(codegen("pow2_neg_fix"), codegen("log2fix"),
      no[SortMergeJoinExec], keyed("lang")),
    "q130_stream_neardup" -> Seq(codegen("sorted_intersect_count")),
    "q131_chat_render" -> Seq(no[GenerateExec], hashShuffles(0), sinkOnly),
    "q132_wordpiece_encode" -> Seq(uses("wordpiece_encode"), codegen("wordpiece_encode"),
      hashShuffles(0), sinkOnly),
    "q133_sft_pipeline" -> Seq(codegen("char_entropy_fix"), keyed("__bkt")),
    "q134_preference_pairs" -> Seq(codegen("lev_bounded")),
    "q135_profile_drift" -> Seq(exactly[ExpandExec](2)),
    "q136_json_permissive" -> Seq(sinkOnly, uses("from_json")),
    "q137_stream_trending" -> Seq(partial("freq_items"), keyed("window")),
    "q138_rate_anomaly" -> Seq(partial(), has[WindowExec]),
    "q139_retention_cohorts" -> Seq(keyed("user_id"), partial()),
    "q140_k_anonymity" -> Seq(partial(), keyedOnce("bal_bucket", "segment"),
      has[BroadcastHashJoinExec]),
    "q141_triangles" -> Seq(Shape("two id-keyed equi-joins", keys(_).count(_ == Set("id")) == 2)),
    "q143_repetition_gate" -> Seq(codegen("repetition_profile"), hashShuffles(0), sinkOnly),
    "q144_train_shuffle" -> Seq(windowsBy("shard"), keyedOnce("shard")),
    "q145_block_spans" -> Seq(aWindowBy("__bkt"), has[BroadcastHashJoinExec], globalWindowsBroadcast),
    "q146_curriculum" -> Seq(has[BroadcastHashJoinExec], aWindowBy("n_tokens"),
      globalWindowsBroadcast),
    "q147_layout_pipeline" -> Seq(has[BroadcastHashJoinExec], aWindowBy("shard")),
    "q148_jsonl_shards" -> Seq(partial(), hashShuffles(1)),
    "q149_corpus_overlap" -> Seq(has[TakeOrderedAndProjectExec]),
    "q150_winnow_pairs" -> Seq(codegen("winnow_hash64"), noTextShuffled),
    "q151_sorted_neighborhood" -> Seq(globalWindowsBroadcast, noProduct),
    "q153_fellegi_sunter" -> Seq(has[GenerateExec], broadcast, keyed("field"),
      keyed("field", "v"), partial()),
    "q154_golden_record" -> Seq(partial("max"), Shape("no collect_list", !_.usesExpr("collect_list")),
      keyedOnce("cluster_id")),
    "q156_incremental_index" -> Seq(reads("/bm25idx_")),
    "q157_cube" -> Seq(exactly[ExpandExec](1), partial(), hashShuffles(1), scansOnce),
    "q158_asof_forward" -> Seq(has[UnionExec], no[BaseJoinExec], keyedOnce("user_id")),
    "q159_time_spine" -> Seq(has[GenerateExec], noProduct),
    "q160_psi_drift" -> Seq(partial(), codegen("log2fix")),
    "q161_integrity_audit" -> Seq(joinOf(LeftAnti)),
    "q163_incremental_lm" -> Seq(reads("/knlm_"), keyed("v", "w")),
    "q164_hll_distinct" -> Seq(reads("/hllreg_"), partial("max")),
    "q165_phrase_search" -> Seq(has[BroadcastHashJoinExec], no[CartesianProductExec],
      no[BroadcastNestedLoopJoinExec], partial("count")),
    "q165b_phrase_index_reload" -> Seq(reads("postings"), reads("term_df"), notReads("documents"),
      broadcasts("phrases")),
    "q165c_phrase_index_incremental" -> Seq(reads("postings"), reads("term_df"),
      notReads("documents"), broadcasts("phrases")),
    "q166_link_predict" -> Seq(no[CartesianProductExec], no[BroadcastNestedLoopJoinExec],
      partial("count"), keyed("z")),
    "q167_scd2_history" -> Seq(hashShuffles(1), keyed("user_id"), no[BaseJoinExec]),
    "q168_cusum_shift" -> Seq(keyedOnce("event_type"), no[CartesianProductExec]),
    "q169_containment" -> Seq(partial()),
    "q170_stratified_sample" -> Seq(topK, has[BroadcastHashJoinExec]),
    "q171_robust_outliers" -> Seq(no[BaseJoinExec], hashShuffles(1), scansOnce),
    "q172_woe_iv" -> Seq(partial(), hashShuffles(1)),
    "q173_path_mining" -> Seq(keyedOnce("user_id"), keyedOnce("path"), partial()),
    "q174_assoc_rules" -> Seq(partial(), no[WindowExec], keyed("__b")),
    "q175_funnel" -> Seq(keyedOnce("user_id"), partial()),
    "q178_ks_drift" -> Seq(keyedOnce("__k", "__v"), partial()),
    "q180_rfm_segments" -> Seq(partial(), keyedOnce("o_custkey")),
    "q182_decayed_score" -> Seq(codegen("pow2_neg_fix"), partial(), keyedOnce("user_id")),
    "q183_winsor_mean" -> Seq(windowsBy("l_returnflag"), has[BroadcastHashJoinExec], partial()),
    "q186_funnel_outer" -> Seq(joinOf(LeftOuter), noProduct),
    "q188_quantile_norm" -> Seq(windowsBy("l_returnflag"), has[BroadcastHashJoinExec]),
    "q191_templates" -> Seq(partial("min"), keyedOnce("cluster_id")),
    "q192_rendezvous" -> Seq(sinkOnly, no[GenerateExec], no[BaseJoinExec]),
    "q193_twap" -> Seq(windowsBy("event_type"), keyedOnce("event_type"), partial(), broadcast),
    "q194_session_rules" -> Seq(windowsBy("user_id"), keyed("__b")),
    "q195_percentile_rank" -> Seq(keyedOnce("c_mktsegment"), uses("rank")),
    "q196_inventory" -> Seq(keyedOnce("l_partkey"), noUdf),
    "q197_orc_roundtrip" -> Seq(readsFormat("docs", "ORC"), partial(), hashShuffles(1)),
    "q198_compaction_plan" -> Seq(windowsBy("l_returnflag"), noUdf),
    "q201_zipf_slope" -> Seq(codegen("log2fix"), partial(), windowsBy("lang")),
    "q202_seasonal_outliers" -> Seq(partial(), keyedOnce("event_type", "__day"),
      windowsBy("event_type")),
    "q203_l_diversity" -> Seq(partial(), keyed("bal_bucket", "segment", "nation")),
    "q204_token_fertility" -> Seq(codegen("bpe_encode"), keyedOnce("lang"), partial()),
    "q205_perplexity_buckets" -> Seq(codegen("log2fix"), windowsBy("lang")),
    "q206_video_scene_dedup" -> Seq(decodeUnderHashShuffle, decodeBelowShuffles, noBlobShuffled,
      keyedOnce("video_id")),
    "q207_voice_activity" -> Seq(decodeUnderHashShuffle, decodeBelowShuffles, noBlobShuffled, keyedOnce("__id")),
    "q209_rho_selection" -> Seq(codegen("log2fix"), has[BaseJoinExec]),
    "q210_gini_concentration" -> Seq(windowsBy("source"), keyedOnce("source")),
    "q211_matryoshka_variance" -> Seq(has[GenerateExec], partial(), keyedOnce("dim")),
    "q212_contamination_spans" -> Seq(joinOf(LeftSemi), keyedOnce("doc_id"), keyedOnce("g"),
      windowsBy("doc_id")),
    "q214_mink_membership" -> Seq(windowsBy("doc_id"), keyed("v", "w"), codegen("log2fix")),
    "q216_nb_calibration" -> Seq(codegen("pow2_neg_fix"), keyed("doc_id", "w")),
    "q217_conformal_gate" -> Seq(codegen("log2fix"), broadcast),
    "q218_fim_transform" -> Seq(sinkOnly, codegen("kmv_hash62")),
    "q220_cluster_quality" -> Seq(codegen("sorted_intersect_count"), partial("bounded_collect_long")),
    "q221_int8_recall" -> Seq(keyedOnce("query_id"), windowsBy("query_id"), broadcast),
    "q222_t_closeness" -> Seq(scansOnce, Shape("no full outer join",
      !_.all[BaseJoinExec].exists(_.joinType == FullOuter))),
    "q223_modularity" -> Seq(Shape("two label-keyed aggregations", keys(_).count(_ == Set("label")) == 2)),
    "q224_rank_agreement" -> Seq(joinOf(LeftOuter)),
    "q225_dedup_impact" -> Seq(keyedOnce("lang"), codegen("sorted_intersect_count")),
    "q226_blocking_recall" -> Seq(has[GenerateExec], rangeShuffle),
    "q227_skew_audit" -> Seq(partial(), has[TakeOrderedAndProjectExec], noGlobalSort),
    "q230_shard_balance" -> Seq(codegen("md5"), broadcast),
    "q231_threshold_sensitivity" -> Seq(keyed("theta_milli", "id")),
    "q232_quality_token_curve" -> Seq(partial()),
    "q233_epoch_decorrelation" -> Seq(codegen("md5"), partial(), singlePartition),
    "q234_survivor_quality" -> Seq(windowsBy("cluster_id")),
    "q235_dedup_pipeline" -> Seq(keyedOnce("id_a", "id_b"), keyed("cluster_id"),
      globalWindowsBroadcast),
    "q236_incremental_er" -> Seq(reads("fields"), reads("labels"), reads("golden"),
      has[RDDScanExec]),
    "q237_distinct_tier_envelope" -> Seq(has[ExpandExec], partial("kmv_sketch"),
      has[BroadcastHashJoinExec]),
    "q238_quantile_tier_envelope" -> Seq(has[BroadcastHashJoinExec], windowsBy("lang"),
      noHashOn("doc_id")),
    "q240_incremental_er_2gen" -> Seq(reads("fields"), reads("labels"), reads("golden"),
      has[RDDScanExec])
  )
}
