package graft.text

import graft.SparkSpec
import graft.queries.TextQueries

/** q229's kappa algebra on planted corpora: disjoint vocabularies make
  * the NB prediction perfect → κ = 1000‰ exactly; a single-class
  * training set forces a constant prediction, and constant prediction
  * is CHANCE by construction → κ = 0 exactly even though accuracy reads
  * the majority share — the imbalance trap the audit exists to catch.
  * The never-predicted class must still surface with precision 0.
  */
class NbKappaSpec extends SparkSpec {

  private def write(rows: Seq[(Long, String, String)], tag: String): String = {
    val s = spark
    import s.implicits._
    val dir = scratch(s"q229_$tag")
    rows.map { case (id, t, l) => (id, t, l, "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q229: disjoint vocabularies read kappa = 1000") {
    // train: ids %5 != 0; test: ids %5 == 0 — both classes in both splits
    val rows = (1L to 40L).map { i =>
      if (i % 2 == 0) (i, "aap bab cac dad", "aa")
      else (i, "xix yoy zuz wew", "bb")
    }
    val out = TextQueries.q229NbKappa(spark, write(rows, "perfect"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(8) == 1000L, s"perfect kappa: ${r.getLong(8)}")
      assert(r.getLong(4) == 1000L && r.getLong(5) == 1000L,
        "perfect recall/precision per class")
    }
  }

  test("q229: constant prediction reads kappa = 0, silent class surfaces") {
    // train (ids %5 != 0) all 'aa' → the model can only predict 'aa';
    // test (ids %5 == 0) is 3x aa + 1x bb
    val rows =
      (1L to 19L).filter(_ % 5 != 0).map(i => (i, "aap bab cac", "aa")) ++
        Seq((5L, "aap bab cac", "aa"), (10L, "aap bab cac", "aa"),
          (15L, "aap bab cac", "aa"), (20L, "xix yoy zuz", "bb"))
    val out = TextQueries.q229NbKappa(spark, write(rows, "const"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(5), r.getLong(8)))).toMap
    assert(out.keySet == Set("aa", "bb"))
    assert(out("aa")._4 == 0L, s"constant prediction is chance: ${out("aa")}")
    val (bAct, bPred, bPrec, _) = out("bb")
    assert(bAct == 1L && bPred == 0L && bPrec == 0L,
      s"never-predicted class surfaces with precision 0: ${out("bb")}")
  }
}
