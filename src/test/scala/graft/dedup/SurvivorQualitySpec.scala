package graft.dedup

import graft.SparkSpec
import graft.queries.{CurationQueries, DedupQueries}

/** q233/q234 planted semantics. Survivor quality: a near-dup whose
  * HIGHER-quality copy has the bigger id reads regret = 1 (min-id kept
  * the worse copy); an equal-quality pair ties and the canonical wins
  * the (quality desc, id) tie-break — regret 0. Epoch decorrelation:
  * conservation identities plus the directional check that a seed
  * change actually moves most docs (uniform reassignment ≈ 937‰).
  */
class SurvivorQualitySpec extends SparkSpec {

  test("q234: higher-quality later copy reads regret, equal tie doesn't") {
    val s = spark
    import s.implicits._
    val base = (1 to 100).map("tok" + _)
    def doc(repl: Map[Int, String]) =
      base.zipWithIndex.map { case (w, i) => repl.getOrElse(i, w) }
        .mkString(" ")
    // cluster A: copy swaps one token for a stopword → strictly higher
    // quality score (stopword ratio 0 → 1/100), Jaccard ≈ 0.95
    // cluster B: copy swaps one token for a SAME-SHAPE non-stopword
    // (same length, same alpha/digit mix — every q21 component equal) →
    // quality tie → canonical stays best
    val rows = Seq(
      (0L, doc(Map.empty)), (1L, doc(Map(50 -> "the"))),
      (10L, (1 to 100).map("yyy" + _).mkString(" ")),
      (11L, ((1 to 100).map("yyy" + _).updated(50, "xxx51")).mkString(" ")))
      .map { case (id, t) => (id, t, "en", "s", 0L) }
    val dir = scratch("q234")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = DedupQueries.q234SurvivorQuality(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getInt(4))))
      .toMap
    assert(out.keySet == Set(0L, 10L), s"two clusters: ${out.keySet}")
    assert(out(0L) == ((0L, 1L, 1)),
      s"stopword copy is strictly better → regret: ${out(0L)}")
    assert(out(10L) == ((10L, 10L, 0)),
      s"equal quality ties to the canonical: ${out(10L)}")
  }

  test("q233: conservation and the seed change moves most docs") {
    val r = CurationQueries.q233EpochDecorrelation(spark, sf).collect()(0)
    val (n, moved, movedPm, stayed, dispM) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(n == nDocs, "every doc in both epochs")
    assert(moved + stayed == n, "moved/stayed partition")
    assert(movedPm == moved * 1000 / n, "per-mille algebra")
    assert(movedPm > 800, s"a seed change must reassign most docs: $movedPm")
    if (stayed == 0) assert(dispM == 0, "empty-stay guard")
  }
}
