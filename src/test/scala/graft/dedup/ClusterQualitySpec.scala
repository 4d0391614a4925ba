package graft.dedup

import graft.SparkSpec
import graft.queries.DedupQueries

/** q220's false-merge detection on planted topologies: a mutual-mutation
  * clique must read is_clique = 1, and a chain D~E~F whose endpoints are
  * NOT similar must fuse into one cluster (that is what transitive
  * dedup does) but read is_clique = 0 — the audit's whole point. The
  * DuckDB oracle pins the real-corpus bytes; this pins the topology
  * semantics the corpus doesn't exercise (it is all cliques).
  */
class ClusterQualitySpec extends SparkSpec {

  test("q220: clique reads clique, chain reads non-clique") {
    val s = spark
    import s.implicits._
    val base0 = (1 to 100).map("tok" + _)
    def doc(repl: Map[Int, String]) =
      base0.zipWithIndex.map { case (w, i) => repl.getOrElse(i, w) }
        .mkString(" ")
    // clique: A/B/C differ pairwise in ONE middle token
    val a = doc(Map.empty)
    val b = doc(Map(50 -> "xb"))
    val c = doc(Map(51 -> "xc"))
    // chain: D and F each rewrite 8 tokens at opposite ends of E —
    // shingle Jaccard 0.86/0.84 clears 0.8 for D~E and E~F while D~F
    // sits at 0.72 (Jaccard falls as shared/(2−shared), so 8% token
    // churn already costs ~14 points)
    val e = (1 to 100).map("yyy" + _).mkString(" ")
    val d = (1 to 100).map(i => if (i <= 8) "ddd" + i else "yyy" + i)
      .mkString(" ")
    val f = (1 to 100).map(i => if (i > 92) "fff" + i else "yyy" + i)
      .mkString(" ")
    // plus an isolated doc that must NOT appear (size-1 clusters drop)
    val rows = Seq((0L, a), (1L, b), (2L, c), (10L, d), (11L, e),
      (12L, f), (99L, (1 to 100).map("zzz" + _).mkString(" ")))
      .map { case (id, t) => (id, t, "en", "s", 0L) }
    val dir = scratch("q220")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = DedupQueries.q220ClusterQuality(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(5),
        r.getInt(6))).toMap
    assert(out.keySet == Set(0L, 10L), s"two clusters: ${out.keySet}")
    assert(out(0L) == ((3L, 3L, 1, 0)),
      s"clique cluster (size 3, 3 edges, clique, strong): ${out(0L)}")
    val (chSize, chEdges, chClique, _) = out(10L)
    assert(chSize == 3L && chEdges == 2L && chClique == 0,
      s"chain cluster (size 3, 2 edges, NOT a clique): ${out(10L)}")
  }
}
