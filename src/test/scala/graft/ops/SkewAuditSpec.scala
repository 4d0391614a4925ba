package graft.ops

import graft.SparkSpec
import graft.queries.{AuditQueries, MiscOps}

/** q227/q228 planted semantics. Skew: a key holding 90% of rows among
  * 33 keys must read hot = 1 with the exact ceil salt factor, while the
  * singleton keys read the per-mille floor. Neyman: a zero-variance
  * stratum gets zero allocation, a perfect-square variance hits the
  * isqrt exactly, and a non-square (300 → 17) exercises the two-sided
  * adjustment; allocations split Σw on the integer grid.
  */
class SkewAuditSpec extends SparkSpec {

  test("q227: planted 90% hot key reads hot with exact salt factor") {
    val s = spark
    import s.implicits._
    // key 7: 288 rows; keys 0..31 except 7: 1 row each → total 319
    val rows = Seq.fill(288)(7L) ++ (0L to 31L).filter(_ != 7L)
    val dir = scratch("q227")
    rows.toDF("l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = MiscOps.q227SkewAudit(spark, dir).collect()
    assert(out.length == 10)
    val hot = out.head
    assert(hot.getLong(0) == 7L && hot.getLong(1) == 288L)
    assert(hot.getLong(2) == 902L, s"share ${hot.getLong(2)}")
    // mean multiple: 288 * 32 keys * 100 / 319 = 2889%
    assert(hot.getLong(3) == 2889L, s"mean_mult ${hot.getLong(3)}")
    assert(hot.getInt(4) == 1 && hot.getLong(5) == 29L,
      s"hot + ceil(288*32/319)=29: ${hot.getInt(4)}/${hot.getLong(5)}")
    out.tail.foreach { r =>
      assert(r.getLong(1) == 1L && r.getInt(4) == 0 && r.getLong(5) == 1L)
    }
    assert(out.tail.map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 8L, 9L), "tie-break by key")
  }

  test("q228: zero-variance stratum unallocated, isqrt exact both ways") {
    val s = spark
    import s.implicits._
    val rows =
      Seq.fill(4)(("aa", 100L)) ++ // var 0 → w 0
        Seq(("bb", 0L), ("bb", 0L), ("bb", 10L), ("bb", 10L)) ++ // var 400
        Seq(("cc", 0L), ("cc", 0L), ("cc", 0L), ("cc", 10L)) // var 300
    val dir = scratch("q228")
    rows.map { case (l, c) => (1L, "t", l, "s", c) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = AuditQueries.q228NeymanAllocation(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("aa") == ((0L, 0L, 0L)), s"constant stratum: ${out("aa")}")
    assert(out("bb") == ((400L, 20L, 540L)), s"square var: ${out("bb")}")
    assert(out("cc") == ((300L, 17L, 459L)), s"isqrt(300)=17: ${out("cc")}")
  }
}
