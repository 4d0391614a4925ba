package graft.ops

import graft.SparkSpec
import graft.queries.AuditQueries

/** q222's TVD algebra on planted distributions (the real corpus never
  * produces a zero-TVD cell): a cell whose nation mix EQUALS the global
  * mix must read tvd_fix = exact fraction of the residual mix shift,
  * and a single-nation cell must read TVD = 1 − its global share. With
  * 20×nation0 + 10×nation1 overall and a 50/50 cell A vs an all-nation0
  * cell B: TVD(A) = 1/6 (fix 10922, close), TVD(B) = 1/3 (fix 21845,
  * not close) — both exact under the cross-multiplied integer form.
  */
class TClosenessSpec extends SparkSpec {

  test("q222: planted cells read exact TVD fractions") {
    val s = spark
    import s.implicits._
    // bucket 0 (bal 100.00): 10×nation0 + 10×nation1; bucket 1 (bal
    // 300.00): 10×nation0. Same segment throughout.
    val rows =
      (1 to 10).map(i => (i.toLong, 100.0, 0, "S")) ++
        (11 to 20).map(i => (i.toLong, 100.0, 1, "S")) ++
        (21 to 30).map(i => (i.toLong, 300.0, 0, "S"))
    val dir = scratch("q222")
    rows.toDF("c_custkey", "c_acctbal", "c_nationkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = AuditQueries.q222TCloseness(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getInt(4))))
      .toMap
    assert(out.keySet == Set(0L, 1L), s"two cells: ${out.keySet}")
    assert(out(0L) == ((20L, 10922L, 1)),
      s"50/50 cell: TVD 1/6 → fix 10922, close: ${out(0L)}")
    assert(out(1L) == ((10L, 21845L, 0)),
      s"all-nation0 cell: TVD 1/3 → fix 21845, not close: ${out(1L)}")
  }
}
