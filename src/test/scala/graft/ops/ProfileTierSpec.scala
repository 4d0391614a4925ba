package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The profile distinct-count tier contract: KMV is EXACT below its
  * capacity k, so on any column with < 1024 distinct values the sketch
  * tier must reproduce the exact tier bit-for-bit — including null
  * handling (count_distinct skips nulls; the hash62→sketch path skips
  * them too). Above capacity the estimate is approximate but the other
  * profile columns must be untouched by the tier.
  */
class ProfileTierSpec extends SparkSpec {
  import spark.implicits._

  test("below-capacity columns: sketch tier == exact tier bit-for-bit") {
    val df = Seq(
      ("a", Some(1L)), ("b", Some(2L)), ("a", None),
      ("c", Some(2L)), ("b", Some(7L)))
      .toDF("s", "v")
    val e = Profile.profile(df, Seq("s", "v")).collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap
    val k = Profile.profile(df, Seq("s", "v"), sketchDistinct = true)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(e == k, s"tier mismatch:\nexact  $e\nsketch $k")
    assert(e("v")(1) == 1L && e("v")(2) == 3L, "n_nulls=1, n_distinct=3")
  }

  test("q105 sketch tier: sub-capacity columns stay exact") {
    def distincts(sketch: Boolean) =
      graft.queries.MiscOps.q105Profile(spark, sf, sketch)
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val out = distincts(sketch = true)
    val exact = distincts(sketch = false)
    // status/priority are tiny-cardinality: must agree exactly; the
    // key columns exceed k=1024 at spec sf — estimates must be within
    // the KMV k=1024 relative error (~3/sqrt(k) ≈ 10%)
    for (c <- Seq("o_orderstatus", "o_orderpriority", "o_orderdate"))
      if (exact(c) <= 1024)
        assert(out(c) == exact(c), s"$c: ${out(c)} != exact ${exact(c)}")
    for ((c, ex) <- exact if ex > 1024) {
      val err = math.abs(out(c).toDouble - ex) / ex
      assert(err < 0.10, s"$c: estimate ${out(c)} vs $ex (err $err)")
    }
  }
}
