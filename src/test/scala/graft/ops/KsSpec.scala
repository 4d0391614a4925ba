package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.SparkSpec

class KsSpec extends SparkSpec {
  import spark.implicits._

  private def run(a: Seq[(String, Long)], b: Seq[(String, Long)]) =
    Profile.ksStatistic(a.toDF("k", "v"), b.toDF("k", "v"), "k", "v")
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).longValueExact(), r.getLong(4), r.getLong(5))).toSeq

  /** Scalar reference: D numerator over the merged support. */
  private def ref(a: Seq[Long], b: Seq[Long]): (Long, Long) = {
    val vs = (a ++ b).distinct.sorted
    val na = a.size.toLong; val nb = b.size.toLong
    val ds = vs.map(v => (math.abs(a.count(_ <= v) * nb - b.count(_ <= v) * na), v))
    val m = ds.map(_._1).max
    (m, ds.filter(_._1 == m).map(_._2).min)
  }

  test("hand case matches the scalar reference, argmax is the smallest") {
    val a = Seq(1L, 2L, 3L, 4L); val b = Seq(3L, 4L, 5L, 6L)
    val (num, at) = ref(a, b)
    val got = run(a.map(("k", _)), b.map(("k", _)))
    assert(got == Seq(("k", 4L, 4L, num, at, (num * (1L << 30)) / 16L)))
    assert(num == 8L && at == 2L) // |2·4 − 0·4| = 8 at v=2
  }

  test("identical samples give D = 0") {
    val a = Seq(1L, 5L, 9L, 9L)
    val got = run(a.map(("k", _)), a.map(("k", _)))
    assert(got.head._4 == 0L && got.head._6 == 0L)
  }

  test("disjoint supports give D = 1 exactly (2^30 in fixed point)") {
    val a = Seq(1L, 2L); val b = Seq(10L, 11L, 12L)
    val got = run(a.map(("k", _)), b.map(("k", _)))
    assert(got.head._4 == 2L * 3L && got.head._6 == (1L << 30))
  }

  test("keys are independent: drift in one never leaks into another") {
    val a = Seq(("x", 1L), ("x", 2L), ("y", 1L), ("y", 2L))
    val b = Seq(("x", 100L), ("x", 101L), ("y", 1L), ("y", 2L))
    val got = run(a, b)
    assert(got.find(_._1 == "x").get._6 == (1L << 30))
    assert(got.find(_._1 == "y").get._6 == 0L)
  }

  test("unbalanced sample sizes: cross-multiplication keeps it exact") {
    val a = Seq.fill(3)(1L) ++ Seq.fill(7)(5L)   // n=10
    val b = Seq.fill(2)(1L) ++ Seq.fill(1)(5L)   // n=3
    val (num, at) = ref(a, b)
    val got = run(a.map(("k", _)), b.map(("k", _)))
    assert(got.head._4 == num && got.head._5 == at)
    assert(got.head._6 == (num * (1L << 30)) / (10L * 3L))
  }

  test("partition invariance under an 8-way repartition") {
    val a = (0L until 90L).map(i => (s"k${i % 3}", (i * 7) % 40))
    val b = (0L until 70L).map(i => (s"k${i % 3}", (i * 11 + 5) % 40))
    val base = run(a, b)
    val shuf = Profile.ksStatistic(a.toDF("k", "v").repartition(8),
      b.toDF("k", "v").repartition(8), "k", "v")
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).longValueExact(), r.getLong(4), r.getLong(5))).toSeq
    assert(base == shuf)
  }

  test("q178 drops a NULL quantity, as the two filtered samples do") {
    val li = Load.table(spark, sf, "lineitem")
    val first = li.orderBy("l_orderkey", "l_linenumber").head
    val base = scratch("q178_null_qty")
    li.withColumn("l_quantity",
        when(col("l_orderkey") === first.getAs[Long]("l_orderkey") &&
            col("l_linenumber") === first.getAs[Int]("l_linenumber"),
          lit(null).cast(li.schema("l_quantity").dataType))
          .otherwise(col("l_quantity")))
      .write.mode("overwrite").parquet(s"$base/lineitem.parquet")
    val copy = Load.table(spark, base, "lineitem")
    assert(copy.filter(col("l_quantity").isNull).count() == 1)
    val priced = copy.select(col("l_returnflag"), col("l_quantity"),
      (col("l_extendedprice").cast(DecimalType(18, 4)) * 100)
        .cast(LongType).as("cents"))
    val want = Profile.ksStatistic(priced.filter(col("l_quantity") <= 25),
      priced.filter(col("l_quantity") > 25), "l_returnflag", "cents")
      .orderBy("l_returnflag").collect().toSeq
    val got = graft.queries.MiscOps.q178KsDrift(spark, base).collect().toSeq
    assert(got == want, s"q178 $got\ntwo filtered samples $want")
  }
}
