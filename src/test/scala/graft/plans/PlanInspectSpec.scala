package graft.plans

import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The walk behind the exchange budget: each cached plan once, reused
  * exchanges apart from shuffles, and the same count before and after AQE
  * wraps exchanges in query stages.
  */
class PlanInspectSpec extends SparkSpec {

  private def keyed(n: Long, mod: Int) = spark.range(0, n).groupBy((col("id") % mod).as("k")).count()

  test("a persisted frame scanned twice counts its shuffles once, nested caches too") {
    val inner = keyed(1000, 7).persist()
    val outer = inner.groupBy("count").agg(sum("k").as("k")).persist()
    try {
      assert(PlanInspect(inner.union(inner)).shuffles == 1)
      // inner is read inside outer's cached plan and again at the top
      val nested = PlanInspect(outer.union(outer).union(inner.select("k", "count")))
      assert(nested.shuffles == 2, nested.root.toString)
    } finally { outer.unpersist(); inner.unpersist() }
  }

  test("a ReusedExchange counts as reused, never as a shuffle") {
    withoutBroadcast {
      val a = keyed(1000, 5)
      val df = a.join(a.withColumnRenamed("count", "c2"), "k")
      df.collect()
      val pi = PlanInspect(df)
      assert(pi.reused == 1 && pi.shuffles == 1, pi.root.toString)
    }
  }

  test("broadcasts and repartition(n) are left out; range and single-partition shuffles count") {
    val bc = PlanInspect(spark.range(100).join(broadcast(spark.range(10)), "id"))
    assert(bc.has[BroadcastExchangeExec] && bc.shuffles == 0, bc.root.toString)
    val rr = PlanInspect(spark.range(100).repartition(3))
    assert(rr.has[ShuffleExchangeLike] && rr.shuffles == 0, rr.root.toString)
    assert(PlanInspect(spark.range(100).repartitionByRange(3, col("id"))).shuffles == 1)
    // a keyless aggregate gathers its partials through SinglePartition
    assert(PlanInspect(spark.range(100).agg(sum("id"))).shuffles == 1)
  }

  test("a scalar subquery's exchange is counted") {
    spark.range(100).createOrReplaceTempView("plan_inspect_t")
    try {
      val pi = PlanInspect(spark.sql(
        "SELECT id FROM plan_inspect_t WHERE id > (SELECT max(id) - 5 FROM plan_inspect_t)"))
      assert(pi.shuffles == 1, pi.root.toString)
    } finally spark.catalog.dropTempView("plan_inspect_t")
  }

  test("an aggregate counts the same before and after AQE wraps its exchange in a stage") {
    val df = keyed(1000, 10)
    val before = PlanInspect(df)
    assert(before.shuffles == 1 && !before.has[ShuffleQueryStageExec], before.root.toString)
    df.collect()
    val after = PlanInspect(df)
    assert(after.has[ShuffleQueryStageExec] && after.shuffles == 1, after.root.toString)
  }
}
