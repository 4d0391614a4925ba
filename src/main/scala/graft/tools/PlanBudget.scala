package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.plans.PlanInspect

/** Exchange-budget golden file: for EVERY query in SparkEntry.queries,
  * count the shuffle exchanges in its (initial) physical plan at
  * sf0.001 and pin them to `src/test/resources/plan_shapes.tsv`.
  * PlanBudgetSpec asserts each query stays AT OR UNDER its recorded
  * budget — a refactor that silently adds a shuffle to any of the 200+
  * paths fails CI, while a plan improvement (fewer exchanges) passes
  * and can be re-pinned here. Regenerate after intentional plan
  * changes:
  *
  *   sbt "runMain graft.tools.PlanBudget"
  *
  * Counting rule: `PlanInspect.shuffles` (see `PlanInspect.counted`).
  */
object PlanBudget {

  val GoldenPath = "src/test/resources/plan_shapes.tsv"

  /** The inspected plan of query `name`, built from a cold cache — the
    * one state both the golden file and PlanBudgetSpec read.
    */
  def inspect(spark: SparkSession, dir: String, name: String): PlanInspect = {
    spark.catalog.clearCache()
    PlanInspect(graft.SparkEntry.queries(name)(spark, dir))
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // args(1..): query-name substrings — print-only mode (measure a few
    // plans after a deliberate change without rewriting the golden file;
    // ratchet the tsv by hand from the printed counts)
    val only = args.drop(1).toSeq
    val spark = graft.Local.session(4)
    val rows = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.exists(n.contains))
      .map { name =>
        val n = inspect(spark, dir, name).shuffles
        println(s"[planbudget] $name\t$n")
        s"$name\t$n"
      }
    if (only.nonEmpty) {
      println(s"[planbudget] print-only mode (${rows.size} queries), golden untouched")
      spark.stop()
      return
    }
    val header =
      "# query\tshuffle_exchanges (upper bound asserted by PlanBudgetSpec)\n" +
        "# regenerate: sbt \"runMain graft.tools.PlanBudget\"\n"
    Files.createDirectories(Paths.get(GoldenPath).getParent)
    Files.write(Paths.get(GoldenPath), (header + rows.mkString("", "\n", "\n")).getBytes("UTF-8"))
    println(s"[planbudget] wrote ${rows.size} budgets to $GoldenPath")
    spark.stop()
  }
}
