package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

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
  * Counting rule: physical `Exchange hashpartitioning / rangepartitioning /
  * SinglePartition` lines, excluding `ReusedExchange` (a reuse is the
  * OPPOSITE of an extra shuffle) and excluding `BroadcastExchange`
  * (broadcasts are bounded by contract everywhere in this repo; the
  * scale killers a budget must catch are data shuffles).
  */
object PlanBudget {

  private val ShuffleLine =
    """Exchange (hashpartitioning|rangepartitioning|SinglePartition)""".r

  /** Shuffle-exchange count of a physical plan string. */
  def countShuffles(plan: String): Int =
    plan.linesIterator.count(l =>
      ShuffleLine.findFirstIn(l).isDefined && !l.contains("ReusedExchange"))

  val GoldenPath = "src/test/resources/plan_shapes.tsv"

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // args(1..): query-name substrings — print-only mode (measure a few
    // plans after a deliberate change without rewriting the golden file;
    // ratchet the tsv by hand from the printed counts)
    val only = args.drop(1).toSeq
    val spark = graft.Local.session(4)
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.contains) }
      .map { case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val n = countShuffles(plan)
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
    Files.write(Paths.get(GoldenPath),
      (header + rows.mkString("", "\n", "\n")).getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    println(s"[planbudget] wrote ${rows.size} budgets to $GoldenPath")
    spark.stop()
  }
}
