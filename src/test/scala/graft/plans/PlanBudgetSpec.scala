package graft.plans

import graft.{SparkEntry, SparkSpec}
import graft.tools.PlanBudget

/** Every query in SparkEntry.queries has a pinned shuffle-exchange
  * budget (src/test/resources/plan_shapes.tsv, generated by
  * `sbt "runMain graft.tools.PlanBudget"`). A refactor that adds a
  * shuffle to ANY query path fails here; an improvement (fewer
  * exchanges) passes — re-pin to ratchet the budget down. The same test
  * checks the query's `PlanShapes` row on the plan it has just built.
  */
class PlanBudgetSpec extends SparkSpec {

  private lazy val golden: Map[String, Int] = {
    val in = getClass.getResourceAsStream("/plan_shapes.tsv")
    assert(in != null, s"missing golden file — run: sbt \"runMain graft.tools.PlanBudget\"")
    scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.isEmpty)
      .map { l => val Array(n, c) = l.split('\t'); n -> c.toInt }
      .toMap
  }

  test("every query has a pinned budget (new queries must be budgeted)") {
    graft.GraftExtensions.install(spark)
    val missing = SparkEntry.queries.keySet -- golden.keySet
    assert(missing.isEmpty,
      s"queries without an exchange budget: ${missing.toSeq.sorted.mkString(", ")} " +
        "— run: sbt \"runMain graft.tools.PlanBudget\"")
    val stale = PlanShapes.rows.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"shape rows for unknown queries: ${stale.toSeq.sorted.mkString(", ")}")
  }

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name stays within its shuffle budget") {
      graft.GraftExtensions.install(spark)
      // suites share one session: a relation another suite left cached
      // (InMemoryRelation carries its own partitioning) or artifacts it
      // resized would flip join strategies and skew the count — inspect
      // builds from the same cold cache the golden file was written from
      val pi = PlanBudget.inspect(spark, sf, name)
      golden.get(name).foreach { budget =>
        assert(pi.shuffles <= budget,
          s"$name grew from $budget to ${pi.shuffles} shuffle exchanges — an " +
            "unintended shuffle crept in (or re-pin deliberately via " +
            s"PlanBudget):\n${pi.root}")
      }
      val broken = PlanShapes.broken(name, pi)
      if (broken.nonEmpty) fail(s"$name lost its plan shape: ${broken.mkString("; ")}\n${pi.root}")
    }
  }
}
