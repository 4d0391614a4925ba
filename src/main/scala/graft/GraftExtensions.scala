package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions._
import graft.plans.TopKPerKey

/** Session-extensions entry point — the deployment hook for everything
  * this library adds to Catalyst:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * installs the TopKPerKey planner strategy, the window→top-k rewrite
  * rule, and SQL registrations of the native expressions (usable from
  * `spark.sql("SELECT simhash64(...)...")`). For an already-running
  * session use [[GraftExtensions.install]], which registers the same
  * pieces through the live session's registries.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerKey.PlanStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKViaWindowRewrite)
    GraftExtensions.sqlFunctions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(k: Int, IntegerType) => k
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "")

  /** (name, info, builder) for every SQL-exposed native expression: each
    * SQL-callable entry of the kernel table, then the two aggregates. */
  val sqlFunctions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Kernels.all.filter(_.sqlCallable).map { k =>
      (k.name, info(k.name, s"${k.name}(${k.params.map(_.getSimpleName).mkString(", ")}) - " +
        s"${k.staticObject.getSimpleName.stripSuffix("$")}.${k.method}"), k.expr _)
    } ++ Seq(
    ("bounded_collect_long", info("bounded_collect_long",
      "bounded_collect_long(v, cap) - collect bigints, NULL past cap or below 2"),
      { case Seq(c, cap) =>
        BoundedCollectLong(c, intArg(cap, "cap")).toAggregateExpression() }),
    ("freq_items", info("freq_items",
      "freq_items(tokens, capacity) - Misra-Gries heavy hitters over array<string>"),
      { case Seq(c, cap) =>
        FreqItems(c, intArg(cap, "capacity")).toAggregateExpression() }))

  /** Install everything into an already-running session (extensions
    * normally apply only at session build time).
    */
  def install(spark: SparkSession): Unit = {
    TopKPerKey.install(spark)
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(graft.plans.TopKViaWindowRewrite))
      spark.experimental.extraOptimizations = cur :+ graft.plans.TopKViaWindowRewrite
    sqlFunctions.foreach { case (name, inf, builder) =>
      org.apache.spark.sql.GraftBridge.registerFunction(spark, name, inf, builder)
    }
  }
}
