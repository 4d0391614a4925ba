package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: the declarative top-k-per-key idiom
  *
  *   `df.withColumn("rn", row_number().over(Window.partitionBy(K).orderBy(O)))
  *      .filter($"rn" <= k)`
  *
  * sorts every key group in full before discarding all but k rows. This
  * rule plants a [[TopKPerKeyNode]] under the Window whenever a
  * row_number filter bounds the rank, so the bounded-heap physical
  * operator prunes each group to k rows FIRST and the Window only ranks
  * the survivors. The Filter and Window stay in place (the surviving
  * rows rank 1..k, so the guard passes them all) — results are
  * identical, including the rn column; under order ties both forms pick
  * an arbitrary winner, exactly as the unrewritten Window does.
  *
  * Users who write the idiomatic window formulation get the scale plan
  * for free; registered via GraftExtensions (injectOptimizerRule).
  *
  * Overlap note (visible in q5's physical plan): Spark's own
  * InferWindowGroupLimit (3.5+) also prunes rank-filtered windows, via
  * per-partition WindowGroupLimit before the shuffle — on plans where
  * both fire the second pruning pass is a cheap no-op over ≤k rows per
  * key. What the native operator uniquely removes is the Window's
  * per-partition SORT itself: the direct TopKPerKey.topK API (q42) has
  * no Window node and therefore no SortExec anywhere in the plan —
  * that's the path the ANN rankers use.
  */
object TopKViaWindowRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Extract an upper bound for `rn` from the filter condition. */
  private def rnBound(cond: Expression, rnId: ExprId): Option[Int] =
    splitConjunctivePredicates(cond).collectFirst {
      case LessThanOrEqual(a: AttributeReference, Literal(k: Int, IntegerType))
          if a.exprId == rnId => k
      case LessThan(a: AttributeReference, Literal(k: Int, IntegerType))
          if a.exprId == rnId => k - 1
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: AttributeReference)
          if a.exprId == rnId => k
      case GreaterThan(Literal(k: Int, IntegerType), a: AttributeReference)
          if a.exprId == rnId => k - 1
      case EqualTo(a: AttributeReference, Literal(k: Int, IntegerType))
          if a.exprId == rnId && k == 1 => 1
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
          part, order, child, _))
        if order.nonEmpty && !child.isInstanceOf[TopKPerKeyNode] =>
      rnBound(cond, alias.exprId) match {
        case Some(k) if k > 0 =>
          f.copy(child = w.withNewChildren(Seq(TopKPerKeyNode(k, part, order, child))))
        case _ => f
      }
  }
}
