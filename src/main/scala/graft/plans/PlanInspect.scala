package graft.plans

import java.util.{Collections, IdentityHashMap}

import scala.reflect.ClassTag

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CollapseCodegenStages, CommandResultExec, FileSourceScanExec, InputAdapter, ReusedSubqueryExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** One walk over a physical plan: the exchange budget and the plan-shape
  * matchers read the same node list, never the printed plan. The walk
  * passes through AQE, query stages, `CommandResultExec` and expression
  * subqueries; it enters each cached plan once per `cacheBuilder` (at its
  * first scan site) and records reused exchanges without entering them.
  */
final class PlanInspect private (val root: SparkPlan) {
  import PlanInspect._

  /** Every node reached, pre-order, with its ancestors nearest first. */
  val nodes: Vector[Node] = {
    val out = Vector.newBuilder[Node]
    val seenCaches = Collections.newSetFromMap(new IdentityHashMap[AnyRef, java.lang.Boolean]())
    def visit(p: SparkPlan, up: List[SparkPlan]): Unit = {
      out += Node(p, up)
      val below = p :: up
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan, below)
        case s: QueryStageExec => visit(s.plan, below)
        case c: CommandResultExec => visit(c.commandPhysicalPlan, below)
        case _: ReusedExchangeExec | _: ReusedSubqueryExec => ()
        case m: InMemoryTableScanExec =>
          if (seenCaches.add(m.relation.cacheBuilder)) visit(m.relation.cacheBuilder.cachedPlan, below)
        case _ => (p.children ++ p.subqueries).foreach(visit(_, below))
      }
    }
    visit(root, Nil)
    out.result()
  }

  /** Shuffles under the budget's counting rule ([[PlanInspect.counted]]). */
  lazy val shuffles: Int = nodes.count(n => counted(n.plan))
  lazy val reused: Int = all[ReusedExchangeExec].size
  /** No exchange of any kind: shuffle, broadcast or reused. */
  def exchangeFree: Boolean = !has[Exchange] && reused == 0

  def all[T <: SparkPlan](implicit t: ClassTag[T]): Seq[T] = nodes.collect { case Node(t(p), _) => p }
  def has[T <: SparkPlan: ClassTag]: Boolean = all[T].nonEmpty

  /** A `T` node with an `A` somewhere above it. */
  def hasUnder[T <: SparkPlan: ClassTag, A <: SparkPlan: ClassTag]: Boolean =
    nodes.exists(n => is[T](n.plan) && n.ancestors.exists(is[A]))

  /** The build side of every broadcast join. */
  def broadcastSides: Seq[SparkPlan] = all[SparkPlan].collect {
    case j: BroadcastHashJoinExec => if (j.buildSide == BuildLeft) j.left else j.right
    case j: BroadcastNestedLoopJoinExec => if (j.buildSide == BuildLeft) j.left else j.right
  }

  /** A map-side partial aggregate (with `fn`, carrying that aggregate
    * function), a shuffle above it, and the merging aggregate above that.
    */
  def partialFinalAgg(fn: String = ""): Boolean = nodes.exists {
    case Node(a: BaseAggregateExec, up) if a.requiredChildDistributionExpressions.isEmpty &&
        (fn.isEmpty || a.aggregateExpressions.exists(_.aggregateFunction.prettyName == fn)) =>
      up.dropWhile(p => !is[ShuffleExchangeLike](p) && !is[BaseAggregateExec](p)) match {
        case (_: ShuffleExchangeLike) :: rest =>
          rest.collectFirst { case b: BaseAggregateExec => b.requiredChildDistributionExpressions.isDefined }
            .getOrElse(false)
        case _ => false
      }
    case _ => false
  }

  /** The only counted shuffle is the sink sort's range exchange. */
  def narrowBelowSinkSort: Boolean = shuffles == 1 && nodes.exists {
    case Node(e: ShuffleExchangeLike, up) if counted(e) =>
      e.outputPartitioning.isInstanceOf[RangePartitioning] && up.exists(is[SortExec])
    case _ => false
  }

  /** Some plan expression is named `name` (see [[PlanInspect.name]]). */
  def usesExpr(name: String): Boolean = nodes.exists(_.plan.expressions.exists(_.exists(named(name))))

  /** An expression named `name` runs inside a whole-stage-codegen stage,
    * and no occurrence of it is a `CodegenFallback`. AQE collapses a stage
    * only when it runs, so below an un-run root (AQE's or a cached plan's)
    * the collapsing rule itself decides.
    */
  def codegen(name: String): Boolean = {
    val hits = nodes.flatMap(n => n.plan.expressions.flatMap(_.collect {
      case e if named(name)(e) => n -> e
    }))
    def inStage(n: Node): Boolean = {
      def collapses = CollapseCodegenStages().apply(n.plan).isInstanceOf[WholeStageCodegenExec]
      n.ancestors.collectFirst {
        case _: WholeStageCodegenExec => true
        case _: InputAdapter => false
        case _: AdaptiveSparkPlanExec | _: InMemoryTableScanExec => collapses
      }.getOrElse(collapses)
    }
    hits.exists(h => inStage(h._1)) && !hits.exists(_._2.isInstanceOf[CodegenFallback])
  }

  def scans: Seq[FileSourceScanExec] = all[FileSourceScanExec]

  /** Each hash shuffle: the columns it is keyed on and the columns it moves. */
  def hashShuffles: Seq[Shuffle] = all[ShuffleExchangeLike].flatMap(e => e.outputPartitioning match {
    case h: HashPartitioning => Some(Shuffle(refs(h.expressions), e.output.map(_.name)))
    case _ => None
  })

  /** Each window's PARTITION BY columns (empty: a global window). */
  def windowKeys: Seq[Seq[String]] = all[WindowExec].map(w => refs(w.partitionSpec))
}

object PlanInspect {
  final case class Node(plan: SparkPlan, ancestors: List[SparkPlan])
  final case class Shuffle(keys: Seq[String], columns: Seq[String])

  def apply(plan: SparkPlan): PlanInspect = new PlanInspect(plan)
  def apply(ds: Dataset[_]): PlanInspect = apply(ds.queryExecution.executedPlan)

  /** The budget's counting rule: a shuffle counts when it hash-, range- or
    * single-partitions. Round-robin `repartition(n)` exchanges are left out
    * because `Par.fanOut` adds them only when the input has fewer partitions
    * than cores, so they follow data size, not plan shape. Broadcasts are
    * not shuffles.
    */
  def counted(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeLike => e.outputPartitioning match {
      case _: HashPartitioning | _: RangePartitioning | SinglePartition => true
      case _ => false
    }
    case _ => false
  }

  /** An expression's name in plan checks: a kernel call (a `StaticInvoke`
    * of a [[graft.functions.Kernels]] entry) by its entry's SQL name,
    * every other expression by its `prettyName`.
    */
  def name(e: Expression): String = e match {
    case s: StaticInvoke => graft.functions.Kernels.called(s.staticObject, s.functionName)
      .fold(s.prettyName)(_.name)
    case _ => e.prettyName
  }

  def named(n: String)(e: Expression): Boolean = name(e) == n

  private def is[T](p: AnyRef)(implicit t: ClassTag[T]): Boolean = t.runtimeClass.isInstance(p)
  private def refs(es: Seq[Expression]): Seq[String] = es.flatMap(_.references.map(_.name)).distinct
}
