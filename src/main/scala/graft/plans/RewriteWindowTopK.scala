package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: the standard grouped-top-k idiom
  *
  *   df.withColumn("rn", row_number().over(Window.partitionBy(keys)
  *       .orderBy(...))).filter($"rn" <= k).drop("rn")
  *
  * plans as exchange + full per-partition SORT + window walk. When the rank
  * column is immediately dropped (the overwhelmingly common shape), the
  * whole Project(Filter(Window)) subtree is semantically a per-key top-k —
  * rewritten here into [[GroupedTopKPlan]], whose physical operator keeps a
  * bounded heap per key instead of sorting. Users keep writing the
  * idiomatic window form; the plan gets the efficient operator.
  *
  * Scope guards: only `row_number` (rank/dense_rank admit >k rows on ties),
  * only a pure `rn <= k` / `rn < k` predicate, and only when nothing above
  * references the rank column. */
object RewriteWindowTopK extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case Project(projectList,
        Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
            partitionSpec, orderSpec, child, _)))
        if partitionSpec.nonEmpty && orderSpec.nonEmpty &&
          rankLimit(cond, alias.toAttribute).exists(_ > 0) &&
          projectList.forall(_.references.subsetOf(child.outputSet)) =>
      val k = rankLimit(cond, alias.toAttribute).get
      // Spark's own InferWindowGroupLimit may already have inserted its
      // sort-based rank limiter below the Window; it is redundant (and
      // would force a sort) under the heap operator — strip it
      val realChild = child match {
        case WindowGroupLimit(p, o, _, _, grandchild)
            if p == partitionSpec && o == orderSpec => grandchild
        case other => other
      }
      Project(projectList,
        GroupedTopKPlan(partitionSpec, orderSpec, k, realChild))
  }

  private def rankLimit(cond: Expression, rn: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType))
          if a.semanticEquals(rn) => Some(v)
      case LessThan(a: Attribute, Literal(v: Int, IntegerType))
          if a.semanticEquals(rn) => Some(v - 1)
      case _ => None
    }
}
