package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, EqualTo, Expression, IntegerLiteral, LessThan,
  LessThanOrEqual, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: recognizes the per-group top-k idiom
  *
  *   Filter(rn <= k, Window(row_number() OVER (PARTITION BY g ORDER BY o)))
  *
  * and inserts [[TopKPerGroup]] BELOW the window, so the window only
  * ranks the <= k·|groups| surviving rows instead of sorting the whole
  * child. The Filter and Window stay in place, so the rn column remains
  * available downstream and plans that don't match are untouched.
  *
  * Invariants:
  *  - Exact only under a TOTAL order. TopKPerGroup keeps exactly the rows
  *    whose row_number can be <= k; with ties in the ORDER BY,
  *    row_number already picks an arbitrary winner, and the rewrite may
  *    pick a different one (same contract as TopKPerGroup.topK). Append
  *    a unique tie-break column where the winner matters.
  *  - No global top-k: an empty PARTITION BY never matches (see apply).
  *  - Idempotent: the rule runs in a fixed-point batch, so an
  *    already-thinned child is never wrapped again (alreadyRewritten).
  *  - Guards: a single row_number window expression and a bare
  *    rn-vs-literal predicate; anything else is left alone.
  *
  * Always on. To plan the plain window instead (a reference plan in a
  * test, say), append `graft.plans.TopKWindowRewrite` to
  * `spark.sql.optimizer.excludedRules`.
  */
object TopKWindowRewrite extends Rule[LogicalPlan] {

  /** An already-rewritten child, seen through any Project chain another
    * fixed-point rule (ColumnPruning) may interpose between the Window
    * and the operator — without this, a second pass would wrap a second
    * redundant heap pair. A native WindowGroupLimit counts as rewritten
    * too: it is the same thinning, and stacking ours under it would
    * double-pay. */
  private def alreadyRewritten(plan: LogicalPlan): Boolean = plan match {
    case _: TopKPerGroup => true
    case _: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit =>
      true
    case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
      alreadyRewritten(p.child)
    case _ => false
  }

  /** Spark 4's own InferWindowGroupLimit (a LATER optimizer batch than
    * injected rules) thins this shape natively when
    * k <= spark.sql.optimizer.windowGroupLimitThreshold, but its
    * WindowGroupLimitExec filters SORTED partitions while TopKPerGroup's
    * partial exec keeps bounded heaps and never sorts (SCALING.md,
    * "Per-group top-k"). So this rule claims the shape inside native
    * coverage too; the native WindowGroupLimit may then stack between
    * the Window and TopKPerGroup, over already-thinned rows. */
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      // part.nonEmpty: a GLOBAL top-k (empty PARTITION BY) must not
      // match — TopKPerGroup(Nil, …) would demand
      // ClusteredDistribution(Nil), which Spark rejects outright, and
      // Spark already plans the global case as TakeOrderedAndProject
      case f @ Filter(cond,
          w @ Window(Seq(alias @ Alias(
            WindowExpression(RowNumber(), _), _)),
          part, order, child, _))
          if part.nonEmpty && order.nonEmpty && !alreadyRewritten(child) =>
        extractK(cond, alias.toAttribute) match {
          case Some(k) if k > 0 =>
            Filter(cond,
              w.copy(child = TopKPerGroup(part, order, k, child)))
          case _ => f
        }
    }

  /** k such that `cond` keeps exactly the rows with row_number ≤ k. */
  private def extractK(cond: Expression, rn: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(v))
          if a.semanticEquals(rn) => Some(v)
      case LessThan(a: Attribute, IntegerLiteral(v))
          if a.semanticEquals(rn) => Some(v - 1)
      case EqualTo(a: Attribute, IntegerLiteral(1))
          if a.semanticEquals(rn) => Some(1)
      case _ => None
    }
}
