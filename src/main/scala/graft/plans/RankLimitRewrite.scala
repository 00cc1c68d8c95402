package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Optimizer rule: rewrite the W1/O3 rank-filter idiom
  *
  *   Project(cols, Filter(rn <= k, Window(row_number() as rn PARTITION BY
  *   keys ORDER BY ord, child)))
  *
  * into the bounded-heap [[TopKPerKeyNode]] whenever `rn` itself is not
  * projected. The window form sorts every group in full before discarding
  * all but k rows; the rewrite keeps ≤ k rows per key per partition from
  * the first pass on.
  */
object RankLimitRewrite extends Rule[LogicalPlan] {

  private def limitFromCond(cond: Expression, rn: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(v: Int, _)) if a.exprId == rn => Some(v)
    case LessThan(a: AttributeReference, Literal(v: Int, _)) if a.exprId == rn => Some(v - 1)
    case EqualTo(a: AttributeReference, Literal(1, _)) if a.exprId == rn => Some(1)
    case _ => None
  }

  /** Kill switch (default on): `spark.graft.rankLimitRewrite.enabled=false`
    * routes every rank-filter back to Spark's native WindowGroupLimit path
    * — the rewrite is registered session-globally, so users need a way out
    * that doesn't require re-building the session. */
  private def enabled: Boolean =
    conf.getConfString("spark.graft.rankLimitRewrite.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan else rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList,
        Filter(cond, Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, spec), _)),
          partitionSpec, orderSpec, windowChild, _)))
        if spec.partitionSpec == partitionSpec && spec.orderSpec == orderSpec &&
          partitionSpec.nonEmpty && orderSpec.nonEmpty &&
          limitFromCond(cond, alias.exprId).exists(_ >= 1) &&
          !projectList.exists(_.references.exists(_.exprId == alias.exprId)) =>
      // Spark's own InferWindowGroupLimit (3.5+) usually fires first and
      // wraps the window child — consume its child, or this node would
      // stack on top of the native group-limit and do the work twice.
      val child = windowChild match {
        case wgl: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit => wgl.child
        case other => other
      }
      if (limitFromCond(cond, alias.exprId).exists(_ >= 1) &&
          projectList.forall(_.references.subsetOf(child.outputSet))) {
        val k = limitFromCond(cond, alias.exprId).get
        Project(projectList, TopKPerKeyNode(partitionSpec, orderSpec, k, child))
      } else p
  }
}

/** Physical planning for [[TopKPerKeyNode]]: partial (map-side) pass under
  * the exchange EnsureRequirements inserts, final pass above it — the
  * HashAggregate partial/final pattern for a top-k semigroup. The partial
  * pass's heap-map cap comes from `spark.graft.topk.maxPartialKeys`
  * (per-partition distinct-key budget; ≈ k·maxPartialKeys buffered rows). */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      val maxKeys = org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.topk.maxPartialKeys", "65536").toInt
      TopKPerKeyExec(keys, order, k, partial = false, maxKeys,
        TopKPerKeyExec(keys, order, k, partial = true, maxKeys,
          planLater(child))) :: Nil
    case _ => Nil
  }
}
