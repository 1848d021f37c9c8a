package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedOrdering}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOCAL_RELATION, SORT}

/** Optimizer rule: sort a local relation on the driver.
  *
  * The `Sort` case Spark's own `ConvertToLocalRelation` lacks. Its rows
  * are already in driver memory, so `Sort(order, _, LocalRelation)`
  * becomes a `LocalRelation` of the same rows in order (a stable sort by
  * the bound sort order), which plans as a bare `LocalTableScanExec` and
  * collects with no job, where Spark would run a range-partition
  * exchange: a sample job, a shuffle-map job and the result job. So an
  * ordered collect of `EtsdQueryApi.query`'s driver-local answer runs
  * none. Fires only when every sort key is deterministic and evaluable
  * (the `SortOrder` itself is `Unevaluable`, so the keys are tested),
  * never on a streaming relation. Idempotent: the rewritten plan has no
  * `Sort`. Inject via `graft.GraftExtensions`. */
object SortLocalRelation extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(SORT, LOCAL_RELATION)) {
      case Sort(order, _, rel @ LocalRelation(output, data, false, _), _)
          if order.forall(o => o.child.deterministic &&
            !ConvertToLocalRelation.hasUnevaluableExpr(o.child)) =>
        val ordering = new InterpretedOrdering(BindReferences.bindReferences(order, output))
        rel.copy(data = data.sorted(ordering))
    }
}
