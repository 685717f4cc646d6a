package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, InterpretedOrdering, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: sort a driver-side relation on the driver.
  *
  * Spark's `ConvertToLocalRelation` folds a Project, Filter or Limit over
  * a `LocalRelation` (a `createDataFrame(seq)`, `toDF` on a local `Seq`,
  * or an MLlib result such as `LDAModel.describeTopics`) into a new
  * `LocalRelation`, but leaves a global Sort in place. That Sort plans as
  * a range exchange, so `describeTopics(n).orderBy("topic").collect()`
  * ran three Spark jobs (the range bounds' sample, the shuffle map, the
  * result) to order k rows already in driver memory. This rule rewrites a
  * global `Sort` over a non-streaming `LocalRelation` into a
  * `LocalRelation` of the same rows sorted with an `InterpretedOrdering`
  * over the same `SortOrder`s, so nulls first/last, NaN, ±0.0 and
  * collated strings order exactly as Spark's `SortExec` orders them. The
  * sort is stable: rows with equal keys keep their input order (the
  * shuffle sort promises no order among them).
  *
  * The guard is `ConvertToLocalRelation`'s: every ordering key is
  * deterministic (a `rand()` key must be drawn at execution) and none is
  * `Unevaluable` apart from attributes. `sortWithinPartitions`
  * (`global = false`) and a streaming relation are left alone.
  */
object LocalSort extends Rule[LogicalPlan] {

  private def evaluable(e: Expression): Boolean =
    e.deterministic &&
      !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Sort(order, true, LocalRelation(output, data, false, stream), _)
        if order.forall(o => evaluable(o.child)) =>
      LocalRelation(output, data.sorted(new InterpretedOrdering(order, output)), false, stream)
  }
}
