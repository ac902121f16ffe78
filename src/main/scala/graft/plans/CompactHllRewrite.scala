package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE_EXPRESSION

import graft.functions.expressions.CompactHll

/** Optimizer rule: plan every batch `approx_count_distinct` as
  * [[CompactHll]] — the same estimate from one binary buffer column
  * instead of one `LongType` buffer column per 10 HLL++ registers.
  * The result attribute (`resultId`, `LongType`, non-null) is kept, so
  * nothing above the aggregate changes.
  *
  * Plans without an aggregate expression are skipped on a pattern-bit
  * check. Streaming plans are left alone: a stateful aggregate's
  * buffer schema is its checkpoint's state schema, and switching it
  * would make existing checkpoints unreadable.
  */
object CompactHllRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else plan.transformAllExpressionsWithPruning(_.containsPattern(AGGREGATE_EXPRESSION)) {
      case ae @ AggregateExpression(h: HyperLogLogPlusPlus, _, _, _, _) =>
        ae.copy(aggregateFunction = CompactHll(h.child, h.relativeSD))
    }
}
