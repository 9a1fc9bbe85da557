package graft.plans

import org.apache.spark.sql.catalyst.expressions.EvalMode
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, AGGREGATE_EXPRESSION}
import org.apache.spark.sql.types.DecimalType

import graft.functions.LongPairDecimalSum

/** Replaces every non-distinct, ANSI-mode `Sum` of a DECIMAL(p,s)
  * input with 9 ≤ p ≤ 18 inside a batch `Aggregate` by
  * [[graft.functions.LongPairDecimalSum]], which gives the same result
  * from a two-long buffer instead of a BigDecimal one.
  *
  * Left alone: p ≤ 8 (Spark's `DecimalAggregates` already sums those
  * in a long), p ≥ 19 (Currency's DECIMAL(19,4) does not fit a long),
  * `SUM(DISTINCT)`, sums in a `Window`, non-ANSI sums and streaming
  * aggregates (their state schema would change).
  *
  * Installed on every session by `TableLoader.configure` (through
  * `spark.experimental.extraOptimizations`) and by
  * [[graft.GraftExtensions]]; applying it twice changes nothing.
  */
object DecimalSumRule extends Rule[LogicalPlan] {

  private def eligible(s: Sum): Boolean =
    s.evalContext.evalMode == EvalMode.ANSI && (s.child.dataType match {
      case d: DecimalType => d.precision >= 9 && d.precision <= 18
      case _ => false
    })

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(AGGREGATE)) {
      case a: Aggregate if !a.isStreaming =>
        a.transformExpressionsWithPruning(
            _.containsPattern(AGGREGATE_EXPRESSION)) {
          case ae @ AggregateExpression(s: Sum, _, false, _, _)
              if eligible(s) =>
            ae.copy(aggregateFunction = CurrentOrigin.withOrigin(s.origin)(
              LongPairDecimalSum(s.child)))
        }
    }
}
