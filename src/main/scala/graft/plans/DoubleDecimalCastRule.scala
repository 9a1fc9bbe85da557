package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.catalyst.trees.TreePattern.CAST
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}

import graft.functions.DoubleToDecimal

/** Replaces every ANSI-mode `Cast` from DOUBLE to DECIMAL(p,s) with
  * p ≤ 18 and s ≥ 0 by [[graft.functions.DoubleToDecimal]], which gives
  * the same value, NULL and error from a long instead of a BigDecimal
  * for nearly every input. These casts feed every
  * `sum(x.cast("decimal(18,s)"))`, the engine's exact totals.
  *
  * Left alone: FLOAT inputs, p ≥ 19, non-ANSI and TRY casts, and the
  * casts an INSERT adds to fit a table's columns. Spark tags those
  * `Cast.BY_TABLE_INSERTION` and wraps them in
  * `CheckOverflowInTableInsert`, whose error (CAST_OVERFLOW_IN_TABLE_INSERT)
  * needs its child to stay a `Cast`.
  * Installed beside [[DecimalSumRule]] (`TableLoader.configure` and
  * [[graft.GraftExtensions]]); applying it twice changes nothing.
  */
object DoubleDecimalCastRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(CAST)) {
      case c @ Cast(child, d: DecimalType, _, EvalMode.ANSI)
          if child.dataType == DoubleType &&
            d.precision <= Decimal.MAX_LONG_DIGITS && d.scale >= 0 &&
            c.getTagValue(Cast.BY_TABLE_INSERTION).isEmpty =>
        CurrentOrigin.withOrigin(c.origin)(DoubleToDecimal(child, d))
    }
}
