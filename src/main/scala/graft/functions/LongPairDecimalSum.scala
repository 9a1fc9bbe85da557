package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** `SUM` of a DECIMAL(p,s) input with p ≤ 18, accumulated exactly in
  * two longs instead of Spark's DECIMAL(p+10,s) buffer.
  *
  * Why: for 9 ≤ p ≤ 18 Spark's `Sum` widens to DECIMAL(p+10,s), which
  * no longer fits a long, so its aggregation buffer holds a
  * BigDecimal and every row pays a BigDecimal add (Spark's own
  * `DecimalAggregates` long path stops at p ≤ 8). The engine keeps its
  * analytic totals exact with `sum(x.cast("decimal(18,s)"))`, so this
  * is the per-row cost of TPC-H Q1 (`q_agg_basic`).
  * [[graft.plans.DecimalSumRule]] swaps this kernel in for those sums.
  *
  * Buffer: `hi`, `lo` (longs) and `isEmpty`, the value being
  * `hi·2^32 + lo` with `0 ≤ lo < 2^32`. Each row's unscaled long `u`
  * adds `u >> 32` to `hi` and `u & 0xFFFFFFFF` to `lo`; the carry
  * `lo >> 32` moves into `hi` at once (in update and in merge), so
  * `lo` never reaches 2^33. `hi` adds trap long overflow (ANSI), which
  * needs more than 2^35 near-maximal rows in one group.
  *
  * Result: the same DECIMAL(p+10,s) as `Sum`, NULL for an empty or
  * all-null group, and the same `CheckOverflowInSum` error when the
  * exact total needs more than p+10 digits. Used for ANSI-mode sums
  * only: the error path never returns NULL.
  *
  * One divergence from `Sum`: `Sum` nulls its buffer (then raises)
  * once a PARTIAL sum exceeds p+10 digits, even when the final sum
  * fits; this kernel keeps every partial sum exact and returns the
  * final one. Reaching that needs more than 10^10 near-maximal rows
  * in one group.
  */
case class LongPairDecimalSum(child: Expression)
    extends DeclarativeAggregate
    with UnaryLike[Expression]
    with SupportQueryContext {

  override def nullable: Boolean = true

  override def dataType: DecimalType = child.dataType match {
    case d: DecimalType => DecimalType(d.precision + 10, d.scale)
    case t => throw new IllegalStateException(s"not a decimal: $t")
  }

  override def prettyName: String = "long_pair_decimal_sum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      TypeCheckSuccess
    case t => TypeCheckFailure(
      s"$prettyName expects decimal(p,s) with p <= 18, got ${t.simpleString}")
  }

  override def initQueryContext(): Option[QueryContext] =
    Some(origin.context)

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, isEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private val low32 = Literal(0xFFFFFFFFL)
  private val shift = Literal(32)

  /** `lo` terms stay below 2^33 and cannot overflow; `hi` terms trap. */
  private def plain(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.LEGACY))
  private def exact(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.ANSI))

  /** The new (hi, lo) from a high part and a low sum below 2^33. */
  private def carried(high: Expression, loSum: Expression): Seq[Expression] =
    Seq(exact(high, ShiftRight(loSum, shift)), BitwiseAnd(loSum, low32))

  override lazy val updateExpressions: Seq[Expression] = {
    // A NULL adds 0. No If around the input: codegen shares a
    // subexpression only where it is always evaluated, and inside If
    // branches the input (a DoubleToDecimal, say) ran once per use.
    val u =
      if (child.nullable) Coalesce(Seq(UnscaledValue(child), Literal(0L)))
      else UnscaledValue(child)
    carried(exact(hi, ShiftRight(u, shift)), plain(lo, BitwiseAnd(u, low32))) :+
      (if (child.nullable) And(isEmpty, IsNull(child)) else Literal(false))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    carried(exact(hi.left, hi.right), plain(lo.left, lo.right)) :+
      And(isEmpty.left, isEmpty.right)

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, dataType),
      CheckOverflowInSum(LongPairToDecimal(hi, lo, dataType), dataType,
        nullOnOverflow = false, getContextOrNull()))

  override protected def withNewChildInternal(
      newChild: Expression): LongPairDecimalSum = copy(child = newChild)
}

/** `hi·2^32 + lo` as the unscaled value of a `dataType` decimal, or
  * NULL when it needs more digits than `dataType`'s precision. */
case class LongPairToDecimal(
    left: Expression, right: Expression, dataType: DecimalType)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override protected def nullSafeEval(h: Any, l: Any): Any =
    LongPairToDecimal.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long],
      dataType.precision, dataType.scale)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = classOf[LongPairToDecimal].getName
    nullSafeCodeGen(ctx, ev, (h, l) =>
      s"""${ev.value} = $obj.toDecimal($h, $l, ${dataType.precision},
         |  ${dataType.scale});
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongPairToDecimal =
    copy(left = newLeft, right = newRight)
}

object LongPairToDecimal {
  def toDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal =
    if (hi == hi.toInt) {
      // |hi| ≤ 2^31 and 0 ≤ lo < 2^32: the value fits a long
      new Decimal().setOrNull((hi << 32) + lo, precision, scale)
    } else {
      val v = new JBigDecimal(
        BigInteger.valueOf(hi).shiftLeft(32).add(BigInteger.valueOf(lo)),
        scale)
      if (v.precision > precision) null else Decimal(v, precision, scale)
    }
}
