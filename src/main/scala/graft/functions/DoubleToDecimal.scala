package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.types._

/** ANSI `CAST(d AS DECIMAL(p,s))` of a DOUBLE `d`, p ≤ 18 and s ≥ 0:
  * the value, NULL, exception and query context of Spark's `Cast`,
  * without a BigDecimal per row.
  *
  * Spark's cast is `Decimal(BigDecimal.valueOf(d))` rounded HALF_UP
  * to scale s, so it rounds the decimal string S = `Double.toString(d)`,
  * not d: 1.005 at scale 2 gives 1.01, although `1.005 * 100` is
  * `100.49999999999999`. [[graft.plans.DoubleDecimalCastRule]] swaps
  * this expression in for those casts.
  *
  * Fast path ([[DoubleToDecimal.fast]]): x = |d|·10^s in double
  * arithmetic (10^s is exact), m = x rounded half up, result ±m. It is
  * taken when x < 2^40, |frac(x) − 1/2| > 2^-11 and m < 10^p. Every
  * other input (NaN, ±Inf, overflow, near-ties) runs Spark's own `Cast`
  * over the one value, built with this expression's origin.
  *
  * Why the fast path rounds like Spark. The argument needs only that S
  * round-trips to d (JDK 17's S is not always the shortest such
  * string). Let t = |value(S)|·10^s, the number Spark rounds.
  *   - S round-trips, so value(S) lies within half d's rounding
  *     interval: |value(S) − d| ≤ 2^-53·|d|, or 2^-1075 if d is
  *     subnormal.
  *   - The product rounds once: |x − |d|·10^s| ≤ 2^-53·|d|·10^s.
  *   - Hence |x − t| ≤ 2^-52·|d|·10^s + 10^18·2^-1075, below
  *     2^-12 + 2^-64 when x < 2^40.
  *   - frac(x) = x − ⌊x⌋ is exact. The only half-integer closer than
  *     1/2 to x is ⌊x⌋ + 1/2, at distance |frac(x) − 1/2| > 2^-11. So no
  *     half-integer lies between x and t, and both round HALF_UP to m.
  */
case class DoubleToDecimal(child: Expression, dataType: DecimalType)
    extends UnaryExpression {

  // NULL for NaN and ±Inf, as the Cast gives
  override def nullable: Boolean = child.nullable || fallback.nullable

  override def prettyName: String = "double_to_decimal"

  /** Spark's cast of input column 0, for the values the fast path
    * leaves; errors carry this expression's origin, which the rule
    * copies from the Cast it replaces. */
  @transient private lazy val fallback: Cast =
    CurrentOrigin.withOrigin(origin)(Cast(
      BoundReference(0, DoubleType, nullable = false), dataType, None,
      EvalMode.ANSI))

  override protected def nullSafeEval(input: Any): Any =
    DoubleToDecimal.cast(input.asInstanceOf[Double], dataType.precision,
      dataType.scale, fallback)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = classOf[DoubleToDecimal].getName
    val cast = ctx.addReferenceObj("castFallback", fallback)
    nullSafeCodeGen(ctx, ev, d =>
      s"""${ev.value} = $obj.cast($d, ${dataType.precision},
         |  ${dataType.scale}, $cast);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): DoubleToDecimal = copy(child = newChild)
}

object DoubleToDecimal {
  private val pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)
  // exact: 10^s = 2^s·5^s and 5^18 < 2^53
  private val pow10d: Array[Double] = pow10.map(_.toDouble)
  private val bound = 1099511627776.0 // 2^40
  private val margin = 4.8828125e-4 // 2^-11

  /** `CAST(d AS DECIMAL(precision, scale))` where the error bound above
    * proves it equal to Spark's, else null. */
  def fast(d: Double, precision: Int, scale: Int): Decimal = {
    val x = Math.abs(d) * pow10d(scale)
    if (!(x < bound)) null // NaN and ±Inf too
    else {
      val floor = x.toLong
      val frac = x - floor
      val m = if (frac > 0.5) floor + 1 else floor
      if (Math.abs(frac - 0.5) <= margin || m >= pow10(precision)) null
      else Decimal.createUnsafe(if (d < 0) -m else m, precision, scale)
    }
  }

  /** The cast of `d`: [[fast]]'s result where it has one, else
    * `fallback`'s over `d` as input column 0. */
  def cast(d: Double, precision: Int, scale: Int, fallback: Expression)
      : Decimal = {
    val v = fast(d, precision, scale)
    if (v != null) v else fallback.eval(InternalRow(d)).asInstanceOf[Decimal]
  }
}
