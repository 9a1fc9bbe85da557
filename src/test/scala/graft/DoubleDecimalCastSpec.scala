package graft

import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, Cast, EvalMode, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
import org.apache.spark.sql.catalyst.trees.{CurrentOrigin, Origin}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DoubleToDecimal
import graft.plans.DoubleDecimalCastRule

/** `DoubleDecimalCastRule` + `DoubleToDecimal`: every value, NULL and
  * error equals stock ANSI `Cast`'s, interpreted and code-generated, on
  * adversarial and seeded random doubles. */
class DoubleDecimalCastSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private val sql = "SELECT CAST(d AS DECIMAL(p, s)) FROM t"
  private val origin = Origin(line = Some(1), startPosition = Some(7),
    startIndex = Some(7), stopIndex = Some(30), sqlText = Some(sql))

  /** Stock `Cast` of input column 0 and the rule's rewrite of it. */
  private def pair(p: Int, s: Int): (Expression, Expression) = {
    val cast = CurrentOrigin.withOrigin(origin)(Cast(
      BoundReference(0, DoubleType, nullable = true), DecimalType(p, s),
      None, EvalMode.ANSI))
    val rewritten = DoubleDecimalCastRule(
      Project(Seq(Alias(cast, "x")()), OneRowRelation()))
      .asInstanceOf[Project].projectList.head.children.head
    assert(rewritten.isInstanceOf[DoubleToDecimal], rewritten)
    assert(rewritten.nullable == cast.nullable)
    (cast, rewritten)
  }

  /** An error's class, condition, query context and message. */
  private def describe(e: Throwable): String = e match {
    case t: SparkThrowable =>
      s"${e.getClass.getName} ${t.getCondition} " +
        t.getQueryContext.map(_.summary).mkString(" | ") +
        s" ${e.getMessage}"
    case _ => s"${e.getClass.getName} ${e.getMessage}"
  }

  /** A value as text with its precision and scale, NULL, or the error. */
  private def outcome(f: => Any): String =
    try f match {
      case null => "NULL"
      case d: Decimal =>
        s"${d.toJavaBigDecimal.toPlainString} (${d.precision},${d.scale})"
    } catch { case e: Throwable => describe(e) }

  /** Checks `values` at DECIMAL(p,s): the rewrite's interpreted and
    * generated results against the stock cast's. Returns how many
    * values the fast path took. */
  private def assertSame(p: Int, s: Int, values: Seq[Double]): Int = {
    val (cast, ours) = pair(p, s)
    // generate, not create: create would fall back to interpreted
    // evaluation if the generated code failed to compile
    val castGen = GenerateUnsafeProjection.generate(Seq(cast))
    val oursGen = GenerateUnsafeProjection.generate(Seq(ours))
    def gen(proj: UnsafeProjection, row: InternalRow): Any = {
      val out = proj(row)
      if (out.isNullAt(0)) null else out.getDecimal(0, p, s)
    }
    values.foreach { d =>
      val row = InternalRow(d)
      val want = outcome(cast.eval(row))
      val at = s"${java.lang.Double.toString(d)} at DECIMAL($p,$s)"
      assert(outcome(ours.eval(row)) == want, s"interpreted, $at")
      assert(outcome(gen(oursGen, row)) == outcome(gen(castGen, row)),
        s"generated, $at")
    }
    values.count(DoubleToDecimal.fast(_, p, s) != null)
  }

  test("fixed values, ties and overflow edges equal stock Cast") {
    def one(d: Double, p: Int, s: Int): String = {
      assertSame(p, s, Seq(d))
      outcome(pair(p, s)._2.eval(InternalRow(d)))
    }
    assert(one(1.005, 18, 2) == "1.01 (18,2)")
    assert(one(2.675, 18, 2) == "2.68 (18,2)")
    assert(one(0.125, 18, 2) == "0.13 (18,2)")
    assert(one(-0.125, 18, 2) == "-0.13 (18,2)")
    assert(one(2.5, 18, 0) == "3 (18,0)")
    assert(one(-2.5, 18, 0) == "-3 (18,0)")
    assert(one(0.5, 18, 0) == "1 (18,0)")
    assert(one(-0.0, 18, 2) == "0.00 (18,2)")
    assert(one(4.9e-324, 18, 6) == "0.000000 (18,6)")
    assert(one(4503599627370496.0, 18, 0) == "4503599627370496 (18,0)")
    assert(one(9007199254740993.0, 18, 0) == "9007199254740992 (18,0)")
    assert(one(1e15 + 0.5, 18, 0) == "1000000000000001 (18,0)")
    assert(one(9999999.994, 9, 2) == "9999999.99 (9,2)")
    assert(one(9999999.995, 9, 2).contains("NUMERIC_VALUE_OUT_OF_RANGE"))
    assert(one(-9999999.995, 9, 2).contains(sql))
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .foreach(d => assert(one(d, 18, 2) == "NULL"))
    // the guard sends each tie and near-tie to the stock cast
    Seq(1.005 -> 2, 2.675 -> 2, 0.125 -> 2, 2.5 -> 0)
      .foreach { case (d, s) => assert(DoubleToDecimal.fast(d, 18, s) == null) }
    // NULL input
    val (cast, ours) = pair(18, 2)
    assert(ours.eval(InternalRow(null)) == null && cast.eval(InternalRow(null)) == null)
  }

  test("1 050 000 seeded random doubles over scales 0-6 equal stock Cast") {
    val r = new Random(20261020L)
    var fastTaken, total = 0
    for (s <- 0 to 6; p <- Seq(math.max(s, 1), s + 3, 18).distinct) {
      val values = Seq.fill(1050000 / 7 / 3) {
        val sign = if (r.nextBoolean()) -1.0 else 1.0
        if (r.nextBoolean()) {
          // k/2·10^-s: an exact value at scale s, or a tie at s+1 digits
          val k = (r.nextLong() >>> 1) % math.pow(10, 1 + r.nextInt(17)).toLong
          sign * new java.math.BigDecimal(
            java.math.BigInteger.valueOf(5 * k), s + 1).doubleValue
        } else if (r.nextInt(50) == 0) {
          java.lang.Double.longBitsToDouble(r.nextLong()) // any bits
        } else {
          // magnitudes from below the last digit to past DECIMAL(p,s)
          sign * r.nextDouble() * math.pow(10, r.nextInt(p + 4) - s - 2)
        }
      }
      fastTaken += assertSame(p, s, values)
      total += values.size
    }
    assert(total >= 1000000)
    assert(fastTaken > total / 2, s"fast path took $fastTaken of $total")
  }

  /** Collects `q` with the rule off and `q2`, an identical build, with
    * it on. The toggle comes after both builds: `TableLoader.table`
    * re-adds the rule, and a Dataset optimizes once, on first use. */
  private def onOff[T](q: DataFrame, q2: DataFrame)(f: DataFrame => T)
      : (T, T) = {
    val x = spark.experimental
    val saved = x.extraOptimizations
    try {
      x.extraOptimizations = saved.filterNot(_ == DoubleDecimalCastRule)
      val off = f(q)
      x.extraOptimizations = saved.filterNot(_ == DoubleDecimalCastRule) :+
        DoubleDecimalCastRule
      (off, f(q2))
    } finally x.extraOptimizations = saved
  }

  private def toDecimalCount(q: DataFrame): Int =
    q.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.map(_.collect { case e: DoubleToDecimal => e }.size).sum
    }.sum

  test("q_agg_basic and a failing SQL cast give the same rows and errors") {
    val build = () =>
      SparkEntry.queries("q_agg_basic")(spark, TestSpark.fixtures("sf0.01"))
    val (off, on) = onOff(build(), build()) { q =>
      (toDecimalCount(q), q.collect().toSeq)
    }
    assert(off._1 == 0 && on._1 == 3)
    assert(on._2 == off._2 && on._2.nonEmpty)

    val rows = Seq(1.5, 2.675, 9999999.995).map(Row(_))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("d", DoubleType))))
      .createOrReplaceTempView("ddc_t")
    val failing = () => spark.sql(
      "SELECT CAST(d AS DECIMAL(9,2)) AS x FROM ddc_t ORDER BY x")
    def rootError(q: DataFrame): String = {
      val e = intercept[Throwable](q.collect())
      val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .find(_.isInstanceOf[SparkThrowable])
      assert(root.isDefined, e)
      describe(root.get)
    }
    val (offErr, onErr) = onOff(failing(), failing())(rootError)
    assert(onErr == offErr)
    assert(onErr.contains("NUMERIC_VALUE_OUT_OF_RANGE") &&
      onErr.contains("CAST(d AS DECIMAL(9,2))"), onErr)
  }

  test("an INSERT of doubles into a DECIMAL(9,2) column keeps Spark's rows and error") {
    // an INSERT runs when spark.sql returns, so the rule is set first
    def withRule[T](on: Boolean)(f: => T): T = {
      val x = spark.experimental
      val saved = x.extraOptimizations
      val others = saved.filterNot(_ == DoubleDecimalCastRule)
      try {
        x.extraOptimizations = if (on) others :+ DoubleDecimalCastRule else others
        f
      } finally x.extraOptimizations = saved
    }
    def insert(on: Boolean, values: Seq[Double]): Either[String, Seq[Row]] = {
      spark.sql("DROP TABLE IF EXISTS ddc_ins")
      spark.sql("CREATE TABLE ddc_ins (x DECIMAL(9,2)) USING parquet")
      spark.createDataFrame(
        spark.sparkContext.parallelize(values.map(Row(_)), 2),
        StructType(Seq(StructField("d", DoubleType))))
        .createOrReplaceTempView("ddc_ins_src")
      try withRule(on) {
        spark.sql("INSERT INTO ddc_ins SELECT d FROM ddc_ins_src")
        Right(spark.table("ddc_ins").orderBy("x").collect().toSeq)
      } catch {
        case e: Throwable =>
          val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .find(_.isInstanceOf[SparkThrowable]).getOrElse(e)
          Left(describe(root))
      } finally spark.sql("DROP TABLE IF EXISTS ddc_ins")
    }
    val inRange = Seq(1.005, 2.675, -0.125, 9999999.994)
    val rows = insert(on = true, inRange)
    assert(rows == insert(on = false, inRange))
    assert(rows.map(_.map(_.getDecimal(0).toPlainString)) ==
      Right(Seq("-0.13", "1.01", "2.68", "9999999.99")))
    val err = insert(on = true, Seq(1.5, 9999999.995))
    assert(err == insert(on = false, Seq(1.5, 9999999.995)))
    assert(err.left.exists(_.contains("CAST_OVERFLOW_IN_TABLE_INSERT")), err)
  }
}
