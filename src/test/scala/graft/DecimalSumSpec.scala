package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Cast, EvalMode, NumericEvalContext}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DoubleToDecimal, LongPairDecimalSum}
import graft.plans.{DecimalSumRule, DoubleDecimalCastRule}
import graft.sources.TableLoader

/** `DecimalSumRule` + `LongPairDecimalSum`: every result equals stock
  * `Sum`'s, collected with the rule on and off. */
class DecimalSumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private def kernels(p: LogicalPlan): Int =
    p.collect { case n => n.expressions.map(_.collect {
      case k: LongPairDecimalSum => k }.size).sum }.sum

  /** Collects a fresh `build()` with the rule off, then on (a fresh
    * DataFrame each time: a Dataset keeps its optimized plan), asserts
    * equal rows and `kernelsExpected` kernels in the rule-on plan, and
    * returns the rows. */
  private def assertSame(build: () => DataFrame, kernelsExpected: Int)
      : Array[Row] = {
    val x = spark.experimental
    val saved = x.extraOptimizations
    val without = saved.filterNot(_ == DecimalSumRule)
    try {
      x.extraOptimizations = without
      val off = build()
      assert(kernels(off.queryExecution.optimizedPlan) == 0)
      val offRows = off.collect()
      x.extraOptimizations = without :+ DecimalSumRule
      val on = build()
      val n = kernels(on.queryExecution.optimizedPlan)
      assert(n == kernelsExpected, s"kernels in the optimized plan: $n")
      val onRows = on.collect()
      assert(onRows.toSeq == offRows.toSeq)
      onRows
    } finally x.extraOptimizations = saved
  }

  private def frame(dt: DecimalType, rows: Seq[(Int, java.math.BigDecimal)])
      : DataFrame = {
    val schema = StructType(Seq(
      StructField("g", IntegerType), StructField("v", dt)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (g, v) => Row(g, v) }, 4),
      schema)
  }

  /** Random values of `dt` over its whole range, signed, 10 % null. */
  private def random(dt: DecimalType, n: Int, groups: Int, seed: Long)
      : DataFrame = {
    val r = new Random(seed)
    val bound = BigInt(10).pow(dt.precision)
    frame(dt, Seq.fill(n) {
      val v =
        if (r.nextInt(10) == 0) null
        else new java.math.BigDecimal((BigInt(r.nextLong()) % bound).bigInteger,
          dt.scale)
      (r.nextInt(groups), v)
    })
  }

  Seq(DecimalType(18, 2), DecimalType(12, 4), DecimalType(9, 0)).foreach { dt =>
    test(s"random ${dt.simpleString} values: grouped and global sums match Sum") {
      Seq(1, 7, 50).foreach { groups =>
        val seed = dt.precision * 100L + groups
        assertSame(() => random(dt, 20000, groups, seed)
          .groupBy("g").agg(sum("v").as("s")).orderBy("g"), 1)
        assertSame(() => random(dt, 20000, groups, seed).agg(sum("v")), 1)
      }
    }
  }

  test("values near ±(10^18-1): carries into hi, mixed signs") {
    val max = new java.math.BigDecimal("999999999999999999")
    val r = new Random(7)
    val rows = Seq.tabulate(6000) { i =>
      (i % 3, if (i % 3 == 2 || r.nextInt(4) == 0) max.negate else max)
    }
    val on = assertSame(() => frame(DecimalType(18, 0), rows)
      .groupBy("g").agg(sum("v").as("s")).orderBy("g"), 1)
    // the all-negative group is past -10^21: well past a long
    assert(on(2).getDecimal(1) == max.negate.multiply(
      java.math.BigDecimal.valueOf(2000)))
  }

  test("all-null group, empty input, FILTER and several sums in one Aggregate") {
    val one = new java.math.BigDecimal("1.25")
    val rows = Seq((1, one), (1, null), (2, null), (2, null), (3, one.negate))
    val on = assertSame(() => frame(DecimalType(12, 2), rows)
      .groupBy("g").agg(sum("v").as("s")).orderBy("g"), 1)
    assert(on(1).isNullAt(1), "an all-null group sums to NULL")

    val empty = assertSame(() => frame(DecimalType(12, 2), Nil).agg(sum("v")), 1)
    assert(empty.length == 1 && empty(0).isNullAt(0))
    assertSame(() => frame(DecimalType(12, 2), Nil).groupBy("g").agg(sum("v")), 1)

    random(DecimalType(18, 2), 5000, 9, 3).createOrReplaceTempView("dsum_t")
    assertSame(() => spark.sql(
      """SELECT g, sum(v) FILTER (WHERE g % 2 = 0) AS even,
        |  sum(v) AS all_v, sum(CAST(g AS DECIMAL(9,0))) AS g9,
        |  sum(CAST(g AS DECIMAL(19,2))) AS g19, count(*) AS n
        |FROM dsum_t GROUP BY g ORDER BY g""".stripMargin), 3)
  }

  test("leaves SUM(DISTINCT), window sums, p = 8 and p = 19 on Spark's Sum") {
    val d18 = () => random(DecimalType(18, 2), 3000, 5, 11)
    val untouched: Seq[() => DataFrame] = Seq(
      () => d18().groupBy("g").agg(sum_distinct(col("v")).as("s"))
        .orderBy("g"),
      () => d18().withColumn("s", sum("v").over(Window.partitionBy("g")))
        .orderBy("g", "v"),
      () => random(DecimalType(8, 2), 3000, 5, 12)
        .groupBy("g").agg(sum("v").as("s")).orderBy("g"),
      () => random(DecimalType(19, 4), 3000, 5, 13)
        .groupBy("g").agg(sum("v").as("s")).orderBy("g"))
    untouched.foreach { q =>
      assertSame(q, 0)
      // on the analyzed plan too: in the optimizer Spark's own
      // DecimalAggregates has already taken the p = 8 sum
      assert(kernels(DecimalSumRule(q().queryExecution.analyzed)) == 0)
    }
    assert(kernels(DecimalSumRule(random(DecimalType(9, 2), 10, 2, 14)
      .groupBy("g").agg(sum("v")).queryExecution.analyzed)) == 1)
  }

  test("evaluate past 10^28 raises the exception class Sum raises") {
    val dt = DecimalType(18, 0)
    val k = LongPairDecimalSum(AttributeReference("v", dt)())
    def eval(hi: Long, lo: Long): Seq[Any] = {
      val e = BindReferences.bindReference(
        k.evaluateExpression, k.aggBufferAttributes)
      val row = InternalRow(hi, lo, false)
      Seq(e.eval(row),
        GenerateUnsafeProjection.generate(Seq(e)).apply(row).get(0, k.dataType))
    }
    // 10^28 - 1 = 2328306436538696289 * 2^32 + 268435455 still fits
    val top = eval(2328306436538696289L, 268435455L)
    top.foreach(v => assert(v.toString == "9" * 28))
    assert(eval(-1L, 4294967295L).forall(_.toString == "-1"))

    val stock = Sum(k.child, NumericEvalContext(EvalMode.ANSI))
    val stockErr = intercept[Throwable](BindReferences.bindReference(
      stock.evaluateExpression, stock.aggBufferAttributes)
      .eval(InternalRow(null, false)))
    assert(stockErr.isInstanceOf[ArithmeticException], stockErr)
    val e = BindReferences.bindReference(
      k.evaluateExpression, k.aggBufferAttributes)
    Seq(2328306436538696289L -> 268435456L, Long.MaxValue -> 0L,
        Long.MinValue -> 0L).foreach { case (hi, lo) =>
      val row = InternalRow(hi, lo, false)
      assert(intercept[Throwable](e.eval(row)).getClass == stockErr.getClass)
      assert(intercept[Throwable](GenerateUnsafeProjection.generate(Seq(e))
        .apply(row))
        .getClass == stockErr.getClass)
    }
  }

  test("every query path installs the rule once; q_agg_basic uses it") {
    TableLoader.configure(spark)
    TableLoader.configure(spark)
    Seq(DecimalSumRule, DoubleDecimalCastRule).foreach { r =>
      assert(spark.experimental.extraOptimizations.count(_ == r) == 1)
    }
    val q = SparkEntry.queries("q_agg_basic")(spark, TestSpark.fixtures("sf0.001"))
    val optimized = q.queryExecution.optimizedPlan
    assert(kernels(optimized) == 3)
    assert(DecimalSumRule(optimized) fastEquals optimized)
    // its three double→decimal casts run on a long, not a BigDecimal
    val casts = optimized.collect { case n => n.expressions.flatMap(_.collect {
      case c: DoubleToDecimal => c
      case c @ Cast(child, _: DecimalType, _, _) if child.dataType == DoubleType => c
    }) }.flatten
    assert(casts.size == 3 && casts.forall(_.isInstanceOf[DoubleToDecimal]),
      casts)
    q.collect()
    val generated = codegenString(q.queryExecution.executedPlan)
    assert(generated.contains("DoubleToDecimal.cast("))
    // Spark's cast builds `Decimal.apply(scala.math.BigDecimal.valueOf(d))`
    // per row; ROUND's java.math.BigDecimal.valueOf runs once per group
    assert(!generated.contains("scala.math.BigDecimal.valueOf"))
    // configure leaves AQE where the session put it
    val aqe = "spark.sql.adaptive.enabled"
    spark.conf.set(aqe, "false")
    try {
      TableLoader.table(spark, TestSpark.fixtures("sf0.001"), "region")
      assert(spark.conf.get(aqe) == "false")
    } finally spark.conf.set(aqe, "true")
  }
}
