package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewJoin
import graft.plans.{DecimalSumRule, DoubleDecimalCastRule}
import graft.sources.TableLoader

/** SQL-front-end registration of the custom expressions + the salted
  * skew join utility. */
class ExtensionsSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.session

  test("dotp and sorted_intersect_count are callable from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT dotp(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |  sorted_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L))
        |    AS c""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)
  }

  test("GraftExtensions injects the decimal sum and cast rules") {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
    // buildOptimizerRules is package-private in Scala, public in bytecode
    val rules = classOf[SparkSessionExtensions]
      .getMethod("buildOptimizerRules", classOf[SparkSession])
      .invoke(e, spark).asInstanceOf[Seq[AnyRef]]
    // exactly these two, once each: no other optimizer rule rides along
    assert(rules == Seq(DecimalSumRule, DoubleDecimalCastRule), rules)
  }

  test("topk aggregate is callable from SQL") {
    GraftExtensions.register(spark)
    val rows = spark.sql(
      """SELECT g, topk(s, id, 2) AS top FROM VALUES
        |  ('a', 3.0D, 1L), ('a', 5.0D, 2L), ('a', 5.0D, 3L),
        |  ('b', 1.0D, 9L)
        |AS t(g, s, id)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    val a = rows(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getDouble(0), r.getLong(1)))
    // ties at score 5.0 prefer the smaller id; strongest first
    assert(a == Seq((5.0, 2L), (5.0, 3L)))
    val b = rows(1).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(b == Seq((1.0, 9L)))
  }

  test("dotp raises on dimension mismatch instead of truncating") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql(
        """SELECT dotp(array(CAST(1.0 AS FLOAT)),
          |            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))
          |  AS d""".stripMargin).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null)
      && causes(e).exists(c =>
        Option(c.getMessage).exists(_.contains("dimension mismatch"))),
      s"unexpected failure: $e")
  }

  test("salted join returns exactly the unsalted join's rows") {
    val li = TableLoader.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"))
    val orders = TableLoader.orders(spark, sfDir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(orders, "l_orderkey")
    val salted = SkewJoin.saltedInnerJoin(li, orders, Seq("l_orderkey"), 8)
    assert(salted.count() == plain.count())
    val a = plain.orderBy("l_orderkey", "l_quantity", "o_orderpriority")
      .collect().toSeq
    val b = salted
      .select(plain.columns.map(col): _*)
      .orderBy("l_orderkey", "l_quantity", "o_orderpriority")
      .collect().toSeq
    assert(a == b)
  }

  test("theta_sketch and theta_union are callable from SQL") {
    GraftExtensions.register(spark)
    val est = spark.sql(
      """WITH days AS (
        |  SELECT id % 7 AS day, id % 100 AS u
        |  FROM range(10000)),
        |per_day AS (
        |  SELECT day, theta_sketch(u) AS sk FROM days GROUP BY day)
        |SELECT theta_union(sk) AS sk FROM per_day""".stripMargin)
      .collect()(0).getAs[Array[Byte]](0)
    // 100 distinct users, below the sketch's exact threshold
    assert(math.abs(
      graft.functions.ThetaOps.estimate(est) - 100.0) < 1e-6)
  }

  test("jaro_winkler and the freq_sketch family are callable from SQL") {
    GraftExtensions.register(spark)
    val jw = spark.sql(
      "SELECT jaro_winkler('MARTHA', 'MARHTA') AS jw").collect()(0)
      .getDouble(0)
    assert(math.abs(jw - 0.961111) < 1e-5)
    // 20 distinct items stay under the default map's 0.75*64 = 48
    // purge capacity -> exact counts survive the SQL group/merge path
    val r = spark.sql(
      """WITH g AS (
        |  SELECT id % 3 AS grp, id % 20 AS item FROM range(3000)),
        |per AS (SELECT grp, freq_sketch(item) AS sk FROM g GROUP BY grp),
        |all_sk AS (SELECT freq_merge(sk) AS sk FROM per)
        |SELECT freq_estimate(sk, 7L).est AS est FROM all_sk""".stripMargin)
      .collect()(0).getLong(0)
    assert(r == 150L, s"freq estimate $r")
  }
}
