package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Dev

/** `graft.tools.Dev`'s subcommands, driven on the shared test session. */
class DevSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = TestSpark.fixtures("sf0.001")

  test("explain writes the initial and then the final adaptive plan") {
    val out = Files.createTempDirectory("dev-explain")
    val files = Seq("q_agg_basic_t.txt", "q_agg_basic_t_final.txt")
      .map(out.resolve)
    try {
      Dev.explain(spark, sf, out, "t", Dev.queries(Seq("q_agg_basic")))
      assert(Files.readString(files(0)).contains("isFinalPlan=false"))
      assert(Files.readString(files(1)).contains("isFinalPlan=true"))
    } finally (files :+ out).foreach(Files.deleteIfExists)
  }

  test("dups reports no duplicated shuffle stage in q_agg_basic") {
    assert(Dev.dups(spark, sf, Dev.queries(Seq("q_agg_basic"))).isEmpty)
  }

  test("dups sees a shuffle stage run twice once exchange reuse is off") {
    val selfJoin = QDef.noOracle("q_self_join") { (s, _) =>
      val a = s.range(1000).groupBy((col("id") % 10).as("k")).count()
      a.join(a.withColumnRenamed("count", "c2"), "k")
    }
    val reuse = "spark.sql.exchange.reuse"
    assert(Dev.dups(spark, sf, Seq(selfJoin)).isEmpty)
    spark.conf.set(reuse, "false")
    try assert(Dev.dups(spark, sf, Seq(selfJoin)) == Seq(
      "[dup] q_self_join dupStages=2 (of 2 materialized) groups=2"))
    finally spark.conf.set(reuse, "true")
  }

  test("an unknown query name fails and is named") {
    val e = intercept[IllegalArgumentException](
      Dev.queries(Seq("q_agg_basic", "q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
  }
}
