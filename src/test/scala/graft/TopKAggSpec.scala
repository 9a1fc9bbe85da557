package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKAgg

/** Bounded-heap top-k aggregate vs the window-rank formulation: equal
  * output on the fixture and on random tie-heavy data, and the plan
  * must partial-aggregate (≤ k rows per group per mapper cross the
  * shuffle — the whole point vs WindowExec's full partition sort). */
class TopKAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  import spark.implicits._

  test("heap top-k equals window rank-filter on tie-heavy random data") {
    val rng = new scala.util.Random(20260812L)
    for (trial <- 1 to 5) {
      // few distinct scores → many ties, including at the k boundary
      val df = (1 to 400).map { i =>
        (s"g${rng.nextInt(5)}", rng.nextInt(6).toDouble, i.toLong)
      }.toDF("g", "score", "id").repartition(7)
      val k = 1 + rng.nextInt(4)
      val heap = df.groupBy($"g")
        .agg(TopKAgg($"score", $"id", k).as("top"))
        .select($"g", explode($"top").as("t"))
        .select($"g", $"t.score", $"t.id")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"g").orderBy($"score".desc, $"id")
      val window = df
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= k)
        .select($"g", $"score", $"id")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .toSet
      assert(heap == window, s"trial $trial k=$k")
    }
  }

  test("emitted array is sorted strongest-first with total tie order") {
    val rows = SparkEntry.queries("q_agg_topk")(spark,
      "/root/testdata/sf0.001").collect()
    rows.groupBy(_.getString(0)).foreach { case (_, grp) =>
      val seq = grp.map(r => (r.getDouble(1), r.getLong(2))).toSeq
      val expect = seq.sortBy { case (s, id) => (-s, id) }
      assert(seq == expect)
      assert(seq.size <= 3)
    }
  }

  test("q_agg_topk partial-aggregates map-side (no full partition sort)") {
    val df = SparkEntry.queries("q_agg_topk")(spark,
      "/root/testdata/sf0.001")
    val plan = graft.tools.PlanAudit.staticPlan(df).toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(plan.contains("partial_"),
      "heap must build map-side before the shuffle")
    assert(!plan.contains("Window"),
      "the heap formulation must not fall back to WindowExec")
  }
}
