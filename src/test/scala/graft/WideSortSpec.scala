package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `SortSetQueries.wideSort`: a sort-then-project query keeps its
  * projection at the session's shuffle width, in the same total order
  * as `orderBy`. */
class WideSortSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("q_variant_funcs projects in shuffle.partitions tasks, rows in " +
    "orderBy's order") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val sfDir = TestSpark.fixtures("sf0.01")
    val q = () => SparkEntry.queries("q_variant_funcs")(spark, sfDir)
    val (rows, m) = TestSpark.measure(q().collect())
    // the last stage (the projection above the range exchange)
    assert(m.stageTasks(m.stageTasks.keys.max) == 4, m.stageTasks)
    val ordered = q().orderBy(col("event_id")).collect()
    assert(rows.length == 10000)
    assert(rows.toSeq == ordered.toSeq)
  }
}
