package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableLoader
import graft.tools.PlanAudit

/** Storage-layout levers for 100 TB (SURVEY.md §4.2/§7 note 7),
  * demonstrated end-to-end: bucketing makes the fact-fact join
  * exchange-free, and partition layout + dynamic partition pruning
  * keeps a star-join scan to the partitions the dim filter selects. */
class ScaleLayoutSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.session

  test("bucketed fact-fact join runs without any shuffle exchange") {
    TableLoader.configure(spark)
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"/tmp/graft_warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    TableLoader.lineitem(spark, sfDir).write
      .mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    TableLoader.orders(spark, sfDir).write
      .mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")
    // force the shuffle-join path (no broadcast) to prove co-location
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val shuffles = PlanAudit.staticPlan(joined)
        .collect { case e: ShuffleExchangeExec => e }
      // the join itself must be exchange-free: only the tiny
      // post-aggregation exchange may remain
      assert(shuffles.size <= 1, s"bucketed join still shuffles")
      assert(joined.agg(sum(col("n"))).head().getLong(0) ==
        TableLoader.lineitem(spark, sfDir).count())
    } finally spark.conf
      .set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("partitioned layout + DPP prunes fact partitions via dim filter") {
    val dir = Files.createTempDirectory("graft_dpp").toString
    TableLoader.configure(spark)
    TableLoader.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year")
      .parquet(s"$dir/orders_part")
    val fact = spark.read.parquet(s"$dir/orders_part")
    // the dim must come from a source the optimizer can't constant-fold
    // (a literal dim would turn into a STATIC partition filter); the
    // selective predicate is on d_tag, so o_year's values are only
    // knowable at runtime -> dynamic pruning subquery
    import spark.implicits._
    (1995 to 2001).map(y => (y, if (y == 1997) "focus" else "other"))
      .toDF("d_year", "d_tag")
      .write.mode("overwrite").parquet(s"$dir/dim_year")
    val dim = spark.read.parquet(s"$dir/dim_year")
      .filter(col("d_tag") === "focus")
    val joined = fact
      .join(broadcast(dim), col("o_year") === col("d_year"))
      .groupBy(col("d_tag")).agg(count(lit(1)).as("n"))
    val scan = PlanAudit.staticPlan(joined)
      .collectWithSubqueries { case f: FileSourceScanExec => f }
      .find(_.metadata.get("Location").exists(_.contains("orders_part")))
      .get
    assert(scan.partitionFilters.nonEmpty
      && scan.partitionFilters.mkString.contains("dynamicpruning"),
      s"no dynamic pruning in: ${scan.partitionFilters}")
    // and the result only counts 1997 orders
    val want = TableLoader.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === 1997).count()
    assert(joined.collect()(0).getAs[Long]("n") == want)
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // the third runtime-pruning lever next to DPP and AQE: a selective
    // filter on the build side injects a bloom_filter_agg subquery that
    // pre-filters the fact scan BEFORE the join shuffle. The two size
    // thresholds exist so tiny builds/scans skip it - at fixture scale
    // we zero the application-side threshold; at 100 TB the 10 GB
    // default triggers on every real fact table.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val sel = TableLoader.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = TableLoader.lineitem(spark, sfDir)
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
      assert(j.queryExecution.optimizedPlan.toString
        .contains("bloom_filter_agg"),
        "no runtime bloom filter injected")
      // and the plan still computes the right answer
      val got = j.collect()(0).getLong(1)
      val want = TableLoader.lineitem(spark, sfDir)
        .join(TableLoader.orders(spark, sfDir)
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(got == want)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
