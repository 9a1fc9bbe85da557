package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.plans.{DecimalSumRule, DoubleDecimalCastRule}

/** Central table loader for the testdata star schema + extension tables.
  *
  * Responsibilities (SURVEY.md §0 "hard-won environment facts", §7 M0):
  *
  *   - '''events nanos repair''': `events.parquet` stores `ts` as Parquet
  *     `TIMESTAMP(NANOS)`, which Spark 4.x refuses to read natively
  *     (`PARQUET_TYPE_ILLEGAL`). We read it with
  *     `spark.sql.legacy.parquet.nanosAsLong=true` (so `ts` arrives as
  *     `LongType` nanos) and convert with `timestamp_micros(ts div 1000)`.
  *     Integer division truncates exactly like the DuckDB oracle's ns→us
  *     cast, so downstream results hash-match.
  *   - '''Session defaults''': UTC session timezone, TIMESTAMP_MICROS
  *     parquet output (so written timestamps round-trip bit-exactly into
  *     the DuckDB comparator), AQE at Spark's default, on (runtime
  *     coalescing + skew handling is the first-line answer at 100 TB
  *     scale), and
  *     [[graft.plans.DecimalSumRule]] installed, so every SUM of a
  *     DECIMAL(9..18) accumulates exactly in two longs instead of
  *     Spark's BigDecimal buffer, and
  *     [[graft.plans.DoubleDecimalCastRule]], so a double→DECIMAL(p≤18)
  *     cast rounds on a long instead of a BigDecimal (same results, no
  *     option to turn either off).
  *   - '''Plan memoization, NOT data caching''': per (session, sfDir,
  *     table) the loaded DataFrame object is memoized, so a multi-query
  *     run (Verify / Bench) lists files and reads parquet footers once.
  *     The data itself is deliberately NOT `persist()`ed: a cached
  *     table materializes ALL columns and swallows predicate pushdown
  *     and column pruning (the scan would feed the cache, not the
  *     query) — the opposite of how a 100 TB fact table must behave.
  *     Repeat scans stay cheap via the vectorized reader + OS page
  *     cache; on a real cluster only small hot dimensions would be
  *     explicitly cached.
  */
object TableLoader {

  /** Tables whose parquet schema loads cleanly (timestamp[ms] etc.). */
  val plainTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  val allTables: Seq[String] = plainTables :+ "events"

  /** Small hot dimensions — the only tables worth materializing in
    * memory (≤ a few MB at any tested scale; they feed broadcast
    * joins). Fact tables stay scan-based so pushdown/pruning work. */
  val dimTables: Set[String] =
    Set("region", "nation", "customer", "supplier", "part")


  /** Idempotent session configuration every query path goes through. */
  def configure(spark: SparkSession): Unit = {
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    // Written timestamps become parquet TIMESTAMP(MICROS): the exact
    // physical type DuckDB reads back loss-lessly (INT96 is legacy).
    c.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // Required to read events.parquet (TIMESTAMP(NANOS) -> LongType).
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Adaptive execution (partition coalescing + skew-join splitting)
    // is Spark's default and is not set here, so a session or user
    // that turns it off keeps it off.
    // Deliberately NO engine-level initialPartitionNum override
    // (measured, r14 optimization round 1): forcing every shuffle to
    // start at 128 map buckets and letting AQE coalesce was 1.4-5.3x
    // SLOWER across the top-20 bench queries at sf0.1/local[32] (AQE
    // stage-materialization overhead dominates small shuffles), and
    // MIXED at 10x volume (text passes 0.66-0.92x, but q_tpch_q2 3.1x,
    // q_weighted_median 2.8x, q_dedup_substring 2.2x worse — the extra
    // partitions defeat runtime broadcast promotion and the
    // shuffle_hash build-side economics). Reduce-side width at cluster
    // scale is a submit-time setting (spark.sql.shuffle.partitions /
    // spark.sql.adaptive.coalescePartitions.initialPartitionNum per
    // deployment); the engine keeps AQE on so whatever width the
    // submit chooses is coalesced per-stage by actual bytes.
    // Exact DECIMAL(9-18) sums on two longs instead of a BigDecimal
    // buffer (graft.plans.DecimalSumRule), and double→DECIMAL(p≤18)
    // casts on a long (graft.plans.DoubleDecimalCastRule); each added
    // once per session.
    val x = spark.experimental
    x.synchronized {
      Seq(DecimalSumRule, DoubleDecimalCastRule).foreach { r =>
        if (!x.extraOptimizations.contains(r))
          x.extraOptimizations = x.extraOptimizations :+ r
      }
    }
  }

  /** Load (and memoize) one table for a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    configure(spark)
    SessionCache.getOrElseUpdate(spark, ("table", sfDir, name)) {
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      val df =
        if (name == "events") {
          // The driver has shipped events.ts as TIMESTAMP(NANOS) (reads
          // as Long under nanosAsLong) in some rounds and TIMESTAMP(
          // MICROS, isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ) in
          // others. Normalize every shape to TimestampType micros; with
          // the UTC session timezone the NTZ->LTZ cast is value-exact,
          // matching DuckDB's naive TIMESTAMP read of the same file.
          import org.apache.spark.sql.functions.{col, expr}
          import org.apache.spark.sql.types.{LongType, TimestampNTZType}
          raw.schema("ts").dataType match {
            case LongType =>
              // Long nanos: truncate to micros exactly like DuckDB's
              // TIMESTAMP_NS -> TIMESTAMP cast.
              raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
            case TimestampNTZType =>
              raw.withColumn("ts", col("ts").cast("timestamp"))
            case _ => raw
          }
        } else raw
      if (dimTables(name)) df.persist(StorageLevel.MEMORY_AND_DISK)
      else df
    }
  }

  /** Touch every table once (file listing + footer reads + first
    * codegen — start-up cost analogous to session start, kept outside
    * per-query timings). */
  def warm(spark: SparkSession, sfDir: String): Unit =
    allTables.foreach(t => table(spark, sfDir, t).count())

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}
