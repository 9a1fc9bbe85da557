package graft.operators

import org.apache.spark.sql.functions._

import graft.QDef
import graft.operators.SortSetQueries.wideSort
import graft.sources.TableLoader._

/** Scans, projections, filters and scalar predicates
  * (SURVEY.md §2.1 scan rows + §2.2).
  *
  * All predicates here are plain column comparisons, so Catalyst pushes
  * them into the parquet scan (`PushedFilters` in explain) and prunes
  * unread columns — at 100 TB that is the difference between reading a
  * 2-column slice and the whole table.
  */
object ScanFilterQueries {

  /** Full-table scan + projection + computed column (per-table export,
    * the reference's `mdb-export` analog). Per-row arithmetic only —
    * IEEE-identical across engines, no accumulation.
    */
  val qScanParquet: QDef = QDef(
    "q_scan_parquet",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |    AS DOUBLE) AS revenue
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    // Project ABOVE the sort — the range partitioner samples its child
    // to pick bounds, so anything computed below a global sort runs
    // twice per execution. Sorting the raw columns first (they're no
    // wider than the computed row) keeps the decimal math single-pass;
    // order is preserved through the project. Measured 0.98 → 0.69 s
    // isolated. wideSort keeps the projection at full width (orderBy's
    // output is coalesced by AQE, see SortSetQueries.wideSort).
    val raw = lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice"), col("l_discount"))
    wideSort(raw, col("l_orderkey"), col("l_linenumber"))
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        // DECIMAL(18,4) inner cast, not ROUND(x,2): the product of two
        // 2-decimal doubles is exact at scale 4, so both engines recover
        // the same decimal; at scale 2 the true value can sit exactly on
        // a .xx5 boundary where Spark (decimal-string HALF_UP) and DuckDB
        // (binary half-away) disagree. The OUTER cast back to DOUBLE is
        // the round-2 driver-hash fix: DECIMAL output columns render
        // reader-dependently in the hash compare; decimal→double is
        // correctly rounded identically in both engines.
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)").cast("double").as("revenue"))
  }

  /** Scan requiring ingest-time type normalization: the events table's
    * TIMESTAMP(NANOS) repair is owned by TableLoader (SURVEY §0 fact 1).
    */
  val qScanEvents: QDef = QDef(
    "q_scan_events",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
      |FROM events
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    // timestamp_ntz: Spark's TimestampType writes UTC-adjusted parquet,
    // but the DuckDB oracle yields naive timestamps — NTZ (wall clock in
    // the UTC session) makes the written physical values identical.
    events(s, d)
      .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"))
      .orderBy(col("event_id"))
  }

  /** Conjunctive range predicates (TPC-H Q6 shape): timestamp BETWEEN +
    * double ranges. Pushes fully into the parquet scan.
    */
  val qFilter: QDef = QDef(
    "q_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                     AND TIMESTAMP '1996-12-31 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .filter(
        col("l_shipdate").between(
          lit("1996-01-01 00:00:00").cast("timestamp"),
          lit("1996-12-31 00:00:00").cast("timestamp"))
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** CASE WHEN / COALESCE / NULLIF — the Access `IIf` / `Nz` / `Switch`
    * trio mapped to ANSI (SURVEY §2.2, §3.3).
    */
  val qCaseNull: QDef = QDef(
    "q_case_null",
    """SELECT c_custkey,
      |  CASE WHEN c_acctbal < 0 THEN 'neg'
      |       WHEN c_acctbal = 0 THEN 'zero'
      |       ELSE 'pos' END AS bal_class,
      |  COALESCE(NULLIF(c_mktsegment, 'AUTOMOBILE'), 'OTHER') AS seg,
      |  COALESCE(NULLIF(ROUND(c_acctbal, 0), 0), -1) AS bal_trunc
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") === 0, "zero")
          .otherwise("pos")
          .as("bal_class"),
        coalesce(nullif(col("c_mktsegment"), lit("AUTOMOBILE")), lit("OTHER"))
          .as("seg"),
        coalesce(nullif(round(col("c_acctbal"), 0), lit(0d)), lit(-1d))
          .as("bal_trunc"))
      .orderBy(col("c_custkey"))
  }

  /** IN-list, LIKE (Access `*`/`?` wildcards → `%`/`_`), IS NULL
    * (SURVEY §2.2). */
  val qFilterInLike: QDef = QDef(
    "q_filter_in_like",
    """SELECT p_partkey, p_name, p_brand, p_type,
      |  (NULLIF(p_size, 25) IS NULL) AS is_size_25
      |FROM part
      |WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3', 'Brand#4',
      |                  'Brand#5', 'Brand#6', 'Brand#7', 'Brand#8')
      |  AND p_type LIKE '%A%'
      |  AND p_name LIKE '_a%'
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    part(s, d)
      .filter(
        col("p_brand").isin(
          "Brand#1", "Brand#2", "Brand#3", "Brand#4", "Brand#5", "Brand#6",
          "Brand#7", "Brand#8")
          && col("p_type").like("%A%")
          && col("p_name").like("_a%"))
      .select(
        col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        nullif(col("p_size"), lit(25)).isNull.as("is_size_25"))
      .orderBy(col("p_partkey"))
  }

  val defs: Seq[QDef] =
    Seq(qScanParquet, qScanEvents, qFilter, qCaseNull, qFilterInLike)
}
