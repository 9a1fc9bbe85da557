package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QDef
import graft.functions.GeoMean
import graft.sources.TableLoader._

/** Aggregation operators (SURVEY.md §2.4).
  *
  * All groupings compile to `HashAggregateExec` with a map-side partial
  * phase, so at cluster scale only partially-aggregated rows cross the
  * one shuffle per query — the shape that survives 100 TB.
  *
  * Determinism: SUMs over double columns go through DECIMAL casts
  * (exact, order-independent across partitions); AVG/stats stay double
  * with ROUND (their error is divided by n, far below the rounding
  * granularity).
  */
object AggQueries {

  /** Flagship: TPC-H Q1 pricing summary (multi-key group, SUM/AVG/COUNT).
    * Partial aggregation reduces ~6 B lineitem rows (100 TB scale) to
    * |flags|x|status| rows per task before the single shuffle.
    *
    * Output SUMs accumulate in DECIMAL (exact, order-independent) but are
    * cast to DOUBLE on BOTH engines: decimal→double is correctly rounded
    * in Spark and DuckDB alike, whereas DECIMAL *outputs* render
    * differently per reader in the driver's hash compare (the round-1
    * 15-query failure cluster — values identical, hashes not). Both
    * halves of each exact sum run on longs, through rules that
    * `TableLoader.configure` installs: the three double→DECIMAL(18,s)
    * casts on [[graft.functions.DoubleToDecimal]] (no BigDecimal per
    * row) and the three sums on [[graft.functions.LongPairDecimalSum]]
    * (two longs per group, not Spark's BigDecimal DECIMAL(28,s)
    * buffer). The decimals are the same as Spark's own.
    */
  val qAggBasic: QDef = QDef(
    "q_agg_basic",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS sum_disc_price,
      |  ROUND(AVG(l_quantity), 4) AS avg_qty,
      |  ROUND(AVG(l_extendedprice), 4) AS avg_price,
      |  ROUND(AVG(l_discount), 4) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double")
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Exact COUNT(DISTINCT) per priority — Catalyst expands to a two-phase
    * aggregate; stays exact (the approximate twin is
    * q_agg_approx_distinct). */
  val qAggDistinct: QDef = QDef(
    "q_agg_distinct",
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS n_cust,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Post-aggregation filter (HAVING). */
  val qAggHaving: QDef = QDef(
    "q_agg_having",
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total
      |FROM orders
      |GROUP BY o_custkey
      |HAVING COUNT(*) >= 12
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("total"))
      .where(col("n_orders") >= 12)
      .orderBy(col("o_custkey"))
  }

  private def rollupCubeOracle(op: String) =
    s"""SELECT CAST(GROUPING(n_name) AS BIGINT) AS g_n,
       |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_p,
       |  n_name, o_orderpriority, COUNT(*) AS n_orders,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY $op(n_name, o_orderpriority)
       |ORDER BY g_n, g_p, n_name NULLS FIRST,
       |  o_orderpriority NULLS FIRST""".stripMargin

  private def rollupCube(
      kind: String): (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = { (s, d) =>
    val joined = orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
    val grouped =
      if (kind == "rollup") joined.rollup(col("n_name"), col("o_orderpriority"))
      else joined.cube(col("n_name"), col("o_orderpriority"))
    grouped
      .agg(
        grouping(col("n_name")).cast("bigint").as("g_n"),
        grouping(col("o_orderpriority")).cast("bigint").as("g_p"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("total"))
      .select(
        col("g_n"), col("g_p"), col("n_name"), col("o_orderpriority"),
        col("n_orders"), col("total"))
      .orderBy(
        col("g_n"), col("g_p"), asc_nulls_first("n_name"),
        asc_nulls_first("o_orderpriority"))
  }

  /** Hierarchical subtotals (nation → priority). GROUPING() columns pin
    * subtotal rows; NULLS FIRST aligned on both engines. */
  val qAggRollup: QDef =
    QDef("q_agg_rollup", rollupCubeOracle("ROLLUP"))(rollupCube("rollup"))

  /** All grouping combinations. */
  val qAggCube: QDef =
    QDef("q_agg_cube", rollupCubeOracle("CUBE"))(rollupCube("cube"))

  /** Explicit grouping sets: (nation), (priority) — no grand total. */
  val qAggGroupingSets: QDef = QDef(
    "q_agg_grouping_sets",
    """SELECT CAST(GROUPING(n_name) AS BIGINT) AS g_n,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_p,
      |  n_name, o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY GROUPING SETS ((n_name), (o_orderpriority))
      |ORDER BY g_n, g_p, n_name NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
    orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupingSets(
        Seq(Seq(col("n_name")), Seq(col("o_orderpriority"))),
        col("n_name"), col("o_orderpriority"))
      .agg(
        grouping(col("n_name")).cast("bigint").as("g_n"),
        grouping(col("o_orderpriority")).cast("bigint").as("g_p"),
        count(lit(1)).as("n_orders"))
      .select(
        col("g_n"), col("g_p"), col("n_name"), col("o_orderpriority"),
        col("n_orders"))
      .orderBy(
        col("g_n"), col("g_p"), asc_nulls_first("n_name"),
        asc_nulls_first("o_orderpriority"))
  }

  /** Statistical aggregates (Access StDev/Var + corr/covar). Computed
    * over small-magnitude columns so ROUND(,4) sits far above the
    * accumulated float error. */
  val qAggStats: QDef = QDef(
    "q_agg_stats",
    """SELECT l_returnflag,
      |  ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
      |  ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
      |  ROUND(STDDEV_SAMP(l_discount), 4) AS sd_disc,
      |  ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |  ROUND(COVAR_SAMP(l_quantity, l_discount), 4) AS cov_qty_disc
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(stddev_samp(col("l_discount")), 4).as("sd_disc"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4)
          .as("cov_qty_disc"))
      .orderBy(col("l_returnflag"))
  }

  /** Access First/Last made deterministic as arg-max/arg-min over an
    * exact BIGINT composite key: acctbal has exactly 2 decimals, so
    * ROUND(bal*100) is an integer ≤ 1e6 in magnitude; shifting it by
    * 2^35 leaves custkey < 2^35 (≈ 3.4e10, past TPC-H sf 200 000 —
    * comfortably beyond the 100 TB design point of sf ≈ 100 000 /
    * 1.5e10 customers) as tie-break bits, the whole key stays < 2^63
    * in magnitude, and distinct (bal, custkey) pairs get distinct keys
    * — lexicographic and collision-free, unlike the round-1 double
    * encoding bal*1e7+custkey which lost ordering once custkey
    * exceeded 1e5. (DuckDB 1.0 arg_max has no ROW-key overload, so a
    * struct key is not portable; ROUND is spelled on both sides
    * because double→int casts truncate in Spark but round in DuckDB.) */
  val qAggFirstLast: QDef = QDef(
    "q_agg_first_last",
    """SELECT c_nationkey,
      |  ARG_MAX(c_name, CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
      |    * 34359738368 + c_custkey) AS richest,
      |  ARG_MIN(c_name, CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
      |    * 34359738368 + c_custkey) AS poorest
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (s, d) =>
    val key = round(col("c_acctbal") * lit(100), 0).cast("bigint") *
      lit(34359738368L) + col("c_custkey")
    customer(s, d)
      .groupBy(col("c_nationkey"))
      .agg(
        max_by(col("c_name"), key).as("richest"),
        min_by(col("c_name"), key).as("poorest"))
      .orderBy(col("c_nationkey"))
  }

  /** HLL approximate distinct — the 100 TB substitute for exact
    * COUNT(DISTINCT). Sketches are engine-specific → no oracle; the
    * scalatest asserts the rsd bound against the exact count. */
  val qAggApproxDistinct: QDef = QDef.noOracle("q_agg_approx_distinct") {
    (s, d) =>
      events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .orderBy(col("event_type"))
  }

  /** Custom typed Aggregator (geometric mean) with a portable closed-form
    * oracle EXP(AVG(LN(x))). */
  val qAggUdafGeomean: QDef = QDef(
    "q_agg_udaf_geomean",
    """SELECT l_returnflag,
      |  ROUND(EXP(AVG(LN(l_extendedprice))), 4) AS geo_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(round(GeoMean(col("l_extendedprice")), 4).as("geo_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact interpolated percentiles (median / p90) — both engines use
    * the index = q·(n-1) linear-interpolation definition; at 100 TB the
    * approx twin (percentile_approx sketches) replaces the exact sort.
    */
  val qAggPercentiles: QDef = QDef(
    "q_agg_percentiles",
    """SELECT o_orderpriority,
      |  ROUND(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
      |  ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(percentile(col("o_totalprice"), lit(0.5)), 2)
          .as("median_price"),
        round(percentile(col("o_totalprice"), lit(0.9)), 2)
          .as("p90_price"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Sketch-based percentile (the 100 TB path: no global sort, a
    * GK-style summary per partition merged associatively).
    * ORACLE-GATED since round 11 (r10 verdict #6, the
    * q_freq_sketch_topk precedent): with accuracy = 500000 the GK rank
    * error bound ε·N = N/500000 stays under 0.5 ranks with a 8×+
    * margin at both gate scales (sf0.01 ≈ 3k rows/group → 0.006,
    * sf0.1 ≈ 30k → 0.06; exactness holds to 250k rows/group), so the
    * sketch
    * answer is PROVABLY the exact discrete quantile — which equals
    * DuckDB's quantile_disc (smallest element with rank ≥ ⌈p·n⌉;
    * fuzz-verified over 240 random group×percentile cases including
    * duplicate-heavy and n=1 groups). The genuinely-approximate
    * purge regime — the actual 100 TB operating point, where ε·N > 1
    * and no oracle can follow — is bound-pinned in AggApproxSpec. */
  val qAggApproxPercentile: QDef = QDef(
    "q_agg_approx_percentile",
    """SELECT o_orderpriority,
      |  ROUND(quantile_disc(o_totalprice, 0.5), 2) AS approx_median
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) {
    (s, d) =>
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(percentile_approx(col("o_totalprice"), lit(0.5), lit(500000)),
            2).as("approx_median"))
        .orderBy(col("o_orderpriority"))
  }

  /** String aggregation (PostgreSQL string_agg / Access via VBA concat
    * idioms): deterministic by sorting the collected values — Spark's
    * collect_list is input-order-nondeterministic, so the sort is the
    * portability contract, mirrored by the oracle's ORDER BY inside the
    * aggregate. */
  val qAggStringAgg: QDef = QDef(
    "q_agg_string_agg",
    """SELECT n.n_regionkey AS region_key,
      |  string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
      |  COUNT(*) AS n
      |FROM nation n
      |GROUP BY region_key
      |ORDER BY region_key""".stripMargin) { (s, d) =>
    nation(s, d)
      .groupBy(col("n_regionkey").as("region_key"))
      .agg(
        array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"),
        count(lit(1)).as("n"))
      .orderBy(col("region_key"))
  }

  /** Boolean and bitwise aggregates (PostgreSQL bool_and/bool_or /
    * bit_*; Jet has no direct twin — migrated reports gain them on the
    * target side). All integer/boolean-exact: no rounding needed. */
  val qAggBoolBitwise: QDef = QDef(
    "q_agg_bool_bitwise",
    """SELECT o_orderpriority,
      |  bool_and(o_totalprice > 1000) AS all_over_1k,
      |  bool_or(o_orderstatus = 'F') AS any_finished,
      |  bit_and(CAST(o_custkey AS BIGINT)) AS key_and,
      |  bit_or(CAST(o_custkey AS BIGINT)) AS key_or,
      |  bit_xor(CAST(o_custkey AS BIGINT)) AS key_xor
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
        bool_or(col("o_orderstatus") === "F").as("any_finished"),
        bit_and(col("o_custkey").cast("bigint")).as("key_and"),
        bit_or(col("o_custkey").cast("bigint")).as("key_or"),
        bit_xor(col("o_custkey").cast("bigint")).as("key_xor"))
      .orderBy(col("o_orderpriority"))
  }

  /** Deterministic MODE: most frequent status per priority, ties broken
    * toward the smaller value. Built-in mode()'s tie-pick is engine-
    * arbitrary on BOTH engines, so the cross-engine-safe form is the
    * two-level count → rank formulation — which is also the scalable
    * one (first aggregation collapses to |groups×values| rows before
    * the window touches anything). */
  val qAggMode: QDef = QDef(
    "q_agg_mode",
    """SELECT o_orderpriority, o_orderstatus AS mode_status, n FROM (
      |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY COUNT(*) DESC, o_orderstatus) AS INT) AS rn
      |  FROM orders
      |  GROUP BY o_orderpriority, o_orderstatus)
      |WHERE rn = 1
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val counts = orders(s, d)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("n").desc, col("o_orderstatus"))
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderpriority"),
        col("o_orderstatus").as("mode_status"), col("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Top-3 per group via the bounded-heap aggregate
    * (functions.TopKAgg) instead of `row_number() ≤ 3`: the window
    * form sorts every partition in full, the heap keeps 3 rows per
    * group per mapper (partial aggregation → ≤ 3 rows/group cross the
    * shuffle). The oracle IS the window formulation — two different
    * algorithms must agree exactly, including the total (price DESC,
    * orderkey ASC) tie order at the cut. */
  val qAggTopK: QDef = QDef(
    "q_agg_topk",
    """SELECT o_orderpriority, o_totalprice AS price, o_orderkey FROM (
      |  SELECT o_orderpriority, o_totalprice, o_orderkey,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_orderpriority, price DESC, o_orderkey""".stripMargin) {
    (s, d) =>
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.TopKAgg(
          col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_orderpriority"), explode(col("top")).as("t"))
        .select(
          col("o_orderpriority"),
          col("t.score").as("price"),
          col("t.id").as("o_orderkey"))
        .orderBy(col("o_orderpriority"), col("price").desc,
          col("o_orderkey"))
  }

  /** GROUPING() markers on a rollup: the standard way consumers tell a
    * subtotal row's NULL from a data NULL (coalesce-sentinel tricks
    * break the moment the data contains the sentinel). */
  val qAggGroupingId: QDef = QDef(
    "q_agg_grouping_id",
    """SELECT
      |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)'
      |       ELSE o_orderpriority END AS pri,
      |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
      |       ELSE o_orderstatus END AS status,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY g_pri, g_status, pri, status""".stripMargin) { (s, d) =>
    orders(s, d)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      // grouping() is only resolvable INSIDE the rollup's aggregate
      // list — a downstream select cannot reference it
      .agg(
        grouping(col("o_orderpriority")).cast("int").as("g_pri"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        count(lit(1)).as("n"))
      .select(
        when(col("g_pri") === 1, "(all)")
          .otherwise(col("o_orderpriority")).as("pri"),
        when(col("g_status") === 1, "(all)")
          .otherwise(col("o_orderstatus")).as("status"),
        col("g_pri"), col("g_status"), col("n"))
      .orderBy(col("g_pri"), col("g_status"), col("pri"), col("status"))
  }

  /** PERCENTILE_DISC semantics (ANSI: first value whose cumulative
    * count reaches ⌈p·n⌉ — an ACTUAL data value, no interpolation),
    * complementing q_agg_percentiles' PERCENTILE_CONT. Stated on both
    * engines as the same cumulative-count rank filter (DuckDB's
    * quantile_disc builtin uses its own rounding, so the oracle spells
    * the ANSI rule out). Pre-aggregated to (flag, qty) grain first:
    * l_quantity's bounded value domain makes the per-flag cumulative
    * window a ≤|domain|-row operation regardless of fact size. */
  val qPercentileDisc: QDef = QDef(
    "q_percentile_disc",
    """WITH g AS (
      |  SELECT l_returnflag AS flag, l_quantity AS q, COUNT(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |t AS (SELECT flag, CAST(SUM(c) AS BIGINT) AS n FROM g GROUP BY 1),
      |cum AS (
      |  SELECT g.flag, q,
      |    CAST(SUM(c) OVER (PARTITION BY g.flag ORDER BY q) AS BIGINT)
      |      AS cum,
      |    t.n
      |  FROM g JOIN t USING (flag))
      |SELECT flag,
      |  MIN(CASE WHEN cum >= CAST(CEIL(0.5 * n) AS BIGINT) THEN q END)
      |    AS p50_disc,
      |  MIN(CASE WHEN cum >= CAST(CEIL(0.9 * n) AS BIGINT) THEN q END)
      |    AS p90_disc,
      |  MAX(n) AS n
      |FROM cum GROUP BY flag ORDER BY flag""".stripMargin) { (s, d) =>
    val g = lineitem(s, d)
      .groupBy(col("l_returnflag").as("flag"),
        col("l_quantity").as("q"))
      .agg(count(lit(1)).as("c"))
    val t = g.groupBy(col("flag")).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col("flag")).orderBy(col("q"))
    g.select(col("flag"), col("q"), sum(col("c")).over(w).as("cum"))
      .join(broadcast(t), "flag")
      .groupBy(col("flag"))
      .agg(
        min(when(col("cum") >=
          ceil(lit(0.5) * col("n")).cast("bigint"), col("q")))
          .as("p50_disc"),
        min(when(col("cum") >=
          ceil(lit(0.9) * col("n")).cast("bigint"), col("q")))
          .as("p90_disc"),
        max(col("n")).as("n"))
      .orderBy(col("flag"))
  }

  val defs: Seq[QDef] = Seq(
    qAggBasic, qAggDistinct, qAggHaving, qAggRollup, qAggCube,
    qAggGroupingSets, qAggStats, qAggFirstLast, qAggApproxDistinct,
    qAggUdafGeomean, qAggPercentiles, qAggApproxPercentile, qAggStringAgg,
    qAggBoolBitwise, qAggMode, qAggTopK, qAggGroupingId, qPercentileDisc)
}
