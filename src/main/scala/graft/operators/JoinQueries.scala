package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.TableLoader._

/** Join operators (SURVEY.md §2.3).
  *
  * Scale notes baked into each shape:
  *   - dimension tables (region/nation/customer at dim scale) ride
  *     `broadcast()` hints → `BroadcastHashJoinExec`, so the fact side
  *     never shuffles for star joins;
  *   - fact-fact joins (customer⋈orders at 100 TB) stay shuffle joins on
  *     their keys and rely on AQE for skew splitting;
  *   - the as-of join is expressed as a windowed running-max (single
  *     shuffle on user_id) instead of a per-row correlated lookup, which
  *     is the only formulation that survives billions of events.
  */
object JoinQueries {

  /** 3-way star join + agg: orders⋈customer⋈nation revenue per nation.
    * customer/nation broadcast; orders (the fact side) never shuffles
    * before aggregation.
    */
  val qJoinInner: QDef = QDef(
    "q_join_inner",
    """SELECT n_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (s, d) =>
    orders(s, d)
      .join(
        broadcast(customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("n_name"))
  }

  /** Left outer join preserving zero-order customers; COUNT(col) skips
    * nulls identically in both engines. */
  val qJoinLeftOuter: QDef = QDef(
    "q_join_left_outer",
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      |FROM customer
      |LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(orders(s, d), col("o_custkey") === col("c_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))
  }

  /** Full outer join of per-nation customer vs supplier counts —
    * exercises the sort-merge path (both sides shuffled on the key). */
  val qJoinFullOuter: QDef = QDef(
    "q_join_full_outer",
    """WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
      |           FROM customer GROUP BY c_nationkey),
      |     s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
      |           FROM supplier GROUP BY s_nationkey)
      |SELECT COALESCE(c.nk, s.nk) AS nk,
      |  COALESCE(n_cust, 0) AS n_cust,
      |  COALESCE(n_supp, 0) AS n_supp
      |FROM c FULL JOIN s ON c.nk = s.nk
      |ORDER BY nk""".stripMargin) { (s, d) =>
    val c = customer(s, d)
      .groupBy(col("c_nationkey").as("cnk"))
      .agg(count(lit(1)).as("n_cust"))
    val sp = supplier(s, d)
      .groupBy(col("s_nationkey").as("snk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(sp, col("cnk") === col("snk"), "full_outer")
      .select(
        coalesce(col("cnk"), col("snk")).as("nk"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nk"))
  }

  /** EXISTS → left-semi join (the same rewrite Catalyst's
    * RewritePredicateSubquery applies to SQL text). */
  val qJoinSemi: QDef = QDef(
    "q_join_semi",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey
      |                AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_orderstatus") === "F"),
        col("o_custkey") === col("c_custkey"),
        "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** NOT EXISTS → left-anti join (customers with no pending orders;
    * status-specific so the result is non-empty at every scale). */
  val qJoinAnti: QDef = QDef(
    "q_join_anti",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_orderstatus") === "P"),
        col("o_custkey") === col("c_custkey"),
        "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Cartesian product, kept tiny by construction (5 regions × order
    * statuses). */
  val qJoinCross: QDef = QDef(
    "q_join_cross",
    """SELECT r_name, os FROM region
      |CROSS JOIN (SELECT DISTINCT o_orderstatus AS os FROM orders)
      |ORDER BY r_name, os""".stripMargin) { (s, d) =>
    region(s, d)
      .crossJoin(orders(s, d).select(col("o_orderstatus").as("os")).distinct())
      .select(col("r_name"), col("os"))
      .orderBy(col("r_name"), col("os"))
  }

  /** Band/theta join with an equi prefix: hash join on l_partkey with the
    * range conjunct as a residual filter (never a nested-loop at scale).
    */
  val qJoinRange: QDef = QDef(
    "q_join_range",
    """SELECT p_brand, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |  AND l_quantity BETWEEN p_size - 5 AND p_size + 5
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .join(
        broadcast(part(s, d)),
        col("l_partkey") === col("p_partkey")
          && col("l_quantity").between(col("p_size") - 5, col("p_size") + 5))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("total"))
      .orderBy(col("p_brand"))
  }

  /** As-of join: for each purchase event, the latest click by the same
    * user at-or-before its timestamp (SURVEY §2.3 q_join_asof).
    *
    * Spark has no native as-of join; the scalable formulation is a
    * running MAX over a RANGE window (peers at equal ts included, which
    * matches the oracle's `c.ts <= e.ts` and is deterministic without
    * relying on tie order). One shuffle on user_id, O(n) state.
    */
  val qJoinAsof: QDef = QDef(
    "q_join_asof",
    """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
      |  (SELECT CAST(MAX(c.ts) AS TIMESTAMP) FROM events c
      |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
      |     AND c.ts <= e.ts) AS last_click_ts
      |FROM events e
      |WHERE e.event_type = 'purchase'
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn(
        "last_click_ts",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("last_click_ts").cast("timestamp_ntz").as("last_click_ts"))
      .orderBy(col("event_id"))
  }

  /** As-of join with a TOLERANCE: the last click within 1 hour before
    * each purchase, NULL when the nearest click is older (the pandas
    * merge_asof `tolerance=` / kdb wj surface). Same running-max RANGE
    * window as q_join_asof — the max IS the latest click, so one
    * per-row comparison applies the tolerance; no extra join or
    * re-scan. */
  val qJoinAsofTolerance: QDef = QDef(
    "q_join_asof_tolerance",
    """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
      |  (SELECT CAST(MAX(c.ts) AS TIMESTAMP) FROM events c
      |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
      |     AND c.ts <= e.ts
      |     AND c.ts >= e.ts - INTERVAL 1 HOUR) AS click_1h_ts
      |FROM events e
      |WHERE e.event_type = 'purchase'
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn(
        "last_click_ts",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        when(col("last_click_ts") >= expr("ts - INTERVAL 1 HOUR"),
          col("last_click_ts")).cast("timestamp_ntz").as("click_1h_ts"))
      .orderBy(col("event_id"))
  }

  /** Correlated scalar subquery surface: customers whose LARGEST order
    * exceeds 450k, with that largest order's value. The oracle keeps
    * the correlated form; the engine side is the de-correlated
    * aggregate-then-join — the rewrite Catalyst itself applies to the
    * SQL form, written out because it is the shape that scales (one
    * aggregation over orders, one join; a per-row subquery re-scan is
    * the row-store idiom that dies at 100 TB). */
  val qCorrelatedScalar: QDef = QDef(
    "q_correlated_scalar",
    """SELECT c_custkey, c_name,
      |  (SELECT MAX(o_totalprice) FROM orders
      |   WHERE o_custkey = c_custkey) AS max_order
      |FROM customer
      |WHERE (SELECT MAX(o_totalprice) FROM orders
      |       WHERE o_custkey = c_custkey) > 450000
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val maxes = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_totalprice")).as("max_order"))
      .filter(col("max_order") > 450000)
    customer(s, d)
      .join(maxes, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("max_order"))
      .orderBy(col("c_custkey"))
  }

  /** 4-table join chain (lineitem⋈orders⋈customer⋈nation) — the join
    * reorder / DPP showcase. Catalyst reorders; dims broadcast. */
  val qJoinMultiway: QDef = QDef(
    "q_join_multiway",
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .join(orders(s, d).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of vanishing — the semantics migrated
    * Access data needs when a "relationship" column is nullable.
    * EqualNullSafe is hash-joinable in Spark (unlike a coalesce-around-
    * equality rewrite, which blocks pushdown into the join keys), so
    * this stays a BroadcastHashJoin/SMJ at scale, never a nested loop.
    * Keys are NULLIFed on one nation to manufacture NULLs from the
    * non-null fixtures; output aggregated per key for a compact oracle.
    */
  val qJoinNullSafe: QDef = QDef(
    "q_join_null_safe",
    """SELECT COALESCE(CAST(NULLIF(c_nationkey, 3) AS BIGINT), -1) AS nk,
      |  COUNT(*) AS n_pairs
      |FROM customer JOIN supplier
      |  ON NULLIF(c_nationkey, 3) IS NOT DISTINCT FROM
      |     NULLIF(s_nationkey, 3)
      |GROUP BY nk
      |ORDER BY nk""".stripMargin) { (s, d) =>
    val c = customer(s, d)
    val sp = supplier(s, d)
    c.join(
      broadcast(sp),
      nullif(col("c_nationkey"), lit(3)) <=>
        nullif(col("s_nationkey"), lit(3)))
      .groupBy(
        coalesce(nullif(col("c_nationkey"), lit(3)).cast("bigint"),
          lit(-1L)).as("nk"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("nk"))
  }

  /** Correlated LATERAL top-n: each nation's top-2 customers by
    * balance through a LATERAL subquery with ORDER BY + LIMIT — the
    * SQL-text surface (SURVEY §3.3) for per-group top-k. Spark
    * decorrelates the limited subquery into a ranked window join, so
    * the physical plan is the same scalable shape as q_distinct_on,
    * not a per-nation re-scan. */
  val qJoinLateral: QDef = QDef(
    "q_join_lateral",
    """SELECT n_name, c_custkey, c_acctbal
      |FROM nation,
      |  LATERAL (SELECT c_custkey, c_acctbal FROM customer
      |           WHERE c_nationkey = n_nationkey
      |           ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin) { (s, d) =>
    nation(s, d).createOrReplaceTempView("nation_v")
    customer(s, d).createOrReplaceTempView("customer_v")
    s.sql("""SELECT n_name, c_custkey, c_acctbal
      |FROM nation_v,
      |  LATERAL (SELECT c_custkey, c_acctbal FROM customer_v
      |           WHERE c_nationkey = n_nationkey
      |           ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin)
  }

  /** The SAME as-of semantics as q_join_asof, but through the native
    * custom-operator stack (graft.plans.AsOfJoin logical node →
    * AsOfJoinStrategy → AsOfJoinExec merge pass) instead of the
    * running-max window — and checked against the same correlated-
    * subquery oracle, so the custom physical operator itself is
    * oracle-verified. Each side shuffles once on user_id; the merge
    * holds one buffered row of state (AsOfJoinNativeSpec pins the
    * plan: 2 exchanges, no nested loop). */
  val qJoinAsofNative: QDef = QDef(
    "q_join_asof_native",
    """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
      |  (SELECT CAST(MAX(c.ts) AS TIMESTAMP) FROM events c
      |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
      |     AND c.ts <= e.ts) AS last_click_ts
      |FROM events e
      |WHERE e.event_type = 'purchase'
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts")
    graft.plans.AsOfJoinOps.asof(
        purchases, "ts", clicks, "ts", Seq("user_id"), Seq("user_id"))
      .select(
        col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("ts_r").cast("timestamp_ntz").as("last_click_ts"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of through the native operator: the EARLIEST click
    * at-or-after each purchase (time-to-next-action attribution — the
    * pandas merge_asof direction="forward" surface). Same merge pass,
    * mirrored rule; the first qualifying right row is matched without
    * being consumed, so equal-time later purchases still see it. */
  val qJoinAsofForward: QDef = QDef(
    "q_join_asof_forward",
    """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
      |  (SELECT CAST(MIN(c.ts) AS TIMESTAMP) FROM events c
      |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
      |     AND c.ts >= e.ts) AS next_click_ts
      |FROM events e
      |WHERE e.event_type = 'purchase'
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts")
    graft.plans.AsOfJoinOps.asof(
        purchases, "ts", clicks, "ts", Seq("user_id"), Seq("user_id"),
        toleranceMicros = None, direction = "forward")
      .select(
        col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("ts_r").cast("timestamp_ntz").as("next_click_ts"))
      .orderBy(col("event_id"))
  }

  /** As-of NEAREST — the third merge_asof direction, completing the
    * backward/forward/tolerance family: each purchase matches the
    * click with the smallest |Δt|, ties broken toward the EARLIER
    * click (an explicit convention — pandas leaves ties
    * implementation-defined). Composed from the two native one-sided
    * passes (preference order (a): compose existing operators when
    * semantics allow) — both passes shuffle on the same user_id key,
    * so the second join reuses the partitioning; the CASE pick is a
    * per-row map. The oracle keeps the correlated two-subquery form. */
  val qJoinAsofNearest: QDef = QDef(
    "q_join_asof_nearest",
    """WITH p AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    (SELECT CAST(MAX(c.ts) AS TIMESTAMP) FROM events c
      |     WHERE c.user_id = e.user_id AND c.event_type = 'click'
      |       AND c.ts <= e.ts) AS prev_ts,
      |    (SELECT CAST(MIN(c.ts) AS TIMESTAMP) FROM events c
      |     WHERE c.user_id = e.user_id AND c.event_type = 'click'
      |       AND c.ts > e.ts) AS next_ts
      |  FROM events e WHERE e.event_type = 'purchase')
      |SELECT event_id, user_id, ts,
      |  CASE
      |    WHEN prev_ts IS NULL THEN next_ts
      |    WHEN next_ts IS NULL THEN prev_ts
      |    WHEN epoch_us(ts) - epoch_us(prev_ts)
      |      <= epoch_us(next_ts) - epoch_us(ts) THEN prev_ts
      |    ELSE next_ts END AS nearest_click_ts
      |FROM p ORDER BY event_id""".stripMargin) { (s, d) =>
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts")
    // backward pass matches ts_r <= ts; the forward pass must then be
    // STRICTLY after, so shift its left probe by 1µs (the engine's
    // time grain) — otherwise an exact-tie click would match both
    // sides and the tie rule would depend on float gap comparison
    val back = graft.plans.AsOfJoinOps.asof(
        purchases, "ts", clicks, "ts", Seq("user_id"), Seq("user_id"),
        toleranceMicros = None, direction = "backward")
      .withColumnRenamed("ts_r", "prev_ts")
    val fwdProbe = back
      .withColumn("ts_probe",
        timestamp_micros(unix_micros(col("ts")) + 1))
    val both = graft.plans.AsOfJoinOps.asof(
        fwdProbe, "ts_probe", clicks, "ts", Seq("user_id"),
        Seq("user_id"), toleranceMicros = None, direction = "forward")
      .withColumnRenamed("ts_r", "next_ts")
    both.select(
        col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("out_ts"),
        when(col("prev_ts").isNull, col("next_ts"))
          .when(col("next_ts").isNull, col("prev_ts"))
          .when(
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) <=
              unix_micros(col("next_ts")) - unix_micros(col("ts")),
            col("prev_ts"))
          .otherwise(col("next_ts"))
          .cast("timestamp_ntz").as("nearest_click_ts"))
      .withColumnRenamed("out_ts", "ts")
      .orderBy(col("event_id"))
  }

  /** Point-in-time dimension join (the warehouse temporal-lookup /
    * feature-store pattern): for every line-item SHIPMENT, the
    * priority of its customer's latest order placed on-or-before the
    * ship date. The versioned dimension is first reduced to ONE row
    * per (customer, date) — max_by over the unique orderkey, so ties
    * at equal time are deterministic — then the native as-of operator
    * does the interval lookup: both sides shuffle once on custkey, no
    * BETWEEN nested-loop, no per-row correlated re-scan (the oracle
    * keeps the correlated-argmax form). */
  val qJoinPit: QDef = QDef(
    "q_join_pit",
    """WITH dim AS (
      |  SELECT o_custkey AS ck, o_orderdate AS d,
      |    arg_max(o_orderpriority, o_orderkey) AS prio
      |  FROM orders GROUP BY 1, 2),
      |f AS (
      |  SELECT l.l_orderkey, l.l_linenumber, o.o_custkey AS ck,
      |    l.l_shipdate AS sd
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT f.l_orderkey, f.l_linenumber,
      |  CAST(f.sd AS TIMESTAMP) AS sd,
      |  (SELECT arg_max(prio, d) FROM dim
      |   WHERE dim.ck = f.ck AND dim.d <= f.sd) AS pit_priority
      |FROM f
      |ORDER BY l_orderkey, l_linenumber, sd, pit_priority""".stripMargin) {
    (s, d) =>
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic
    // testdata — sd + pit_priority complete the total order
    val facts = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").as("sd"))
      .join(orders(s, d)
          .select(col("o_orderkey"), col("o_custkey").as("ck")),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "ck", "sd")
    val dim = orders(s, d)
      .groupBy(col("o_custkey").as("ck"), col("o_orderdate").as("d"))
      .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
    graft.plans.AsOfJoinOps.asof(
        facts, "sd", dim, "d", Seq("ck"), Seq("ck"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("sd").cast("timestamp_ntz").as("sd"),
        col("prio").as("pit_priority"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("sd"),
        col("pit_priority"))
  }

  /** Interval-overlap self-join: pairs of the SAME customer's orders
    * whose 14-day fulfillment windows overlap (concurrent open
    * orders), with the overlap length. The equi key (custkey) carries
    * the hash join; the overlap predicate `a.lo <= b.hi AND b.lo <=
    * a.hi` rides as a residual filter — so the pair space is bounded
    * per key, never a global interval cross-product (a keyless
    * point-in-interval join goes through
    * `RangeJoin.binnedPointInterval` instead). `a < b` on the unique
    * orderkey halves the pairs and makes the output total. */
  val qJoinIntervalOverlap: QDef = QDef(
    "q_join_interval_overlap",
    """WITH o AS (
      |  SELECT o_custkey AS ck, o_orderkey AS ok,
      |    CAST(o_orderdate AS DATE) AS lo,
      |    CAST(o_orderdate AS DATE) + 14 AS hi
      |  FROM orders)
      |SELECT a.ck, a.ok AS ok_a, b.ok AS ok_b,
      |  CAST(date_diff('day', GREATEST(a.lo, b.lo),
      |    LEAST(a.hi, b.hi)) AS INT) AS overlap_days
      |FROM o a JOIN o b
      |  ON a.ck = b.ck AND a.ok < b.ok
      |  AND a.lo <= b.hi AND b.lo <= a.hi
      |ORDER BY a.ck, ok_a, ok_b""".stripMargin) { (s, d) =>
    val o = orders(s, d).select(
      col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
      to_date(col("o_orderdate")).as("lo"),
      date_add(to_date(col("o_orderdate")), 14).as("hi"))
    val a = o.select(col("ck"), col("ok").as("ok_a"),
      col("lo").as("lo_a"), col("hi").as("hi_a"))
    val b = o.select(col("ck").as("ck_b"), col("ok").as("ok_b"),
      col("lo").as("lo_b"), col("hi").as("hi_b"))
    a.join(b, col("ck") === col("ck_b") && col("ok_a") < col("ok_b")
        && col("lo_a") <= col("hi_b") && col("lo_b") <= col("hi_a"))
      .select(col("ck"), col("ok_a"), col("ok_b"),
        datediff(least(col("hi_a"), col("hi_b")),
          greatest(col("lo_a"), col("lo_b"))).as("overlap_days"))
      .orderBy(col("ck"), col("ok_a"), col("ok_b"))
  }

  val defs: Seq[QDef] = Seq(
    qJoinInner, qJoinLeftOuter, qJoinFullOuter, qJoinSemi, qJoinAnti,
    qJoinCross, qJoinRange, qJoinAsof, qJoinAsofTolerance, qJoinAsofNative,
    qJoinAsofForward, qJoinAsofNearest, qJoinMultiway, qJoinNullSafe,
    qCorrelatedScalar,
    qJoinLateral, qJoinPit, qJoinIntervalOverlap)
}
