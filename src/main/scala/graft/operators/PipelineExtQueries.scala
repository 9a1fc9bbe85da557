package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.TableLoader._

/** Round-4 extensions: the analytics a training-data/product pipeline
  * runs on top of the relational core — cohort retention, Markov
  * transition counts, per-entity distribution entropy, z-score outlier
  * flagging, weighted means, entity-consistent holdout sampling, BM25
  * term scoring, and embedding distance-to-centroid curation.
  *
  * Scale shapes (the reason each query is written the way it is):
  * per-entity statistics are computed by AGGREGATING TO THE ENTITY and
  * joining back (never a window over a low-cardinality partition — a
  * 5-partition window serializes 100 TB into 5 tasks); corpus-level
  * scalars (N, avgdl, per-type moments) are tiny aggregates that
  * broadcast; everything else is hash-partitioned by the natural key.
  */
object PipelineExtQueries {

  /** Cohort retention: users bucketed by first-seen week, activity
    * counted per (cohort week, activity week) — the product-analytics
    * staple (weekly, because the fixture spans one month; both engines
    * truncate weeks to ISO Monday). Both the first-seen aggregate and
    * the join back to events hash-partition on user_id, so the second
    * shuffle reuses the first's exchange; the final (week, week)
    * aggregate is a few-hundred-group rollup. */
  val qCohortRetention: QDef = QDef(
    "q_cohort_retention",
    """WITH f AS (
      |  SELECT user_id,
      |    date_trunc('week', CAST(MIN(ts) AS TIMESTAMP)) AS cohort
      |  FROM events GROUP BY user_id)
      |SELECT CAST(f.cohort AS DATE) AS cohort_week,
      |  CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE)
      |    AS activity_week,
      |  COUNT(DISTINCT e.user_id) AS n_users
      |FROM events e JOIN f USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY cohort_week, activity_week""".stripMargin) { (s, d) =>
    val e = events(s, d).select(col("user_id"), col("ts"))
    val first = e.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
    e.join(first, "user_id")
      .groupBy(
        to_date(date_trunc("week", col("first_ts"))).as("cohort_week"),
        to_date(date_trunc("week", col("ts"))).as("activity_week"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("activity_week"))
  }

  /** Event-type transition counts (first-order Markov matrix): per-user
    * time-ordered LEAD, then a global (from, to) rollup. One shuffle on
    * user_id for the window, then an integer-count aggregate —
    * hash-safe (no floats). Order ties broken by event_id on BOTH
    * sides, over the µs-truncated timestamp the engine sees. */
  val qTransitionMatrix: QDef = QDef(
    "q_transition_matrix",
    """WITH s AS (
      |  SELECT event_type, LEAD(event_type) OVER (
      |    PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
      |  FROM events)
      |SELECT event_type AS from_type, to_type, COUNT(*) AS n
      |FROM s WHERE to_type IS NOT NULL
      |GROUP BY 1, 2
      |ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(
        col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** First-passage absorption probabilities over the event-type Markov
    * chain — the "will this session EVER convert" number the
    * transition matrix alone doesn't give: treat `purchase` as
    * absorbing, model sequence termination as a second absorbing state
    * (`__end__`, fed by each user's last event), and solve
    * h = r + Q·h for the transient states — h(s) = P(reach purchase
    * before the sequence ends | currently at s), exactly, not by
    * simulation.
    *
    * Scale split: the DATA-sized work is the same windowed LEAD +
    * count rollup as q_transition_matrix (one user_id shuffle); the
    * collected transition table is ≤ |types|² rows, and the
    * (I−Q)-system solve is a driver-side Gaussian elimination over a
    * 4×4 matrix — the IVF-centroid bounded-state justification.
    *
    * Oracle (round 10; previously no_oracle as "a linear-system solve
    * is not SQL-expressible"): for a FIXED small state set it is —
    * Cramer's rule is a closed form, and the oracle below carries the
    * full 24-term 4×4 determinant expansions (generated, not
    * hand-typed) over a one-row matrix CTE, h_i = det(A with column i
    * replaced by r) / det(A). The fixture corpus's transient states
    * are pinned by name (click/error/signup/view — the oracle
    * diverges loudly if the generator ever changes them), while the
    * ENGINE side stays data-derived. Cramer and the engine's pivoted
    * elimination agree to ~1e-15 relatively; both sides round at 6dp.
    * PipelineExtSpec keeps the algebraic lens (h ∈ [0,1], h ≥ direct,
    * residual (I−Q)h − r ≈ 0). */
  val qAbsorptionProb: QDef = {
    val states = Seq("click", "error", "signup", "view")
    val k = states.length
    val perms = (0 until k).toList.permutations.toList
    def sign(p: List[Int]): Int = {
      val inv = (for {
        i <- p.indices; j <- i + 1 until p.length
        if p(i) > p(j)
      } yield 1).sum
      if (inv % 2 == 0) 1 else -1
    }
    // det over cell names; colOf(j)(i) = the cell at row i, column j
    def det(colOf: Int => Int => String): String = perms.map { p =>
      val term = (0 until k).map(i => colOf(p(i))(i)).mkString(" * ")
      (if (sign(p) > 0) "+ " else "- ") + term
    }.mkString(" ")
    val base: Int => Int => String = j => i => s"a$i$j"
    def repl(r: Int): Int => Int => String =
      j => i => if (j == r) s"r$i" else s"a$i$j"
    val cellDefs = (for {
      i <- 0 until k; j <- 0 until k
    } yield {
      val id = if (i == j) "1.0" else "0.0"
      s"$id - COALESCE(MAX(CASE WHEN f = '${states(i)}' AND " +
        s"tt = '${states(j)}' THEN p END), 0.0) AS a$i$j"
    }) ++ (0 until k).map { i =>
      s"COALESCE(MAX(CASE WHEN f = '${states(i)}' AND " +
        s"tt = 'purchase' THEN p END), 0.0) AS r$i"
    }
    val outRows = (0 until k).map { i =>
      s"SELECT '${states(i)}' AS state, " +
        s"CAST((SELECT tn FROM tot WHERE f = '${states(i)}') " +
        "AS BIGINT) AS n_out, " +
        s"ROUND((SELECT r$i FROM m), 6) AS p_direct, " +
        s"ROUND((SELECT (${det(repl(i))}) / (${det(base)}) FROM m), 6)" +
        " AS p_reach_purchase"
    }.mkString("\n|", "\n|UNION ALL\n|", "\n|")
    QDef(
      "q_absorption_prob",
      s"""WITH s AS (
        |  SELECT event_type AS f, COALESCE(LEAD(event_type) OVER (
        |    PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id), '__end__') AS tt
        |  FROM events),
        |t AS (SELECT f, tt, COUNT(*) AS n FROM s
        |  WHERE f <> 'purchase' GROUP BY f, tt),
        |tot AS (SELECT f, SUM(n) AS tn FROM t GROUP BY f),
        |p AS (SELECT t.f, t.tt, CAST(t.n AS DOUBLE) / tot.tn AS p
        |  FROM t JOIN tot ON t.f = tot.f),
        |m AS (SELECT
        |  ${cellDefs.mkString(",\n|  ")}
        |FROM p)$outRows
        |ORDER BY state""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = events(s, d)
      .select(
        col("event_type").as("from_type"),
        coalesce(lead(col("event_type"), 1).over(w), lit("__end__"))
          .as("to_type"))
      .filter(col("from_type") =!= "purchase") // absorbing: no exits
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val transient = trans.map(_._1._1).distinct.sorted
    val idx = transient.zipWithIndex.toMap
    val outTotals = trans.groupBy(_._1._1).map { case (f, xs) =>
      f -> xs.map(_._2).sum }
    val k = transient.length
    // (I - Q) h = r, r = one-step P(s -> purchase)
    val a = Array.tabulate(k, k)((i, j) => if (i == j) 1.0 else 0.0)
    val r = new Array[Double](k)
    val direct = new Array[Double](k)
    trans.foreach { case ((f, t), n) =>
      val i = idx(f)
      val p = n.toDouble / outTotals(f)
      if (t == "purchase") { r(i) += p; direct(i) = p }
      else idx.get(t).foreach(j => a(i)(j) -= p)
    }
    // Gaussian elimination with partial pivoting (deterministic)
    val h = r.clone()
    var col0 = 0
    while (col0 < k) {
      var piv = col0
      var row = col0 + 1
      while (row < k) {
        if (math.abs(a(row)(col0)) > math.abs(a(piv)(col0))) piv = row
        row += 1
      }
      val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
      val th = h(col0); h(col0) = h(piv); h(piv) = th
      require(math.abs(a(col0)(col0)) > 1e-12,
        "absorption system is singular — a transient state has no exits")
      row = col0 + 1
      while (row < k) {
        val f = a(row)(col0) / a(col0)(col0)
        var j = col0
        while (j < k) { a(row)(j) -= f * a(col0)(j); j += 1 }
        h(row) -= f * h(col0)
        row += 1
      }
      col0 += 1
    }
    var i = k - 1
    while (i >= 0) {
      var acc = h(i)
      var j = i + 1
      while (j < k) { acc -= a(i)(j) * h(j); j += 1 }
      h(i) = acc / a(i)(i)
      i -= 1
    }
    import s.implicits._
    transient.indices.map { i =>
      (transient(i), outTotals(transient(i)),
        BigDecimal(direct(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble,
        BigDecimal(h(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    }.toDF("state", "n_out", "p_direct", "p_reach_purchase")
      .orderBy(col("state"))
    }
  }

  /** Per-user Shannon entropy of the event-type distribution — the
    * behavioral-diversity / bot-detection feature. Two-level aggregate
    * (per (user, type) counts, then per-user H = ln N − Σ c·ln c / N);
    * both levels partial-aggregate map-side. ROUND(,4) absorbs the
    * ≤ 5-term double-summation order difference across engines. */
  val qEntropy: QDef = QDef(
    "q_entropy",
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |n AS (
      |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
      |    SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s
      |  FROM c GROUP BY 1)
      |SELECT user_id, n AS n_events,
      |  ROUND(ln(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE), 4) AS entropy
      |FROM n ORDER BY user_id""".stripMargin) { (s, d) =>
    events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("c")).as("n"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("s"))
      .select(
        col("user_id"), col("n").as("n_events"),
        round(
          log(col("n").cast("double")) - col("s") / col("n").cast("double"),
          4).as("entropy"))
      .orderBy(col("user_id"))
  }

  /** Z-score outlier flagging per event type: the per-type moments are
    * a 5-row aggregate joined back to the stream (broadcast — NEVER a
    * window partitioned by the 5-value type column, which would
    * serialize the table into 5 tasks at any scale). |z| > 3 keeps the
    * genuine tail; value is continuous so the cross-engine ulp on
    * mu/sigma cannot sit on the cut w.h.p. */
  val qAnomalyZscore: QDef = QDef(
    "q_anomaly_zscore",
    """WITH s AS (
      |  SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
      |  FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type,
      |  ROUND((e.value - s.mu) / s.sigma, 4) AS z
      |FROM events e JOIN s USING (event_type)
      |WHERE ABS((e.value - s.mu) / s.sigma) > 3
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val e = events(s, d)
    val stats = e.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sigma"))
    val z = (col("value") - col("mu")) / col("sigma")
    e.join(broadcast(stats), "event_type")
      .filter(abs(z) > 3)
      .select(col("event_id"), col("event_type"), round(z, 4).as("z"))
      .orderBy(col("event_id"))
  }

  /** Quantity-weighted average price per return flag: Σ(p·q)/Σ(q) with
    * BOTH sums accumulated in DECIMAL (exact, order-independent), cast
    * to DOUBLE for the single final division — one rounding on one
    * deterministic quotient (SURVEY §0 decimal rule). */
  val qWeightedAvg: QDef = QDef(
    "q_weighted_avg",
    """SELECT l_returnflag,
      |  ROUND(
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
      |    4) AS wavg_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")
          * col("l_quantity").cast("decimal(18,2)")).cast("double").as("num"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("den"))
      .select(
        col("l_returnflag"),
        round(col("num") / col("den"), 4).as("wavg_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Entity-consistent holdout: hold out ~10% of USERS (not rows) by
    * md5 of the user key, keeping every event of a held-out user
    * together — the leakage-free evaluation split (row-level sampling
    * puts the same user in train and test). The assignment is a pure
    * function of the key: stable under repartitioning and engine
    * changes, no shuffle beyond the scan (same discipline as
    * q_split_hash, one level up: entity, not record). */
  val qUserHoldout: QDef = QDef(
    "q_user_holdout",
    """SELECT event_id, user_id, event_type
      |FROM events
      |WHERE CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
      |        AS INT) % 10 = 0
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val bucket = graft.functions.Md5HexSlice(
      col("user_id").cast("string").cast("binary"), 1, 4)
      .cast("int") % 10
    events(s, d)
      .filter(bucket === 0)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  /** BM25 (k1=1.2, b=0.75): the standard retrieval/quality scorer —
    * tf-idf with saturation and doc-length normalization. Emits each
    * doc's top-scoring term (row_number arg-max, term tie-break).
    * Corpus scalars (N, avgdl) are a one-row aggregate (broadcast);
    * the df side carries NO hint — vocabulary cardinality grows with
    * the corpus (the q_tfidf lesson), AQE broadcasts it at fixture
    * scale on its own. Exact score ties (same tf, df, dl) resolve by
    * term on both sides; distinct score gaps are macroscopic relative
    * to the 1-ulp libm ln() divergence. */
  val qBm25TopTerm: QDef = QDef(
    "q_bm25_top_term",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |dl AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      |  FROM documents),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl
      |       FROM dl),
      |sc AS (
      |  SELECT tf.doc_id, tf.w,
      |    ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS score
      |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN st),
      |r AS (
      |  SELECT doc_id, w, score, ROW_NUMBER() OVER (
      |    PARTITION BY doc_id ORDER BY score DESC, w) AS rn
      |  FROM sc)
      |SELECT doc_id, w AS top_term, ROUND(score, 4) AS bm25
      |FROM r WHERE rn = 1
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
    val tok = docs.select(col("doc_id"), explode(col("l")).as("w"))
    val tf = tok.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"), size(col("l")).cast("double").as("dl"))
    val st = dl.agg(
      count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
    val score =
      log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
        (col("tf") * 2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    // r15 opt: the per-doc arg-max is min(struct(−score, w, score))
    // instead of a ROW_NUMBER window — the window fully sorted the
    // term-grain table by (doc_id, score, w) only to keep row 1 per
    // doc; the aggregate keeps one struct per doc. Exact: scores are
    // finite and strictly positive (the log argument is > 1, tf ≥ 1),
    // so double negation is strictly order-reversing and min over
    // (−score, w) picks precisely the (score DESC, w ASC) first row;
    // the third field never participates ((doc_id, w) is unique).
    // Measured 5.00 → 3.60 s at the 10× probe, 1.02 → 0.79 at sf0.1,
    // outputs verified row-identical at both scales. (q_argmin_supplier
    // keeps its packed-long min — a primitive min beats a struct min
    // where the key packs; a double+string key cannot pack.)
    tf.join(dfreq, "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .select(col("doc_id"), col("w"), score.as("score"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("w").as("w"),
        col("score").as("score"))).as("m"))
      .select(
        col("doc_id"), col("m.w").as("top_term"),
        round(col("m.score"), 4).as("bm25"))
      .orderBy(col("doc_id"))
  }

  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  private def normD(a: Column): Column = sqrt(dotD(a, a))

  /** Embedding distance-to-centroid: cosine of every vector against its
    * label's mean vector — the curation signal for mislabeled/outlier
    * examples. The centroid is a posexplode + (label, pos) average
    * (scales as one shuffle of n·dim scalar rows, never a per-label
    * array fold), rebuilt into an array and BROADCAST back (|labels|
    * rows). HOF arithmetic on the 500-row probe side is fine — the
    * centroid build is the scale path. */
  val qCentroidDist: QDef = QDef(
    "q_centroid_dist",
    """WITH p AS (
      |  SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS c
      |  FROM embeddings CROSS JOIN generate_series(1, 64) AS s(i)
      |  GROUP BY label, i),
      |cent AS (SELECT label, list(c ORDER BY i) AS cv FROM p GROUP BY label),
      |e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)
      |SELECT e.vec_id,
      |  ROUND(
      |    list_sum(list_transform(range(1, 65), i -> v[i] * cv[i]))
      |      / (sqrt(list_sum(list_transform(v, x -> x * x)))
      |         * sqrt(list_sum(list_transform(cv, x -> x * x)))),
      |    4) AS cos_centroid
      |FROM e JOIN cent USING (label)
      |ORDER BY e.vec_id""".stripMargin) { (s, d) =>
    val e = embeddings(s, d)
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x").cast("double")).as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(
        col("label"),
        transform(col("pc"), p => p.getField("c")).as("cv"))
    val v = transform(col("embedding"), x => x.cast("double"))
    e.join(broadcast(cent), "label")
      .select(
        col("vec_id"),
        round(
          dotD(v, col("cv")) / (normD(v) * normD(col("cv"))),
          4).as("cos_centroid"))
      .orderBy(col("vec_id"))
  }

  /** DAU + trailing-7-day WAU per active day. Distinct (day, user)
    * pairs first (the only big shuffle), then the WAU range join pairs
    * a BROADCAST day grid (|days| rows, bounded by the calendar) with
    * the day-level pairs — never with raw events. DAU reuses the same
    * pair set. */
  val qActiveUsers: QDef = QDef(
    "q_active_users",
    """WITH p AS (
      |  SELECT DISTINCT
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    user_id
      |  FROM events),
      |days AS (SELECT DISTINCT day FROM p)
      |SELECT d.day,
      |  (SELECT COUNT(DISTINCT user_id) FROM p WHERE p.day = d.day)
      |    AS dau,
      |  (SELECT COUNT(DISTINCT user_id) FROM p
      |   WHERE p.day BETWEEN d.day - 6 AND d.day) AS wau
      |FROM days d
      |ORDER BY day""".stripMargin) { (s, d) =>
    val p = events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = p.select(col("day")).distinct()
    val dau = p.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = broadcast(days.withColumnRenamed("day", "d"))
      .join(p, col("day").between(date_sub(col("d"), 6), col("d")))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .withColumnRenamed("d", "day")
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"))
      .orderBy(col("day"))
  }

  /** Global equi-depth decile bucketing: exact interpolated decile
    * boundaries (one tiny aggregate, broadcast back) and a per-row
    * comparison count — the scale shape for "which quantile is this
    * row in" (a single-partition ntile window would serialize the
    * table; the boundary join keeps it embarrassingly parallel). At
    * 100 TB the boundary aggregate swaps to approx_percentile, same
    * join. */
  val qQuantileBucket: QDef = QDef(
    "q_quantile_bucket",
    """WITH q AS (
      |  SELECT quantile_cont(value,
      |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      |  FROM events)
      |SELECT e.event_id, e.value,
      |  CAST(1 + len(list_filter(q.qs, x -> e.value > x)) AS INT)
      |    AS decile
      |FROM events e CROSS JOIN q
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val qs = events(s, d).agg(
      percentile(
        col("value"),
        array((1 to 9).map(i => lit(i / 10.0)): _*)).as("qs"))
    val decile = (lit(1) +
      aggregate(
        col("qs"), lit(0),
        (acc, x) => acc + when(col("value") > x, 1).otherwise(0)))
      .cast("int")
    events(s, d)
      .crossJoin(broadcast(qs))
      .select(col("event_id"), col("value"), decile.as("decile"))
      .orderBy(col("event_id"))
  }

  /** Containment near-dup (quote/boilerplate detection): |A∩B| over
    * min(|A|,|B|) ≥ 0.3 on the hashed shingle sets, blocked on
    * (source, lang) like the exact Jaccard twin — containment catches
    * the subset pairs Jaccard under-scores (a short doc quoted inside
    * a long one has high containment, low Jaccard). Quadratic within
    * blocks: fixture-scale oracle twin; the corpus path stays
    * candidate-based (minhash). */
  val qDedupContainment: QDef = QDef(
    "q_dedup_containment",
    """WITH t AS (SELECT doc_id, source, lang,
      |    string_split(text, ' ') AS l FROM documents),
      |s AS (SELECT doc_id, source, lang,
      |    list_distinct(list_transform(range(3, len(l) + 1),
      |      i -> l[i-2] || ' ' || l[i-1] || ' ' || l[i])) AS s
      |  FROM t WHERE len(l) >= 3)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / least(len(a.s), len(b.s)), 4) AS containment
      |FROM s a JOIN s b
      |  ON a.source = b.source AND a.lang = b.lang
      |  AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / least(len(a.s), len(b.s)) >= 0.3
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val docs = DedupQueries.shingleSets(s, d)
      .join(
        documents(s, d).select(col("doc_id"), col("source"), col("lang")),
        "doc_id")
    val a = docs.select(
      col("source"), col("lang"),
      col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(
      col("source").as("source_b"), col("lang").as("lang_b"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val inter = graft.functions.VectorExpressions
      .sortedIntersectCount(col("sh_a"), col("sh_b"))
    val cont = inter.cast("double") /
      least(size(col("sh_a")), size(col("sh_b")))
    a.join(
      b,
      col("source") === col("source_b") && col("lang") === col("lang_b")
        && col("doc_a") < col("doc_b"))
      .filter(cont >= 0.3)
      .select(col("doc_a"), col("doc_b"), round(cont, 4).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Per-event model-feature assembly: lagged values, trailing 5-event
    * mean, and µs gap since the previous event, per user — one window
    * spec, one shuffle on user_id, every feature from the same sorted
    * pass (N window columns over one spec cost one sort, not N). */
  val qLagFeatures: QDef = QDef(
    "q_lag_features",
    """SELECT event_id,
      |  ROUND(LAG(value, 1) OVER w, 4) AS lag1,
      |  ROUND(LAG(value, 2) OVER w, 4) AS lag2,
      |  ROUND(AVG(value) OVER (w ROWS BETWEEN 4 PRECEDING
      |    AND CURRENT ROW), 4) AS mean5,
      |  epoch_us(CAST(ts AS TIMESTAMP))
      |    - LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER w AS gap_us
      |FROM events
      |WINDOW w AS (PARTITION BY user_id
      |  ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(
        col("event_id"),
        round(lag(col("value"), 1).over(w), 4).as("lag1"),
        round(lag(col("value"), 2).over(w), 4).as("lag2"),
        round(avg(col("value")).over(w.rowsBetween(-4, 0)), 4).as("mean5"),
        (unix_micros(col("ts"))
          - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Robust per-type statistics: median, MAD (median absolute
    * deviation), IQR, and the Tukey-fence outlier count — the outlier
    * toolkit that survives heavy tails where mean/stddev (q_anomaly_
    * zscore) break. Two exact-percentile passes with the tiny per-type
    * summaries broadcast between them; at 100 TB both swap to
    * approx_percentile, same dataflow. */
  val qRobustStats: QDef = QDef(
    "q_robust_stats",
    """WITH m AS (
      |  SELECT event_type,
      |    quantile_cont(value, 0.5) AS med,
      |    quantile_cont(value, 0.25) AS p25,
      |    quantile_cont(value, 0.75) AS p75
      |  FROM events GROUP BY event_type),
      |mad AS (
      |  SELECT e.event_type,
      |    quantile_cont(ABS(e.value - m.med), 0.5) AS mad,
      |    COUNT(*) FILTER (WHERE
      |      e.value < m.p25 - 1.5 * (m.p75 - m.p25)
      |      OR e.value > m.p75 + 1.5 * (m.p75 - m.p25)) AS n_outliers
      |  FROM events e JOIN m USING (event_type)
      |  GROUP BY e.event_type)
      |SELECT m.event_type, ROUND(m.med, 4) AS med,
      |  ROUND(mad.mad, 4) AS mad,
      |  ROUND(m.p75 - m.p25, 4) AS iqr, mad.n_outliers
      |FROM m JOIN mad USING (event_type)
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val e = events(s, d)
    val m = e.groupBy(col("event_type")).agg(
      percentile(col("value"), lit(0.5)).as("med"),
      percentile(col("value"), lit(0.25)).as("p25"),
      percentile(col("value"), lit(0.75)).as("p75"))
    val iqr = col("p75") - col("p25")
    val mad = e.join(broadcast(m), "event_type")
      .groupBy(col("event_type"), col("med"), col("p25"), col("p75"))
      .agg(
        percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"),
        count_if(col("value") < col("p25") - lit(1.5) * iqr
          || col("value") > col("p75") + lit(1.5) * iqr).as("n_outliers"))
      .select(
        col("event_type"), round(col("med"), 4).as("med"),
        round(col("mad"), 4).as("mad"), round(iqr, 4).as("iqr"),
        col("n_outliers"))
      .orderBy(col("event_type"))
    mad
  }

  /** Class-balanced deterministic downsample: top-100 events per type
    * by md5 rank — balancing skewed classes without a seed or a
    * shuffle-order dependency. Uses the bounded-heap TopKAgg, so each
    * mapper ships ≤ 100 rows per class across the shuffle (a
    * row_number window would hold and SORT every class in full — the
    * oracle keeps that form: two algorithms, one answer). */
  val qSampleBalanced: QDef = QDef(
    "q_sample_balanced",
    """WITH h AS (
      |  SELECT event_type, event_id,
      |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) AS hk
      |  FROM events),
      |r AS (
      |  SELECT event_type, event_id, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY hk, event_id) AS rn
      |  FROM h)
      |SELECT event_type, event_id FROM r WHERE rn <= 100
      |ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
    // md5-derived 32-bit key, negated: TopKAgg keeps the k strongest
    // (score DESC, id ASC at ties) so -hash ranks smallest-hash first;
    // 32-bit magnitudes are exact in double
    val hk = graft.functions.Md5HexSlice(
      col("event_id").cast("string").cast("binary"), 1, 8)
    events(s, d)
      .groupBy(col("event_type"))
      .agg(graft.functions.TopKAgg(
        -hk.cast("double"), col("event_id"), 100).as("picked"))
      .select(col("event_type"), explode(col("picked")).as("p"))
      .select(col("event_type"), col("p.id").as("event_id"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** Dense daily spine with zero-filled gaps: reporting over sparse
    * activity needs every calendar day present (downstream charting /
    * joins break on missing rows). The spine generates from the min/max
    * bounds (one tiny aggregate) and LEFT-joins the per-day rollup —
    * the complement of q_fill_forward (which fills null VALUES, not
    * missing ROWS). Both sides are calendar-bounded. The spine is the
    * preserved side of the LEFT join, so it cannot be the broadcast
    * build side (Spark drops such a hint); the rollup can be. */
  val qTimeGapfill: QDef = QDef(
    "q_time_gapfill",
    """WITH b AS (
      |  SELECT CAST(date_trunc('day', CAST(MIN(ts) AS TIMESTAMP)) AS DATE)
      |      AS lo,
      |    CAST(date_trunc('day', CAST(MAX(ts) AS TIMESTAMP)) AS DATE) AS hi
      |  FROM events),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
      |    AS DATE) AS day FROM b),
      |a AS (
      |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
      |      AS day,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT s.day, COALESCE(a.n, 0) AS n,
      |  ROUND(COALESCE(a.sum_value, 0), 4) AS sum_value
      |FROM spine s LEFT JOIN a USING (day)
      |ORDER BY day""".stripMargin) { (s, d) =>
    val e = events(s, d)
    val bounds = e.agg(
      to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"))).as("day"))
    val agg = e.filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))
    spine.join(agg, Seq("day"), "left")
      .select(
        col("day"), coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("sum_value"), lit(0.0)), 4).as("sum_value"))
      .orderBy(col("day"))
  }

  /** Int8 scalar quantization of embeddings (the 4× storage lever for
    * a 100 TB vector store) with per-vector min/max scales and the
    * max absolute reconstruction error — the quality gate before
    * swapping the full-precision column out. Pure per-row arithmetic:
    * scales with the scan. */
  val qVectorQuantize: QDef = QDef(
    "q_vector_quantize",
    """WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, v, list_min(v) AS lo,
      |    (list_max(v) - list_min(v)) / 255.0 AS step
      |  FROM e),
      |q AS (
      |  SELECT vec_id, v, lo, step,
      |    list_transform(v, x -> CASE WHEN step = 0 THEN 0
      |      ELSE round((x - lo) / step) END) AS code
      |  FROM s)
      |SELECT vec_id,
      |  ROUND(lo, 4) AS lo, ROUND(step, 6) AS step,
      |  ROUND(list_max(list_transform(range(1, 65),
      |    i -> ABS(v[i] - (lo + code[i] * step)))), 6) AS max_err
      |FROM q
      |ORDER BY vec_id""".stripMargin) { (s, d) =>
    val v = transform(col("embedding"), x => x.cast("double"))
    val lo = array_min(v)
    val step = (array_max(v) - array_min(v)) / lit(255.0)
    val code = transform(
      col("v"),
      x => when(col("step") === 0, lit(0.0))
        .otherwise(round((x - col("lo")) / col("step"), 0)))
    val err = array_max(zip_with(
      col("v"), col("code"),
      (x, c) => abs(x - (col("lo") + c * col("step")))))
    embeddings(s, d)
      .select(col("vec_id"), v.as("v"), lo.as("lo"), step.as("step"))
      .withColumn("code", code)
      // max_err BEFORE the projection that aliases rounded lo/step:
      // Spark 4 lateral column alias resolution binds a same-select
      // col("lo") to the `round(lo,4) AS lo` alias earlier in the
      // list, not the child column — the error silently computed
      // against the ROUNDED scales (caught by the DuckDB parity gate)
      .withColumn("max_err", round(err, 6))
      .select(
        col("vec_id"), round(col("lo"), 4).as("lo"),
        round(col("step"), 6).as("step"), col("max_err"))
      .orderBy(col("vec_id"))
  }

  /** Concurrent-session counting by DELTA DECOMPOSITION: each session
    * becomes a +1 event at the first hour boundary it covers and a −1
    * after its last; the running sum over the per-hour delta aggregate
    * is the number of sessions active at each boundary. This is THE
    * scale pattern for interval concurrency — a range join of
    * boundaries × intervals is O(hours·sessions), deltas are one pass
    * + a window over a CALENDAR-BOUNDED aggregate (~9 k rows/year, so
    * the single-partition running sum is over the tiny rollup, never
    * the raw sessions). Sessions are the 30-min-gap sessionization. */
  val qConcurrency: QDef = QDef(
    "q_concurrency",
    """WITH t AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
      |           - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
      |             (PARTITION BY user_id ORDER BY ts, event_id)
      |           > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM t),
      |sess AS (
      |  SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en
      |  FROM s GROUP BY user_id, sid),
      |deltas AS (
      |  SELECT CASE WHEN date_trunc('hour', st) = st
      |              THEN date_trunc('hour', st)
      |              ELSE date_trunc('hour', st) + INTERVAL 1 HOUR END AS h,
      |    1 AS d
      |  FROM sess
      |  UNION ALL
      |  SELECT date_trunc('hour', en) + INTERVAL 1 HOUR AS h, -1 AS d
      |  FROM sess),
      |ph AS (SELECT h, CAST(SUM(d) AS BIGINT) AS delta
      |       FROM deltas GROUP BY h)
      |SELECT CAST(h AS TIMESTAMP) AS hour, delta,
      |  CAST(SUM(delta) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS n_active
      |FROM ph
      |ORDER BY hour""".stripMargin) { (s, d) =>
    val uw = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("brk",
        when(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(uw)
          > 1800000000L, 1).otherwise(0))
      .withColumn("sid", sum(col("brk"))
        .over(uw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    val hourUp = expr("date_trunc('hour', st) + INTERVAL 1 HOUR")
    val startBoundary = when(
      date_trunc("hour", col("st")) === col("st"),
      date_trunc("hour", col("st"))).otherwise(hourUp)
    val deltas = sess.select(startBoundary.as("h"), lit(1).as("d"))
      .union(sess.select(
        expr("date_trunc('hour', en) + INTERVAL 1 HOUR").as("h"),
        lit(-1).as("d")))
    val w = Window.orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.groupBy(col("h")).agg(sum(col("d")).as("delta"))
      .withColumn("n_active", sum(col("delta")).over(w))
      .select(
        col("h").cast("timestamp_ntz").as("hour"),
        col("delta"), col("n_active"))
      .orderBy(col("hour"))
  }

  /** Token collocations by PMI over the top-30 document-frequency
    * vocabulary: pairs that co-occur in documents far more than their
    * independent rates predict. The vocabulary cut is a 30-row
    * TakeOrdered (broadcast everywhere after), so the per-doc pair
    * explosion is bounded at C(30,2) regardless of corpus size; doc
    * frequencies, not raw counts, keep every statistic a distinct-doc
    * aggregate. */
  val qPmiCooccur: QDef = QDef(
    "q_pmi_cooccur",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |dfreq AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY w),
      |top AS (SELECT w, df FROM dfreq ORDER BY df DESC, w LIMIT 30),
      |tt AS (SELECT tok.doc_id, tok.w, top.df FROM tok JOIN top USING (w)),
      |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs
      |      FROM documents),
      |pairs AS (
      |  SELECT a.w AS w1, b.w AS w2,
      |    CAST(COUNT(*) AS BIGINT) AS c_ab,
      |    CAST(MIN(a.df) AS BIGINT) AS c_a, CAST(MIN(b.df) AS BIGINT) AS c_b
      |  FROM tt a JOIN tt b ON a.doc_id = b.doc_id AND a.w < b.w
      |  GROUP BY a.w, b.w)
      |SELECT w1, w2, c_ab,
      |  ROUND(ln((c_ab * n.n_docs) / (c_a * c_b)), 4) AS pmi
      |FROM pairs CROSS JOIN n
      |WHERE c_ab >= 5
      |ORDER BY w1, w2""".stripMargin) { (s, d) =>
    // Per-doc token dedup via array_distinct BEFORE the explode: the
    // (doc_id, w) DISTINCT is doc-local, so doing it inside the row
    // costs zero data motion (the previous formulation shuffled the
    // whole exploded token stream twice to DISTINCT it). Pairs then
    // explode within each doc's ≤30-term sorted set — basket-style,
    // no self-join — so the only exchanges left are the small
    // df-marginal agg and the doc-grain set build.
    val tok = documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
    val top = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w")).limit(30)
    val n = documents(s, d)
      .agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
    val sets = tok.join(broadcast(top), "w")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(struct(col("w"), col("df")))).as("ws"))
    sets
      .select(explode(col("ws")).as("a"), col("ws"))
      .select(col("a"), explode(col("ws")).as("b"))
      .filter(col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
      .agg(
        count(lit(1)).as("c_ab"),
        min(col("a.df")).as("c_a"), min(col("b.df")).as("c_b"))
      .filter(col("c_ab") >= 5)
      .crossJoin(broadcast(n))
      .select(
        col("w1"), col("w2"), col("c_ab"),
        round(log((col("c_ab") * col("n_docs")) / (col("c_a") * col("c_b"))),
          4).as("pmi"))
      .orderBy(col("w1"), col("w2"))
  }

  /** Second-order behavior motifs: the top-20 event-type TRIGRAMS over
    * per-user time order (two chained LEADs on ONE user_id window
    * sort), with each motif's share of all trigrams — the n-gram
    * extension of q_transition_matrix's first-order Markov counts
    * (bot loops like view→view→view surface here, not there). */
  val qTransitionTrigram: QDef = QDef(
    "q_transition_trigram",
    """WITH s AS (
      |  SELECT event_type AS a,
      |    LEAD(event_type, 1) OVER w AS b,
      |    LEAD(event_type, 2) OVER w AS c
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      |g AS (
      |  SELECT a, b, c, COUNT(*) AS n FROM s
      |  WHERE b IS NOT NULL AND c IS NOT NULL
      |  GROUP BY 1, 2, 3),
      |t AS (SELECT SUM(n) AS total FROM g)
      |SELECT a, b, c, CAST(n AS BIGINT) AS n,
      |  ROUND(n / total, 6) AS share
      |FROM g, t
      |ORDER BY n DESC, a, b, c
      |LIMIT 20""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val g = events(s, d)
      .select(col("event_type").as("a"),
        lead(col("event_type"), 1).over(w).as("b"),
        lead(col("event_type"), 2).over(w).as("c"))
      .filter(col("b").isNotNull && col("c").isNotNull)
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n"))
    val t = g.agg(sum(col("n")).cast("double").as("total"))
    g.crossJoin(broadcast(t))
      .select(col("a"), col("b"), col("c"), col("n"),
        round(col("n") / col("total"), 6).as("share"))
      .orderBy(col("n").desc, col("a"), col("b"), col("c"))
      .limit(20)
  }

  /** Decile lift table (the gains chart behind every targeting
    * decision): customers deciled by account balance — exact
    * interpolated boundaries broadcast back, comparison-count bin
    * assignment, never a global-sort ntile — each decile's order rate
    * vs the global rate as LIFT. */
  val qDecileLift: QDef = QDef(
    "q_decile_lift",
    """WITH b AS (
      |  SELECT [quantile_cont(c_acctbal, 0.1), quantile_cont(c_acctbal, 0.2),
      |    quantile_cont(c_acctbal, 0.3), quantile_cont(c_acctbal, 0.4),
      |    quantile_cont(c_acctbal, 0.5), quantile_cont(c_acctbal, 0.6),
      |    quantile_cont(c_acctbal, 0.7), quantile_cont(c_acctbal, 0.8),
      |    quantile_cont(c_acctbal, 0.9)] AS qs FROM customer),
      |r AS (
      |  SELECT c_custkey, len(list_filter(qs, x -> x <= c_acctbal)) AS decile,
      |    CASE WHEN EXISTS (SELECT 1 FROM orders
      |      WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END AS responded
      |  FROM customer, b),
      |g AS (
      |  SELECT decile, COUNT(*) AS n_cust,
      |    CAST(SUM(responded) AS DOUBLE) AS n_resp
      |  FROM r GROUP BY decile),
      |t AS (SELECT SUM(n_resp) / SUM(n_cust) AS global_rate FROM g)
      |SELECT decile, CAST(n_cust AS BIGINT) AS n_cust,
      |  ROUND(n_resp / n_cust, 6) AS resp_rate,
      |  ROUND((n_resp / n_cust) / global_rate, 4) AS lift
      |FROM g, t
      |ORDER BY decile""".stripMargin) { (s, d) =>
    val cust = customer(s, d)
    val qs = cust.agg(expr(
      "percentile(c_acctbal, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
      .as("qs"))
    val responded = cust
      .join(orders(s, d).select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("c_acctbal"),
        when(col("o_custkey").isNotNull, 1).otherwise(0).as("responded"))
    val g = responded.crossJoin(broadcast(qs))
      .withColumn("decile", expr(
        "aggregate(qs, 0, (acc, x) -> acc + CASE WHEN x <= c_acctbal THEN 1 ELSE 0 END)"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("responded")).cast("double").as("n_resp"))
    val t = g.agg((sum(col("n_resp")) / sum(col("n_cust")))
      .as("global_rate"))
    g.crossJoin(broadcast(t))
      .select(col("decile"), col("n_cust"),
        round(col("n_resp") / col("n_cust"), 6).as("resp_rate"),
        round((col("n_resp") / col("n_cust")) / col("global_rate"), 4)
          .as("lift"))
      .orderBy(col("decile"))
  }

  /** Cohort LTV curve: cumulative revenue per customer for each
    * first-order-month cohort at ages 0..12 months — the retention
    * economics complement of q_cohort_retention's count matrix. The
    * per-customer first month is a whole-partition MIN window (one
    * custkey shuffle), the (cohort, age) rollup is calendar-bounded
    * (months × 13), and the running LTV is an EXACT DECIMAL window
    * sum over that bounded grid divided by the cohort's BIGINT user
    * count. */
  val qCohortLtv: QDef = QDef(
    "q_cohort_ltv",
    """WITH f AS (
      |  SELECT o_custkey, o_totalprice,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
      |    MIN(CAST(date_trunc('month', o_orderdate) AS DATE))
      |      OVER (PARTITION BY o_custkey) AS cm
      |  FROM orders),
      |g AS (
      |  SELECT cm AS cohort, date_diff('month', cm, om) AS age,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
      |    COUNT(DISTINCT o_custkey) AS buyers
      |  FROM f WHERE date_diff('month', cm, om) <= 12
      |  GROUP BY 1, 2),
      |sz AS (
      |  SELECT cm AS cohort, COUNT(DISTINCT o_custkey) AS cohort_size
      |  FROM f GROUP BY 1)
      |SELECT g.cohort AS cohort, CAST(g.age AS INT) AS age,
      |  CAST(g.buyers AS BIGINT) AS buyers,
      |  CAST(SUM(g.rev) OVER (PARTITION BY g.cohort ORDER BY g.age)
      |    AS DOUBLE) AS cum_revenue,
      |  ((2 * CAST(SUM(g.rev) OVER (PARTITION BY g.cohort
      |        ORDER BY g.age) * 100 AS BIGINT) * 100 + sz.cohort_size)
      |    // (2 * sz.cohort_size)) / 10000.0 AS ltv_per_customer
      |FROM g JOIN sz ON g.cohort = sz.cohort
      |ORDER BY cohort, age""".stripMargin) { (s, d) =>
    val byCust = Window.partitionBy(col("o_custkey"))
    val f = orders(s, d)
      .select(col("o_custkey"), col("o_totalprice"),
        date_trunc("month", col("o_orderdate")).cast("date").as("om"))
      .withColumn("cm", min(col("om")).over(byCust))
      .withColumn("age", months_between(col("om"), col("cm")).cast("int"))
    val g = f.filter(col("age") <= 12)
      .groupBy(col("cm").as("cohort"), col("age"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        countDistinct(col("o_custkey")).as("buyers"))
    val sz = f.groupBy(col("cm").as("cohort"))
      .agg(countDistinct(col("o_custkey")).as("cohort_size"))
    val cum = Window.partitionBy(col("cohort")).orderBy(col("age"))
    g.join(sz, "cohort")
      // the 4dp per-customer LTV rounds via exact integer micro-unit
      // floor division (cents ÷ count terminates → ROUND(double,4)
      // sits on engine-divergent .5 boundaries; same seam as
      // q_argmin_supplier)
      .select(col("cohort"), col("age"), col("buyers"),
        sum(col("rev")).over(cum).cast("double").as("cum_revenue"),
        (expr("(2 * cast(sum(rev) over " +
          "(partition by cohort order by age) * 100 as bigint) * 100" +
          " + cohort_size) div (2 * cohort_size)") / lit(10000.0))
          .as("ltv_per_customer"))
      .orderBy(col("cohort"), col("age"))
  }

  val defs: Seq[QDef] = Seq(
    qCohortRetention, qTransitionMatrix, qAbsorptionProb, qEntropy,
    qAnomalyZscore,
    qWeightedAvg, qUserHoldout, qBm25TopTerm, qCentroidDist,
    qActiveUsers, qQuantileBucket, qDedupContainment, qLagFeatures,
    qRobustStats, qSampleBalanced, qTimeGapfill, qVectorQuantize,
    qConcurrency, qPmiCooccur, qTransitionTrigram, qDecileLift,
    qCohortLtv)
}
