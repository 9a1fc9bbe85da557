package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.QDef
import graft.sources.TableLoader._

/** Iterative graph analytics on the part co-purchase graph (parts are
  * neighbors when they appear in the same order).
  *
  * The dedup layer already covers one graph family — connected
  * components (q_dedup_transitive) via iterated small-star joins; this
  * adds the OTHER canonical iterative shape, PageRank, where every
  * round is join(ranks, edges) → groupBy(dst) and the iteration count
  * is fixed rather than convergence-driven, so the whole computation
  * is one declarative plan Catalyst can see end to end.
  *
  * Scale shapes: the edge build self-joins lineitem ON l_orderkey —
  * TPC-H orders have ≤ 7 lines, so the per-key fan-out is bounded and
  * the join shuffles once on the order key; at 100 TB the edge list is
  * what must be materialized (SessionCache + MEMORY_AND_DISK, same
  * treatment as the minhash shingle sets), NOT recomputed per
  * iteration — without the cache, iteration k re-runs the self-join k
  * times. Each iteration is partial+final aggregated on dst.
  *
  * Float determinism (QDef contract): per-edge contributions
  * rank/outdeg are double ops on identical inputs (bit-identical
  * cross-engine), then quantized to integer FEMTO-units —
  * FLOOR(· * 1e14) AS BIGINT — so the per-node SUM is a primitive
  * long: exact, order-independent, AND hash-aggregable (a
  * DECIMAL(28,14) sum buffer measured ~20% slower over the 2.4M-edge
  * contribution stream; CAST alone would not do — Spark truncates
  * double→bigint, DuckDB rounds, so the FLOOR is load-bearing). The
  * damping arithmetic returns to DOUBLE on the one-row-per-node
  * result; every iteration's rank vector is bit-identical to
  * DuckDB's, and the oracle unrolls the same five iterations as
  * plain CTE levels (recursive CTEs cannot aggregate in the
  * recursive term).
  */
object GraphQueries {

  private val iterations = 5

  /** Co-purchase edges with the source's out-degree attached, cached
    * per (session, dir) — the iteration loop re-reads this 5×.
    *
    * Persisted pre-partitioned on `dst`: the per-iteration probe is a
    * BROADCAST join (the rank vector is |V| rows — tiny next to |E|),
    * which preserves this streamed side's partitioning, so the
    * groupBy(dst) that follows needs NO exchange. Net per iteration:
    * zero edge-side shuffles; only the |V|-row rank vector moves
    * (driver-collected into the broadcast). At 1000 executors the
    * alternative — hash-repartitioning the edge stream twice per
    * iteration — is the dominant cost of the whole query. */
  def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    graft.sources.SessionCache.getOrElseUpdate(s, ("copurchase", d)) {
      val li = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.as("a")
        .join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        .distinct()
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      edges.join(deg, "src")
        .repartition(col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** Node count |V|, computed once per (session, dir) — a scalar, so
    * memoized directly (recomputing it per plan-build would re-shuffle
    * the cached edge list on every run). */
  def copurchaseNodeCount(s: SparkSession, d: String): Double =
    graft.sources.SessionCache.getOrElseUpdate(s, ("copurchase_n", d)) {
      copurchaseEdges(s, d).select(col("src")).distinct().count().toDouble
    }

  /** 5-iteration PageRank (damping 0.85) over part co-purchase, top 20
    * parts. The co-purchase graph is symmetric, so every node has both
    * in- and out-edges and the rank vector keeps the full node set
    * without a dangling-mass correction. */
  val qPagerankParts: QDef = {
    // one unrolled iteration, shared by all 5 CTE levels
    def iterSql(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT ed.dst AS node,
         |    CAST(0.15 AS DOUBLE) / n.n + CAST(0.85 AS DOUBLE) *
         |      (CAST(SUM(CAST(FLOOR($prev.rank / ed.deg * 1e14)
         |        AS BIGINT)) AS DOUBLE) / 1e14) AS rank
         |  FROM $prev JOIN ed ON $prev.node = ed.src, n
         |  GROUP BY ed.dst, n.n)""".stripMargin
    val sql =
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |edges AS (
         |  SELECT DISTINCT a.pk AS src, b.pk AS dst
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |ed AS (SELECT e.src, e.dst, d.deg FROM edges e
         |  JOIN deg d ON e.src = d.src),
         |n AS (SELECT COUNT(*) AS n FROM deg),
         |r0 AS (SELECT src AS node, CAST(1 AS DOUBLE) / n.n AS rank
         |  FROM deg, n),
         |${(0 until iterations).map(i => iterSql(s"r$i", s"r${i + 1}"))
            .mkString(",\n")}
         |SELECT node AS p_partkey, rank
         |FROM r$iterations
         |ORDER BY rank DESC, node LIMIT 20""".stripMargin
    QDef("q_pagerank_parts", sql) { (s, d) =>
      val ed = copurchaseEdges(s, d)
      val n = copurchaseNodeCount(s, d)
      // iterations is a FIXED constant (5), so the loop stays one lazy
      // plan executed as a single job: each level's broadcast subtree
      // builds exactly once inside that job, and there are no eager
      // per-round localCheckpoint materializations or checkpoint
      // blocks to release (Checkpoints.replacing is reserved for the
      // unbounded data-dependent loops, where lineage depth grows
      // with the data). ed is the pinned session cache, so the five
      // re-reads of it are memory-speed.
      var ranks = ed.select(col("src").as("node")).distinct()
        .withColumn("rank", lit(1.0) / lit(n))
      for (_ <- 0 until iterations) {
        ranks = broadcast(ranks)
          .join(ed, col("node") === col("src"))
          .select(col("dst"),
            floor(col("rank") / col("deg") * lit(1e14))
              .cast("bigint").as("c"))
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("cs"))
          .select(col("dst").as("node"),
            (lit(0.15) / lit(n) +
              lit(0.85) * (col("cs").cast("double") / lit(1e14)))
              .as("rank"))
      }
      ranks.select(col("node").as("p_partkey"), col("rank"))
        .orderBy(col("rank").desc, col("p_partkey"))
        .limit(20)
    }
  }

  /** Support-thresholded oriented edges (a < b, co-purchased in ≥ 2
    * orders) for triangle counting — the threshold is what keeps the
    * wedge join bounded: the raw co-purchase graph's Σdeg² explodes
    * with scale, the ≥2-support backbone stays ~3.5k edges at every
    * tested SF. Cached like the PageRank edge list. */
  def triangleEdges(s: SparkSession, d: String): DataFrame =
    graft.sources.SessionCache.getOrElseUpdate(s, ("tri_edges", d)) {
      val li = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("a")
        .join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("s"), col("b.pk").as("d"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("s"), col("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** Symmetric view of the support-≥2 backbone plus per-node degrees,
    * cached per (session, sfDir): q_jaccard_neighbors,
    * q_clustering_coeff and q_label_prop all start from this pair, and
    * re-deriving it per run re-plans two stages over the edge cache
    * each time. Both frames are bounded by the thresholded graph. */
  def symBackbone(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.sources.SessionCache.getOrElseUpdate(s, ("sym_backbone", d)) {
      val e = triangleEdges(s, d)
      val sym = e.select(col("s"), col("d"))
        .unionAll(e.select(col("d").as("s"), col("s").as("d")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val deg = sym.groupBy(col("s").as("v"))
        .agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (sym, deg)
    }

  /** Triangle count on the support-≥2 co-purchase backbone: wedge
    * join (e1.d = e2.s, orientation a<b<c gives each triangle exactly
    * one wedge) closed by a SEMI join against the edge set — the semi
    * cannot fan out, and equals the oracle's inner-join count because
    * (s,d) is unique in e. Single-row (edges, triangles) output. */
  val qTriangleCopurchase: QDef = QDef(
    "q_triangle_copurchase",
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT a.pk AS s, b.pk AS d FROM li a JOIN li b
      |  ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS edges,
      |  CAST((SELECT COUNT(*) FROM e e1
      |    JOIN e e2 ON e1.d = e2.s
      |    JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d) AS BIGINT)
      |    AS triangles""".stripMargin) { (s, d) =>
    val e = triangleEdges(s, d)
    val edges = e.agg(count(lit(1)).as("edges"))
    val triangles = e.as("e1")
      .join(e.as("e2"), col("e1.d") === col("e2.s"))
      .select(col("e1.s").as("ws"), col("e2.d").as("wd"))
      .join(e.as("e3"),
        col("ws") === col("e3.s") && col("wd") === col("e3.d"),
        "left_semi")
      .agg(count(lit(1)).as("triangles"))
    edges.crossJoin(broadcast(triangles))
  }

  /** Degree distribution of the raw co-purchase graph in log2 bins —
    * the first diagnostic on any graph (is it power-law? where does
    * the skew live?) and the input to every salting/threshold
    * decision the other graph queries make. The bin index is computed
    * as LENGTH(BIN(deg)) − 1: exact INTEGER arithmetic on both
    * engines, where FLOOR(LOG2(deg)) would hinge on whether the
    * platform's log2 is correctly rounded at exact powers of two
    * (std::log2(8) = 3.0 but log(8)/log(2) = 2.999…96 — a real
    * cross-engine floor seam). Reuses the cached PageRank edge list;
    * the aggregate is node-grain. */
  val qDegreeDist: QDef = QDef(
    "q_degree_dist",
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.pk AS src, b.pk AS dst
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
      |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
      |SELECT CAST(LENGTH(BIN(deg)) - 1 AS INT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |  CAST(MIN(deg) AS BIGINT) AS min_deg,
      |  CAST(MAX(deg) AS BIGINT) AS max_deg
      |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    copurchaseEdges(s, d)
      .select(col("src"), col("deg")).distinct()
      .groupBy((length(bin(col("deg"))) - 1).cast("int").as("bin"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))
      .orderBy(col("bin"))
  }

  /** Link prediction by neighbor-Jaccard on the support-≥2 backbone:
    * for part pairs NOT already co-purchased together, score
    * |N(a)∩N(b)| / |N(a)∪N(b)| and keep the top 20 — the
    * "customers who bought these also bought those" candidate set.
    * Common-neighbor counts come from ONE wedge join on the
    * symmetric backbone (bounded by the thresholded graph's Σdeg²,
    * the same bound that makes the triangle count tractable), the
    * existing-edge exclusion is an ANTI join, and the Jaccard is a
    * BIGINT ratio evaluated in one double division. */
  val qJaccardNeighbors: QDef = QDef(
    "q_jaccard_neighbors",
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT a.pk AS s, b.pk AS d FROM li a JOIN li b
      |  ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |sym AS (SELECT s, d FROM e UNION ALL SELECT d, s FROM e),
      |deg AS (SELECT s AS v, COUNT(*) AS deg FROM sym GROUP BY 1),
      |com AS (
      |  SELECT x.s AS a, y.s AS b, COUNT(*) AS common
      |  FROM sym x JOIN sym y ON x.d = y.d AND x.s < y.s
      |  GROUP BY 1, 2),
      |cand AS (
      |  SELECT c.a, c.b, c.common FROM com c
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM e WHERE e.s = c.a AND e.d = c.b))
      |SELECT a AS part_a, b AS part_b,
      |  CAST(common AS BIGINT) AS common_neighbors,
      |  ROUND(CAST(common AS DOUBLE) / (da.deg + db.deg - common), 6)
      |    AS jaccard
      |FROM cand
      |JOIN deg da ON da.v = a
      |JOIN deg db ON db.v = b
      |ORDER BY jaccard DESC, a, b LIMIT 20""".stripMargin) { (s, d) =>
    val e = triangleEdges(s, d)
    val (sym, deg) = symBackbone(s, d)
    val com = sym.as("x")
      .join(sym.as("y"),
        col("x.d") === col("y.d") && col("x.s") < col("y.s"))
      .groupBy(col("x.s").as("a"), col("y.s").as("b"))
      .agg(count(lit(1)).as("common"))
    val cand = com.join(e,
      com("a") === e("s") && com("b") === e("d"), "left_anti")
    cand
      .join(deg.withColumnRenamed("v", "a")
        .withColumnRenamed("deg", "dega"), "a")
      .join(deg.withColumnRenamed("v", "b")
        .withColumnRenamed("deg", "degb"), "b")
      .select(col("a").as("part_a"), col("b").as("part_b"),
        col("common").as("common_neighbors"),
        round(col("common").cast("double") /
          (col("dega") + col("degb") - col("common")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** Local clustering coefficient on the support-≥2 backbone: for
    * each part, how interconnected are its co-purchase neighbors
    * (2·triangles_v / deg_v·(deg_v−1))? High coefficient = cohesive
    * product communities; low = hub parts bridging unrelated baskets.
    * Per-node triangles come from the SAME bounded wedge join as the
    * global triangle count (center = wedge apex, closed by the
    * oriented edge set — (s,d) unique in e, so the inner join cannot
    * fan out), and the coefficient is an exact integer ratio →
    * identical IEEE division both engines, ROUND(6) is rendering
    * only. Top 20 by coefficient with part tie-break. */
  val qClusteringCoeff: QDef = QDef(
    "q_clustering_coeff",
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT a.pk AS s, b.pk AS d FROM li a JOIN li b
      |  ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |sym AS (SELECT s, d FROM e UNION ALL SELECT d, s FROM e),
      |deg AS (SELECT s AS v, COUNT(*) AS deg FROM sym GROUP BY 1),
      |tri AS (
      |  SELECT p.s AS v, COUNT(*) AS tri
      |  FROM sym p JOIN sym q ON p.s = q.s AND p.d < q.d
      |  JOIN e ON e.s = p.d AND e.d = q.d
      |  GROUP BY 1)
      |SELECT deg.v AS part, CAST(deg.deg AS BIGINT) AS deg,
      |  CAST(COALESCE(tri.tri, 0) AS BIGINT) AS triangles,
      |  ROUND(2.0 * COALESCE(tri.tri, 0)
      |    / (deg.deg * (deg.deg - 1)), 6) AS coeff
      |FROM deg LEFT JOIN tri ON deg.v = tri.v
      |WHERE deg.deg >= 2
      |ORDER BY coeff DESC, part LIMIT 20""".stripMargin) { (s, d) =>
    val e = triangleEdges(s, d)
    val (sym, deg) = symBackbone(s, d)
    val tri = sym.as("p")
      .join(sym.as("q"),
        col("p.s") === col("q.s") && col("p.d") < col("q.d"))
      .join(e.as("c"),
        col("p.d") === col("c.s") && col("q.d") === col("c.d"))
      .groupBy(col("p.s").as("v"))
      .agg(count(lit(1)).as("tri"))
    deg.join(tri.withColumnRenamed("v", "tv"),
        col("v") === col("tv"), "left")
      .filter(col("deg") >= 2)
      .select(col("v").as("part"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("triangles"),
        round(lit(2.0) * coalesce(col("tri"), lit(0L))
          / (col("deg") * (col("deg") - 1)), 6).as("coeff"))
      .orderBy(col("coeff").desc, col("part"))
      .limit(20)
  }

  /** Community detection by 3 rounds of min-label propagation on the
    * support-≥2 backbone: every node starts labeled with its own id,
    * each round takes the MIN label over {self} ∪ neighbors, and
    * after the fixed rounds labels group into (partially converged)
    * communities — the deterministic, oracle-checkable cousin of
    * q_dedup_transitive's convergence-driven connected components
    * (pure integer MINs: no float anywhere, so the unrolled-CTE
    * oracle replays it exactly).
    *
    * Scale shape is the PageRank contract: the cached edge list never
    * moves; each round is one join(labels, adj) + groupBy(node) MIN —
    * partial-aggregated map-side, shuffling only the |V|-row label
    * vector. The adjacency list and each round's label vector are
    * localCheckpoint'ed: an iterative graph plan otherwise nests
    * every prior round's join into one deep tree — re-analyzed,
    * re-optimized, and at real round counts a lineage/stack blowup.
    * Output: the 20 largest communities. */
  val qLabelProp: QDef = {
    val rounds = 3
    def iterSql(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT adj.v AS v, MIN($prev.lbl) AS lbl
         |  FROM adj JOIN $prev ON $prev.v = adj.nb
         |  GROUP BY 1)""".stripMargin
    val iters = (1 to rounds)
      .map(k => iterSql(s"l${k - 1}", s"l$k")).mkString(",\n")
    QDef(
      "q_label_prop",
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (
         |  SELECT a.pk AS s, b.pk AS d FROM li a JOIN li b
         |  ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |sym AS (SELECT s, d FROM e UNION ALL SELECT d, s FROM e),
         |nodes AS (SELECT DISTINCT s AS v FROM sym),
         |adj AS (
         |  SELECT v, v AS nb FROM nodes
         |  UNION ALL SELECT s AS v, d AS nb FROM sym),
         |l0 AS (SELECT v, v AS lbl FROM nodes),
         |$iters
         |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
         |FROM l$rounds
         |GROUP BY 1
         |ORDER BY n_members DESC, community
         |LIMIT 20""".stripMargin) { (s, d) =>
      val (sym, _) = symBackbone(s, d)
      val nodes = sym.select(col("s").as("v")).distinct()
      val adj = nodes.select(col("v"), col("v").as("nb"))
        .unionAll(sym.select(col("s").as("v"), col("d").as("nb")))
        .localCheckpoint()
      var labels = nodes.select(col("v"), col("v").as("lbl"))
        .localCheckpoint()
      // replacing: round N−1's label blocks release as soon as round N
      // materializes — adj (joined every round) stays; the final labels
      // frame and adj are reclaimed by the harness sweep after the run.
      // An A/B against the fully-lazy fused chain (no checkpoints) at
      // sf0.1 measured 1.86–2.41 s checkpointed vs 2.14–2.52 s lazy —
      // inside host noise, so eager rounds are kept for what they
      // guarantee rather than speed: AQE plans every round's join from
      // exact materialized sizes, and peak block residency stays O(1)
      // frontiers instead of one deep plan. r15 re-tried the lazy form
      // WITH an explicit per-round broadcast(labels) hint (the
      // q_pagerank_parts shape): n=8 median 2.88 s vs 2.43 eager —
      // refused again; the broadcast builds serialize the same chain.
      for (_ <- 1 to rounds)
        labels = graft.plans.Checkpoints.replacing(
          adj
            .join(labels.withColumnRenamed("v", "lv"),
              col("nb") === col("lv"))
            .groupBy(col("v"))
            .agg(min(col("lbl")).as("lbl")),
          labels)
      labels
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("community"))
        .limit(20)
    }
  }

  val defs: Seq[QDef] = Seq(qPagerankParts, qTriangleCopurchase,
    qDegreeDist, qJaccardNeighbors, qClusteringCoeff, qLabelProp)
}
