package graft

import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan, ResolvedHint, UnaryNode}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PlanAudit

/** Registry-wide physical-plan sweeps (every DECLARED query, including
  * the no-oracle ones GoldenParitySpec never builds):
  *
  *   1. Plan-resolve smoke: each query must ANALYZE and physically
  *      plan. A round-4 bench artifact died on a single
  *      AnalysisException and took the whole round's numbers with it —
  *      this makes an analysis regression fail `sbt test` before it
  *      can reach the driver.
  *   2. Unpartitioned-window budget: a `Window.orderBy` with no
  *      PARTITION BY serializes its whole input through ONE task, so
  *      it is only acceptable over inputs whose size is bounded by
  *      something other than the data volume (calendar grids, band/
  *      decile tables, top-k prefixes). Every query whose plan carries
  *      an unpartitioned WindowExec must be on the audited whitelist
  *      below — a new query with a global window over an unbounded
  *      grain fails here until it is either re-shaped (see
  *      q_rfm_segments' banded exact-rank pattern) or consciously
  *      whitelisted with its boundedness argument.
  *   3. Ignored hints: a broadcast hint on the side of an outer join
  *      that the join preserves is dropped by Spark with a warning.
  *
  * Each query is built once; all three sweeps read that one build.
  */
class RegistryPlanSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.session

  /** Every declared query by name, with its analyzed plan and the
    * audit of its static physical plan (`PlanAudit.of` plans with AQE
    * off, which would otherwise wrap stages in opaque QueryStageExec
    * leaves), or the error that stopped building or planning it. */
  private lazy val planned
      : Seq[(String, Either[Throwable, (LogicalPlan, PlanAudit)])] =
    SparkEntry.registry.map { q =>
      q.name -> (try {
        val df = SparkEntry.queries(q.name)(spark, sfDir)
        Right((df.queryExecution.analyzed, PlanAudit.of(df)))
      } catch { case e: Throwable => Left(e) })
    }

  /** Queries audited to run their unpartitioned window over a BOUNDED
    * grain. Grouped by what bounds the serial stage's input. */
  private val boundedWindowWhitelist: Set[String] = Set.empty ++
    // calendar-grid series: pre-aggregated to day/hour grain before
    // the window — input is bounded by the calendar span, not volume
    Set("q_mom_change", "q_runs_test", "q_autocorr", "q_cross_corr",
      "q_bollinger", "q_changepoint", "q_stl_decompose",
      "q_rolling_corr", "q_cum_users", "q_theil_sen", "q_spearman_corr",
      "q_mannwhitney_u", "q_ks_test", "q_survival_km", "q_concurrency",
      "q_interpolate_linear", "q_fdr_bh") ++
    // fixed small domains: region/source/bucket/threshold/replicate
    // tables — pre-aggregated to a domain that does not grow with data
    Set("q_region_share", "q_train_mix", "q_basket_size_dist",
      "q_auc", "q_pr_curve", "q_shard_pack", "q_bootstrap_ci",
      "q_pareto_revenue",
      // UniMax waterfilling: both windows run over the per-LANGUAGE
      // token table — one row per language, bounded by the language
      // domain, never by corpus volume (q_data_constrained selects
      // from the same shared |langs|-row alloc frame)
      "q_unimax_alloc", "q_data_constrained") ++
    // top-k-first: the LIMIT/TakeOrdered runs BEFORE the serial
    // window, so the window sees k rows regardless of corpus size
    Set("q_zipf_top", "q_skyline", "q_zipf_alpha",
      // hybrid RRF ranks inside two TakeOrdered(100) candidate pools —
      // each serial window sees exactly 100 rows at any corpus size
      "q_hybrid_rrf") ++
    // banded exact-rank NTILE (addNtile4): the only unpartitioned
    // window runs over the per-BAND offset table — one row per band,
    // cardinality fixed by the banding scheme (recency/64 is
    // calendar-bounded, frequency/monetary bands are domain-width
    // constants; at extreme domains the bands come from
    // approx-percentile sampling, same bounded contract), never by the
    // customer count. The per-customer rank window IS partitioned (by
    // band). Formerly exempted structurally by its __-prefixed columns;
    // now audited explicitly like everything else.
    Set("q_rfm_segments",
      // CCNet terciles: the q_weighted_median two-level shape — the
      // only unbounded-order window walks the per-BAND offset table
      // (one row per integer NLL unit, ≤ ~25 bands since avg bigram
      // NLL is bounded by ln(vocab)); the per-value cumulative window
      // is partitioned by band
      "q_ccnet_buckets",
      // curriculum interleave: the only unpartitioned windows
      // (ROW_NUMBER + COUNT OVER ()) run on the DISTINCT-sources
      // frame — |sources| = 20 rows at every scale factor, a domain
      // constant; the per-document rank window IS partitioned (by
      // source) and the frame joins back broadcast
      "q_curriculum_mix",
      // translated Jet TOP n PERCENT: the RANK + COUNT OVER ()
      // windows are the operation's NATURE (a global percentile
      // needs a global order), and the translator path is
      // interchange-scale BY CONTRACT — any table a saved Access
      // query ran over fits Jet's own 2 GB database cap, so the
      // global window's input is format-bounded, not data-scaled
      // (the engine-side q_jet_top_percent carries the same audited
      // shape; corpus-scale percentile cuts go through
      // approx-percentile, not a saved-query port)
      "q_jetsql_saved3",
      // tie-faithful plain TOP n demo: the RANK() OVER (ORDER BY)
      // global window runs over NATION — a 25-row dimension table at
      // every scale factor — and the translator path shares
      // q_jetsql_saved3's Jet-2 GB-cap boundedness argument; TOP over
      // a DECLARED-unique ORDER BY keeps the LIMIT fast path instead
      // (q_jetsql_saved pins that: no window at all)
      "q_jet_top_ties")

  test("every declared query resolves and physically plans") {
    val failures = planned.collect { case (name, Left(e)) =>
      s"$name: ${e.getClass.getSimpleName} ${e.getMessage}"
    }
    assert(failures.isEmpty,
      s"queries failing to plan:\n  ${failures.mkString("\n  ")}")
  }

  test("no query hints a broadcast on the preserved side of an outer join") {
    // Spark ignores such a hint with a warning: the preserved side
    // cannot be the build side. A Join takes the hints its optimizer
    // (EliminateResolvedHint) pulls up through each side's unary nodes.
    def broadcastHinted(side: LogicalPlan): Boolean = side match {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => true
      case u: UnaryNode => broadcastHinted(u.child)
      case _ => false
    }
    val offenders = planned.flatMap {
      case (name, Right((analyzed, _))) =>
        analyzed.collectWithSubqueries { case j: Join => j }
          .filter(j => j.joinType match {
            case LeftOuter => broadcastHinted(j.left)
            case RightOuter => broadcastHinted(j.right)
            case FullOuter =>
              broadcastHinted(j.left) || broadcastHinted(j.right)
            case _ => false
          }).map(j => s"$name (${j.joinType.sql})")
      case _ => Nil // planning failures: test 1
    }
    assert(offenders.isEmpty,
      s"ignored broadcast hints: ${offenders.distinct.mkString(", ")}")
  }

  test("unpartitioned windows only appear in audited bounded-grain queries") {
    // no structural exemptions: EVERY unpartitioned window must be
    // on the explicit whitelist with its boundedness argument (the
    // earlier __-prefix column-name escape hatch let any future
    // global window dodge the audit by naming convention); planning
    // failures are test 1's
    val offenders = planned.collect {
      case (name, Right((_, audit)))
          if audit.unpartitionedWindows > 0 &&
            !boundedWindowWhitelist(name) => name
    }
    assert(offenders.isEmpty,
      "unpartitioned WindowExec outside the audited whitelist " +
        s"(re-shape or whitelist with a boundedness argument): " +
        offenders.mkString(", "))
  }
}
