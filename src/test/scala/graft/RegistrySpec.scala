package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Meta-guards on the driver contract itself: the registry feeds
  * `queries`/`oracleSql` as Maps, so a duplicated name would SILENTLY
  * drop an operator from the driver's correctness and bench runs. */
class RegistrySpec extends AnyFunSuite {

  test("declared query names are unique (Map collapse would hide one)") {
    val names = SparkEntry.registry.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
  }

  test("every oracle belongs to a declared query; names follow q_*") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    SparkEntry.registry.foreach { q =>
      assert(q.name.matches("q_[a-z0-9_]+"), q.name)
    }
  }

  test("every oracle ends in a total ORDER BY or is a single-row agg") {
    // the §0 determinism contract, enforced mechanically: multi-row
    // outputs need a total ORDER BY for the row-order-sensitive golden
    val exempt = Set(
      "q_map_funcs", "q_agg_stats", "q_cast_decimal", "q_pivot",
      "q_text_stats", "q_funnel", "q_table_checksum",
      "q_abtest_ztest", "q_anova_f", "q_tpch_q14", "q_tpch_q17",
      "q_tpch_q19", "q_tpch_q6",
      "q_triangle_copurchase",
      "q_cohen_kappa", "q_logloss_brier",
      "q_did_effect", "q_srm_check", "q_cuped_effect",
      "q_kendall_tau", "q_skew_metrics", "q_zipf_alpha",
      "q_bootstrap_ci") // ≤ handful of rows (single-row aggs)
    SparkEntry.registry
      .filter(q => q.oracle.isDefined && !exempt(q.name))
      .foreach { q =>
        assert(q.oracle.get.toUpperCase.contains("ORDER BY"),
          s"${q.name}'s oracle lacks ORDER BY")
      }
  }

  test("README states the registry's query and oracle counts") {
    // whitespace and the code block's `//` line prefixes normalised
    val readme = Files.readString(Paths.get("README.md"))
      .replaceAll("(?m)^\\s*//", " ").split("\\s+").mkString(" ")
    val (n, m) = (SparkEntry.registry.size, SparkEntry.oracleSql.size)
    assert(readme.contains(s"($n declared queries, $m DuckDB-oracle-checked;"))
    assert(readme.contains(s"the $n-operator query surface"))
    assert(readme.contains(
      s"$m of the $n declared operators are DuckDB-oracle-checked"))
  }
}
