package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Static scale audit of a query's physical plan: the pre-flight check
  * a pipeline runs BEFORE submitting a job over 100 TB. Counts the
  * operators whose behavior changes with data volume (shuffles,
  * join strategies, windows) and inspects every scan for the two
  * things that decide whether a petabyte read is a petabyte read
  * (column pruning, filter pushdown), then turns the findings into a
  * ranked risk list.
  *
  * RegistryPlanSpec's registry-wide sweeps read it, and a USER of the
  * engine can gate their own queries the same way
  * (`PlanAudit.of(df).risks` in a CI check).
  */
final case class ScanInfo(
    source: String,
    readColumns: Int,
    pushedFilters: Int,
    partitionFilters: Int)

final case class PlanAudit(
    shuffles: Int,
    broadcasts: Int,
    sortMergeJoins: Int,
    broadcastHashJoins: Int,
    nestedLoopJoins: Int,
    cartesians: Int,
    windows: Int,
    unpartitionedWindows: Int,
    codegenSpans: Int,
    scans: Seq[ScanInfo]) {

  /** Ranked scale risks; empty = nothing structurally dangerous. */
  def risks: Seq[String] = {
    val out = Seq.newBuilder[String]
    if (cartesians > 0)
      out += s"$cartesians CartesianProduct node(s): O(n*m) pair blowup"
    if (unpartitionedWindows > 0)
      out += s"$unpartitionedWindows unpartitioned WindowExec node(s): " +
        "whole input serializes through ONE task unless the grain is " +
        "bounded (calendar/top-k/band tables)"
    if (nestedLoopJoins > 0)
      out += s"$nestedLoopJoins BroadcastNestedLoopJoin node(s): fine " +
        "for small broadcast sides, quadratic otherwise"
    scans.filter(s => s.readColumns > 8 && s.pushedFilters == 0)
      .foreach { s =>
        out += s"scan ${s.source} reads ${s.readColumns} columns with " +
          "no pushed filters: full unpruned read"
      }
    out.result()
  }

  def render: String = {
    val scanLines = scans.map { s =>
      s"  scan ${s.source}: cols=${s.readColumns} " +
        s"pushed=${s.pushedFilters} partitionFilters=${s.partitionFilters}"
    }
    val riskLines = risks match {
      case Nil => Seq("  (none)")
      case rs  => rs.map("  ! " + _)
    }
    (Seq(
      s"shuffles=$shuffles broadcasts=$broadcasts " +
        s"smj=$sortMergeJoins bhj=$broadcastHashJoins " +
        s"bnlj=$nestedLoopJoins cartesian=$cartesians",
      s"windows=$windows (unpartitioned=$unpartitionedWindows) " +
        s"codegenSpans=$codegenSpans",
      "scans:") ++ scanLines ++ Seq("risks:") ++ riskLines).mkString("\n")
  }
}

object PlanAudit {

  /** The STATIC physical plan of `df`: planned with AQE disabled so
    * exchanges and join strategies are visible, not wrapped in opaque
    * query stages, then the session's earlier AQE setting restored.
    *
    * Always RE-PLANS from the logical plan: `executedPlan` is a
    * memoized lazy val, so on a DataFrame that has already run an
    * action it would come back as an opaque AdaptiveSparkPlanExec LEAF
    * under which every collect is empty — a cartesian query would
    * audit clean. The fresh execution makes the AQE toggle actually
    * apply regardless of the DataFrame's history. */
  def staticPlan(df: DataFrame): SparkPlan = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try org.apache.spark.sql.graft.ColumnBridge.freshExecutedPlan(df)
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Audit the [[staticPlan]] of `df`. */
  def of(df: DataFrame): PlanAudit = audit(staticPlan(df))

  private[tools] def audit(plan: SparkPlan): PlanAudit = {
    def all[T](pf: PartialFunction[SparkPlan, T]): Seq[T] =
      plan.collectWithSubqueries(pf)
    val windows = all { case w: WindowExec => w }
    val scans =
      all {
        case f: FileSourceScanExec =>
          ScanInfo(
            f.relation.location.rootPaths.headOption
              .map(_.getName).getOrElse("file"),
            f.output.size,
            f.dataFilters.size,
            f.partitionFilters.size)
        case b: BatchScanExec =>
          // DSv2 (jetcsv/jetmdb/...): pushed filters live inside the
          // scan implementation. Both graft sources render them in the
          // scan description as "PushedFilters: [f1, f2]" — parse that
          // count so a filtered 9+-column DSv2 scan does not trip the
          // no-pushed-filters risk falsely (and an unfiltered one
          // still does)
          val desc = try b.scan.description() catch { case _: Throwable => "" }
          val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
            .findFirstMatchIn(desc)
            .map(_.group(1).trim)
            .map(s => if (s.isEmpty) 0 else s.split(',').length)
            .getOrElse(0)
          ScanInfo(b.scan.getClass.getSimpleName, b.output.size, pushed, 0)
      }
    PlanAudit(
      shuffles = all { case e: ShuffleExchangeLike => e }.size,
      broadcasts = all { case e: BroadcastExchangeLike => e }.size,
      sortMergeJoins = all { case j: SortMergeJoinExec => j }.size,
      broadcastHashJoins = all { case j: BroadcastHashJoinExec => j }.size,
      nestedLoopJoins =
        all { case j: BroadcastNestedLoopJoinExec => j }.size,
      cartesians = all { case j: CartesianProductExec => j }.size,
      windows = windows.size,
      unpartitionedWindows = windows.count(_.partitionSpec.isEmpty),
      codegenSpans = all { case w: WholeStageCodegenExec => w }.size,
      scans = scans)
  }
}
