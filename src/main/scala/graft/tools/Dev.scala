package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.{Bench, QDef, SparkEntry}
import graft.plans.Checkpoints

/** Dev entry point: timings, plan dumps and the duplicated-stage
  * sweep of declared queries, on Bench's own session
  * ([[graft.Bench.session]]) over the fixtures in `SPARK_GRAFT_SF_DIR`.
  *
  * {{{
  *   runMain graft.tools.Dev time <q>...
  *   runMain graft.tools.Dev explain <outDir> <suffix> <q>...
  *   runMain graft.tools.Dev dups [q...]      (no names: the registry)
  * }}}
  *
  * Unknown query names fail before a session starts. Each subcommand
  * takes the session, and only `main` builds and stops it. Every
  * subcommand sweeps a query's checkpoints once it is done with it.
  */
object Dev extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDir
    val run: SparkSession => Unit = args.toList match {
      case "time" :: names if names.nonEmpty =>
        val qs = queries(names)
        time(_, sfDir, qs)
      case "explain" :: out :: suffix :: names if names.nonEmpty =>
        val qs = queries(names)
        explain(_, sfDir, Paths.get(out), suffix, qs)
      case "dups" :: names =>
        val qs = if (names.isEmpty) SparkEntry.registry else queries(names)
        dups(_, sfDir, qs)
      case _ => throw new IllegalArgumentException("usage: Dev time <q>... " +
        "| explain <outDir> <suffix> <q>... | dups [q...]")
    }
    val spark = Bench.session()
    try {
      graft.sources.TableLoader.warm(spark, sfDir)
      run(spark)
    } finally spark.stop()
  }

  /** The declared queries `names` names, in order; fails listing every
    * name the registry does not declare. */
  def queries(names: Seq[String]): Seq[QDef] = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.map(byName)
  }

  /** One warm run, then one timed run, of each query to the noop sink,
    * Bench's materialization. */
  def time(spark: SparkSession, sfDir: String, qs: Seq[QDef]): Unit =
    qs.foreach { q =>
      q.fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      println(f"${q.name}: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      Checkpoints.sweep(spark)
    }

  /** Writes each query's `explain("formatted")` twice: the initial
    * adaptive plan to `<q>_<suffix>.txt`, then, after one run, the
    * final adaptive plan (runtime stage reuse, coalescing, broadcast
    * promotion) to `<q>_<suffix>_final.txt`. */
  def explain(spark: SparkSession, sfDir: String, outDir: Path,
      suffix: String, qs: Seq[QDef]): Unit = {
    Files.createDirectories(outDir)
    val formatted = ExplainMode.fromString("formatted")
    def write(file: String, plan: String): Unit = {
      Files.writeString(outDir.resolve(file), plan)
      println(s"[explain] wrote $file")
    }
    qs.foreach { q =>
      val qe = q.fn(spark, sfDir).queryExecution
      write(s"${q.name}_$suffix.txt", qe.explainString(formatted))
      qe.executedPlan.execute().count()
      write(s"${q.name}_${suffix}_final.txt", qe.explainString(formatted))
      Checkpoints.sweep(spark)
    }
  }

  /** Runs each query once and reports those whose final adaptive plan
    * materialized the same shuffle stage more than once: a pipeline
    * recomputed per consumer. Static planning collapses equal
    * exchanges with ReuseExchange, but AQE's stage reuse keys on
    * canonicalized stage plans and misses shapes with
    * TableCacheQueryStage or window chains (plans/r14/
    * q_quantile_normalize_final.txt: stages 15 and 39 identical, both
    * run). Prints and returns one `[dup]` line per such query, or per
    * query that failed. */
  def dups(spark: SparkSession, sfDir: String, qs: Seq[QDef])
      : Seq[String] =
    qs.flatMap { q =>
      val line =
        try {
          val qe = q.fn(spark, sfDir).queryExecution
          qe.executedPlan.execute().count()
          // a reused stage reads another stage's output: not a rerun
          val ran = collectWithSubqueries(qe.executedPlan) {
            case s: ShuffleQueryStageExec
                if !s.plan.isInstanceOf[ReusedExchangeExec] => s
          }.distinctBy(_.id)
          // equal canonical plans = the same result (sameResult)
          val sizes = ran.groupBy(_.plan.canonicalized).values
            .map(_.size).filter(_ > 1).toSeq.sorted.reverse
          Option.when(sizes.nonEmpty)(s"[dup] ${q.name} " +
            s"dupStages=${sizes.sum} (of ${ran.size} materialized) " +
            s"groups=${sizes.mkString(",")}")
        } catch {
          case NonFatal(e) => Some(s"[dup] ${q.name} ERROR ${e.getMessage}")
        }
      Checkpoints.sweep(spark)
      line.foreach(println)
      line
    }
}
