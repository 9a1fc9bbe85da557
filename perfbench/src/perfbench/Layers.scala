package perfbench

import org.apache.spark.sql.SparkSession

/** The per-layer report of a traced run: every metric below, for every
  * workload (0 where the workload does not use the layer). Times and
  * counts are per traced op unless the unit says otherwise; span times
  * are self times. */
object Layers {

  val Units: Seq[(String, String)] = Seq(
    "operators.build_ms" -> "ms",
    "plans.analysis_ms" -> "ms",
    "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms",
    "plans.checkpoints_swept" -> "count",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.outside_job_ms" -> "ms",
    "exec.outside_job_share" -> "ratio",
    "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms",
    "exec.task_cpu_cores" -> "cores",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.max_task_ms" -> "ms",
    "exec.failed_tasks" -> "count",
    "sources.input_rows" -> "count",
    "sources.input_bytes" -> "bytes",
    "sources.cache_hits" -> "count",
    "sources.cache_misses" -> "count",
    "sources.storage_mb" -> "MB",
    "jetmdb.decode_ms" -> "ms",
    "jetmdb.decode_tasks" -> "count",
    "jetmdb.encode_ms" -> "ms",
    "jetmdb.file_bytes_per_row" -> "bytes",
    "jetmdb.catalog_ms" -> "ms",
    "jetmdb.write_rows_per_s" -> "rows/s",
    "jetmdb.read_rows_per_s" -> "rows/s",
    "jetmdb.share" -> "ratio",
    "etl.migrate_ms" -> "ms",
    "etl.rows_per_s" -> "rows/s",
    "jdbc.load_ms" -> "ms",
    "jdbc.verify_ms" -> "ms",
    "jdbc.constraints_ms" -> "ms",
    "jdbc.rows_written" -> "count",
    "jdbc.share" -> "ratio",
    "jvm.gc_ms" -> "ms",
    "jvm.cold_pass_s" -> "s",
    "host.steal_ms" -> "ms",
    "op.traced_ms" -> "ms",
    "op.untraced_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  def report(
      spark: SparkSession, tracer: Tracer, ops: Seq[PerfBench.OpRec],
      passes: Seq[PerfBench.Pass], coldS: Double, rowsPerPass: Long,
      opsPerPass: Int): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val spans = tracer.spans.toSeq
    val self = Tracer.selfNs(spans)
    def selfMs(name: String): Double =
      spans.filter(_.name == name).map(s => self(s.id)).sum / 1e6
    def durS(name: String): Double =
      spans.filter(_.name == name).map(_.durNs).sum / 1e9
    def perOp(k: String): Double = traced.map(_.counters.getOrElse(k, 0.0)).sum / n
    val wallMs = traced.map(_.wallS).sum * 1000
    val rowsPerOp = rowsPerPass.toDouble / opsPerPass
    def rate(rows: Double, s: Double): Double = if (s > 0) rows / s else 0.0

    // tracing overhead: per op name, mean traced wall against mean
    // untraced wall of the same op in the same run
    val byName = ops.groupBy(_.name).values.toSeq.flatMap { rs =>
      val t = rs.filter(_.traced).map(_.wallS)
      val u = rs.filterNot(_.traced).map(_.wallS)
      if (t.nonEmpty && u.nonEmpty) Some((t.sum / t.size, u.sum / u.size)) else None
    }
    val tMean = byName.map(_._1).sum
    val uMean = byName.map(_._2).sum
    val timedPasses = passes.filter(_.kind.startsWith("timed"))

    // The migration runs as one call (span etl.migrate). Its layers are
    // attributed afterwards: jetmdb.catalog and jetmdb.decode from the
    // untimed probe after the op; jdbc.load as the JDBC write
    // executions' wall less that decode (decode and insert share tasks);
    // jdbc.verify as the JDBC read executions' wall; jdbc.constraints
    // as the driver-only tail after the op's last job (the constraint
    // DDL); etl.migrate as what is left of the op wall.
    val migrations = spans.count(_.name == "etl.migrate")
    val catalogMs = selfMs("jetmdb.catalog") / n
    val decodeMs = selfMs("jetmdb.decode") / n
    val writeMs = perOp("jdbc_write_ms")
    val verifyMs = perOp("jdbc_read_ms")
    val constraintsMs = if (migrations > 0) perOp("after_last_job_ms") else 0.0

    Map(
      "operators.build_ms" -> selfMs("operators.build") / n,
      "plans.analysis_ms" -> perOp("analysis_ms"),
      "plans.optimization_ms" -> perOp("optimization_ms"),
      "plans.planning_ms" -> perOp("planning_ms"),
      "plans.checkpoints_swept" ->
        timedPasses.map(_.swept).sum.toDouble / math.max(1, timedPasses.map(_.ops).sum),
      "exec.jobs" -> perOp("jobs"),
      "exec.stages" -> perOp("stages"),
      "exec.tasks" -> perOp("tasks"),
      "exec.outside_job_ms" -> perOp("outside_job_ms"),
      "exec.outside_job_share" -> perOp("outside_job_ms") * n / wallMs,
      "exec.task_run_ms" -> perOp("task_run_ms"),
      "exec.task_cpu_ms" -> perOp("task_cpu_ms"),
      "exec.task_cpu_cores" -> perOp("task_cpu_ms") * n / wallMs,
      "exec.shuffle_read_bytes" -> perOp("shuffle_read_bytes"),
      "exec.shuffle_write_bytes" -> perOp("shuffle_write_bytes"),
      "exec.spill_bytes" -> perOp("spill_bytes"),
      "exec.max_task_ms" ->
        traced.map(_.counters.getOrElse("max_task_ms", 0.0)).foldLeft(0.0)(math.max),
      "exec.failed_tasks" -> perOp("failed_tasks"),
      "sources.input_rows" -> perOp("input_rows"),
      "sources.input_bytes" -> perOp("input_bytes"),
      "sources.cache_hits" -> perOp("cache_hits"),
      "sources.cache_misses" -> perOp("cache_misses"),
      "sources.storage_mb" -> Probes.storageMb(spark).toDouble,
      "jetmdb.decode_ms" -> decodeMs,
      "jetmdb.decode_tasks" -> perOp("decode_tasks"),
      "jetmdb.encode_ms" -> 0.0,
      "jetmdb.file_bytes_per_row" -> 0.0,
      "jetmdb.catalog_ms" -> catalogMs,
      "jetmdb.write_rows_per_s" -> 0.0,
      "jetmdb.read_rows_per_s" -> rate(rowsPerOp * migrations, durS("jetmdb.decode")),
      "jetmdb.share" -> (if (migrations > 0) (catalogMs + decodeMs) * n / wallMs else 0.0),
      "etl.migrate_ms" -> (if (migrations > 0)
        wallMs / n - catalogMs - writeMs - verifyMs - constraintsMs else 0.0),
      "etl.rows_per_s" -> rate(rowsPerOp * migrations, durS("etl.migrate")),
      "jdbc.load_ms" -> (writeMs - decodeMs),
      "jdbc.verify_ms" -> verifyMs,
      "jdbc.constraints_ms" -> constraintsMs,
      "jdbc.rows_written" -> 0.0,
      "jdbc.share" -> (writeMs - decodeMs + verifyMs + constraintsMs) * n / wallMs,
      "jvm.gc_ms" -> perOp("gc_ms"),
      "jvm.cold_pass_s" -> coldS,
      "host.steal_ms" -> perOp("steal_ms"),
      "op.traced_ms" -> wallMs / n,
      "op.untraced_ms" -> {
        val u = ops.filterNot(_.traced)
        if (u.isEmpty) 0.0 else u.map(_.wallS).sum * 1000 / u.size
      },
      "trace.overhead_pct" -> (if (uMean > 0) (tMean / uMean - 1) * 100 else 0.0))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .sortBy(identity).mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
