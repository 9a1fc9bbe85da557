package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{LogicalRelation, SaveIntoDataSourceCommand}
import org.apache.spark.sql.execution.datasources.jdbc.JdbcRelationProvider
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own code around a call into a
  * module. `parent` is the enclosing span's id (-1 for an op's root);
  * `op` ties every span of one op together. */
final case class Span(
    id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest by call structure (one client
  * thread), are kept in memory and summarised when the run ends. */
final class Tracer(sc: Option[SparkContext] = None) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  def startOp(id: Int): Unit = op = id

  /** Runs `body` as a span. Spark jobs it submits carry the span's name
    * (a local property), so their tasks are counted against it. */
  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, op, name, System.nanoTime(), -1L)
    stack = id :: stack
    sc.foreach(_.setLocalProperty(ExecCounters.SpanKey, name))
    try body
    finally {
      stack = stack.tail
      sc.foreach(_.setLocalProperty(ExecCounters.SpanKey,
        stack.headOption.map(spans(_).name).orNull))
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }
}

object Tracer {

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - covered(c, s.startNs, s.endNs))
    }.toMap
  }

  /** Structural invariants of a finished trace, as violation messages:
    * every span ends after it starts and lies inside its parent, every
    * self time is ≥ 0, and the layer spans of an op (its root's
    * children) sum to no more than the op's wall. */
  def violations(spans: Seq[Span]): Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    val self = selfNs(spans)
    val bad = ArrayBuffer.empty[String]
    spans.foreach { s =>
      if (s.endNs < s.startNs) bad += s"span ${s.name}#${s.id} ends before it starts"
      byId.get(s.parent).foreach { p =>
        if (s.startNs < p.startNs || s.endNs > p.endNs)
          bad += s"span ${s.name}#${s.id} escapes its parent ${p.name}#${p.id}"
        if (s.op != p.op) bad += s"span ${s.name}#${s.id} changes op"
      }
      if (self(s.id) < 0) bad += s"span ${s.name}#${s.id} has negative self time"
    }
    spans.filter(_.parent < 0).foreach { root =>
      val layers = spans.filter(_.parent == root.id).map(_.durNs).sum
      if (layers > root.durNs)
        bad += s"op ${root.op}: layer spans ${layers}ns exceed op wall ${root.durNs}ns"
    }
    bad.toSeq
  }
}

/** Spark-side counters for the exec/sources/plans layers. Collects only
  * while `on`; read after [[org.apache.spark.PerfBenchBus.drain]]. */
final class ExecCounters extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, shuffleRead, shuffleWrite, spill = 0L
  var maxTaskMs, inputRows, inputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** Wall of SQL executions that write to / read from a JDBC target. */
  var jdbcWriteNs, jdbcReadNs = 0L
  val jobWindows = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val stageSpan = scala.collection.mutable.Map.empty[Int, String]
  val tasksBySpan = scala.collection.mutable.Map.empty[String, Long]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; failedTasks = 0
    taskRunMs = 0; taskCpuNs = 0; shuffleRead = 0; shuffleWrite = 0
    spill = 0; maxTaskMs = 0; inputRows = 0; inputBytes = 0
    analysisMs = 0; optimizationMs = 0; planningMs = 0
    jdbcWriteNs = 0; jdbcReadNs = 0
    jobWindows.clear(); jobStart.clear(); stageSpan.clear()
    tasksBySpan.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      jobs += 1
      jobStart(e.jobId) = e.time
      Option(e.properties).flatMap(p => Option(p.getProperty(ExecCounters.SpanKey)))
        .foreach(n => e.stageIds.foreach(stageSpan(_) = n))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobWindows += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (on) stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (on) {
      tasks += 1
      stageSpan.get(e.stageId).foreach(n =>
        tasksBySpan(n) = tasksBySpan.getOrElse(n, 0L) + 1)
      if (e.taskInfo.failed || e.taskInfo.killed) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        inputRows += m.inputMetrics.recordsRead
        inputBytes += m.inputMetrics.bytesRead
        maxTaskMs = math.max(maxTaskMs, e.taskInfo.duration)
      }
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized {
      if (on) {
        val ph = qe.tracker.phases
        def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
        analysisMs += ms("analysis")
        optimizationMs += ms("optimization")
        planningMs += ms("planning")
        val p = qe.analyzed
        if (p.exists {
              case c: SaveIntoDataSourceCommand => c.dataSource.isInstanceOf[JdbcRelationProvider]
              case _ => false
            }) jdbcWriteNs += ns
        else if (p.exists {
              // JDBCRelation is private to Spark's sql package
              case r: LogicalRelation => r.relation.getClass.getSimpleName == "JDBCRelation"
              case _ => false
            }) jdbcReadNs += ns
      }
    }

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wall milliseconds of [lo, hi] (epoch ms) not covered by any job. */
  def outsideJobMs(lo: Long, hi: Long): Long = synchronized {
    (hi - lo) - Tracer.covered(jobWindows.toSeq, lo, hi)
  }

  /** Wall milliseconds from the end of the last job to `hi` (epoch ms),
    * 0 without jobs: the driver-only tail of an op. */
  def afterLastJobMs(hi: Long): Long = synchronized {
    if (jobWindows.isEmpty) 0L else math.max(0L, hi - jobWindows.map(_._2).max)
  }
}

object ExecCounters {
  val SpanKey = "perfbench.span"

  def attach(spark: SparkSession): ExecCounters = {
    val c = new ExecCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** JVM and host probes read around passes and ops. */
object Probes {
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Host steal time in ms summed over cores (/proc/stat), -1 if
    * unreadable. */
  def stealMs(): Long =
    try {
      val cpu = java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/stat")).linesIterator
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = cpu.trim.split("\\s+")
      if (f.length > 8) f(8).toLong * 10 else -1L
    } catch { case scala.util.control.NonFatal(_) => -1L }

  def delta(a: Long, b: Long): Long =
    if (a < 0 || b < 0) 0L else math.max(0L, b - a)

  def storageMb(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / (1024 * 1024)
}
