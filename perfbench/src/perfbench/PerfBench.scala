package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.MigrationPipeline
import graft.sources.{SessionCache, TableLoader}
import graft.sources.jetmdb.JetMdbSource

/** JVM side of the benchmark (see perfbench/README.md). One run is one
  * workload in one fresh JVM, driven as a closed loop by one client:
  *
  *   set-up → cold pass → warm-up pass → timed passes → check pass
  *
  * A pass is one traversal of the workload's op list. Between passes,
  * outside every timing, the harness runs `Checkpoints.sweep` and a
  * full GC. The timed region is whole passes until `--seconds` of op
  * wall has accumulated. With `--trace 1` the timed passes alternate
  * traced and untraced, and the traced ones feed the per-layer report.
  *
  * Output: a JSON result file (metrics, per-pass walls, checks, spans
  * summary) that `run.py` completes with the DuckDB-side checks. */
object PerfBench {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, cpus: Int, selftest: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"),
      m.get("cpus").map(_.toInt).getOrElse(4),
      m.get("selftest").contains("1"))
  }

  /** One op of a pass. `traced` runs it under spans. */
  trait Op {
    def name: String
    def run(tr: Option[Tracer]): Unit
  }

  /** A workload: its set-up, its op list (one pass), per-op row count,
    * and its output check. */
  trait Workload {
    def setup(): Unit
    def ops: Seq[Op]
    /** Ops run once after the timed region, outside timing, that write
      * the outputs the checks read: the timed ops' plans with a real
      * sink where the timed ops have a noop one. */
    def checkOps: Seq[Op] = Nil
    /** Traced ops only: untimed measurements after the op's wall, for
      * layers that the op's own call runs fused (root spans). */
    def probe(t: Tracer): Unit = ()
    /** Source rows one pass moves (0 where rows are not the unit). */
    def rowsPerPass: Long = 0L
    /** Failed output checks, one (op name, message) per failed op.
      * Runs outside timing. */
    def check(): Seq[(String, String)]
    /** Per-op clean-up outside timing (drop a target database). */
    def afterOp(): Unit = ()
    def extraMetrics(): Map[String, Double] = Map.empty
    def report(): Map[String, Any] = Map.empty
  }

  final case class Pass(kind: String, wallS: Double, ops: Int, gcMs: Long,
      stealMs: Long, swept: Int, failed: Int)

  final case class OpRec(name: String, wallS: Double, traced: Boolean,
      ok: Boolean, counters: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    TableLoader.configure(spark)
    val counters = if (args.trace) Some(ExecCounters.attach(spark)) else None
    val w: Workload = args.workload match {
      case "registry_sf0.01" =>
        new RegistryWorkload(spark, args, "sf0.01", "perfbench/registry_sample.txt")
      case "flagship_sf0.1" =>
        new RegistryWorkload(spark, args, "sf0.1", "perfbench/flagship_sample.txt")
      case "migrate_mdb_derby" => new MigrateWorkload(spark, args)
      case other => sys.error(s"unknown workload $other")
    }
    if (args.selftest) { SelfTest.run(spark, args, w); spark.stop(); return }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    w.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    System.err.println(f"[perfbench] session ready at $sessionS%.2fs, set-up done at $setupS%.2fs")

    val passes = ArrayBuffer.empty[Pass]
    val timedOps = ArrayBuffer.empty[OpRec]
    val tracer = new Tracer(Some(spark.sparkContext))
    var attempted = 0
    val failedOps = scala.collection.mutable.Map.empty[String, Int]
    var opSeq = 0

    def runOp(op: Op, traced: Boolean): OpRec = {
      attempted += 1
      opSeq += 1
      val c = counters.filter(_ => traced)
      c.foreach { x => x.reset(); x.on = true }
      val (h0, m0) = SessionCache.stats
      val gc0 = Probes.gcMs(); val st0 = Probes.stealMs()
      val wall0 = System.currentTimeMillis()
      tracer.startOp(opSeq)
      val t0 = System.nanoTime()
      val ok =
        try { op.run(if (traced) Some(tracer) else None); true }
        catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] op ${op.name} failed: $e")
            failedOps(op.name) = failedOps.getOrElse(op.name, 0) + 1
            false
        }
      val wallS = (System.nanoTime() - t0) / 1e9
      val wall1 = System.currentTimeMillis()
      val gc = Probes.gcMs() - gc0
      val steal = Probes.delta(st0, Probes.stealMs())
      val (h1, m1) = SessionCache.stats
      val ctr = c.map { x =>
        PerfBenchBus.drain(spark.sparkContext)
        val m = x.synchronized {
          Map[String, Double](
            "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
            "failed_tasks" -> x.failedTasks, "task_run_ms" -> x.taskRunMs,
            "task_cpu_ms" -> x.taskCpuNs / 1e6,
            "shuffle_read_bytes" -> x.shuffleRead,
            "shuffle_write_bytes" -> x.shuffleWrite,
            "spill_bytes" -> x.spill, "max_task_ms" -> x.maxTaskMs,
            "input_rows" -> x.inputRows, "input_bytes" -> x.inputBytes,
            "analysis_ms" -> x.analysisMs,
            "optimization_ms" -> x.optimizationMs,
            "planning_ms" -> x.planningMs,
            "outside_job_ms" -> x.outsideJobMs(wall0, wall1).toDouble,
            "after_last_job_ms" -> x.afterLastJobMs(wall1).toDouble,
            "jdbc_write_ms" -> x.jdbcWriteNs / 1e6, "jdbc_read_ms" -> x.jdbcReadNs / 1e6)
        }
        w.probe(tracer)
        PerfBenchBus.drain(spark.sparkContext)
        x.on = false
        m + ("decode_tasks" -> x.tasksBySpan.getOrElse("jetmdb.decode", 0L).toDouble)
      }.getOrElse(Map.empty) ++ Map[String, Double](
        "gc_ms" -> gc, "steal_ms" -> steal,
        "cache_hits" -> (h1 - h0), "cache_misses" -> (m1 - m0))
      w.afterOp()
      OpRec(op.name, wallS, traced, ok, ctr)
    }

    /** Between passes, outside timing: release leaked checkpoints,
      * then collect garbage, so no pass inherits the last one's. */
    def between(): Int = {
      val swept = graft.plans.Checkpoints.sweep(spark).size
      System.gc()
      swept
    }

    def pass(kind: String, traced: Boolean, ops: Seq[Op] = w.ops): Seq[OpRec] = {
      val gc0 = Probes.gcMs(); val st0 = Probes.stealMs()
      val recs = ops.map(op => runOp(op, traced))
      val gc = Probes.gcMs() - gc0
      val steal = Probes.delta(st0, Probes.stealMs())
      passes += Pass(kind, recs.map(_.wallS).sum, recs.size, gc, steal,
        between(), recs.count(!_.ok))
      recs
    }

    val coldRecs = pass("cold", traced = false)
    val coldS = coldRecs.map(_.wallS).sum
    pass("warmup", traced = false)
    var timedWall = 0.0
    var untracedWall = 0.0
    var tracedWall = 0.0
    var i = 0
    // whole passes: every op of the sample weighs the same in the
    // timed region, whatever the seeded order
    while (timedWall < args.seconds || (args.trace && tracedWall == 0.0)) {
      val traced = args.trace && i % 2 == 0
      val recs = pass(if (traced) "timed_traced" else "timed", traced)
      timedOps ++= recs
      val wall = recs.map(_.wallS).sum
      timedWall += wall
      if (traced) tracedWall += wall else untracedWall += wall
      i += 1
    }
    // trace mode: end on an untraced pass so the overhead has a base
    if (args.trace && untracedWall == 0.0) {
      val recs = pass("timed", traced = false)
      timedOps ++= recs
      untracedWall += recs.map(_.wallS).sum
    }
    if (w.checkOps.nonEmpty) pass("check", traced = false, w.checkOps)

    val checkFails = try w.check() catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] check crashed: $e")
        Seq("check" -> e.toString)
    }
    checkFails.foreach { case (op, msg) =>
      System.err.println(s"[perfbench] check failed: $op: $msg")
    }
    val violations = Tracer.violations(tracer.spans.toSeq)
    violations.foreach(v => System.err.println(s"[perfbench] trace: $v"))

    // failed ops: ops that threw, plus ops whose output check failed
    val failed = math.min(attempted, failedOps.values.sum + checkFails.size)

    val untraced = timedOps.filter(!_.traced)
    val walls = untraced.map(_.wallS).sorted
    def q(p: Double): Double =
      if (walls.isEmpty) -1 else {
        val x = p * (walls.size - 1)
        val lo = walls(x.floor.toInt); val hi = walls(x.ceil.toInt)
        lo + (hi - lo) * (x - x.floor)
      }
    // ops per second of the median untraced timed pass, so that one
    // pass hit by a burst of host contention does not move the figure
    val rates = passes.filter(_.kind == "timed").map(p => p.ops / p.wallS).sorted
    val e2e = Map[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "cold_s" -> (coldS, "s"),
      "ops_per_s" -> ((rates(rates.size / 2) + rates((rates.size - 1) / 2)) / 2, "1/s"))

    val layer = if (args.trace) {
      Layers.report(spark, tracer, timedOps.toSeq, passes.toSeq, coldS,
        w.rowsPerPass, w.ops.size) ++ w.extraMetrics()
    } else Map.empty[String, Double]

    val json = Json.obj(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "trace" -> args.trace,
      "cpus" -> args.cpus,
      "attempted" -> attempted,
      "failed" -> failed,
      "check_failures" -> checkFails.map { case (a, b) => s"$a: $b" },
      "trace_violations" -> violations,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "per_layer" -> layer.map { case (k, v) =>
        k -> Json.obj("value" -> v, "unit" -> Layers.Units.toMap.getOrElse(k, "")) },
      "timed_ops" -> untraced.size,
      "session_s" -> sessionS,
      "op_p50_s" -> q(0.5),
      "op_p90_s" -> q(0.9),
      "ops_above_p90" -> walls.count(_ > q(0.9)),
      "timed_op_walls" -> timedOps.map(o => Seq(o.name, o.wallS, o.traced)),
      "traced_ops" -> timedOps.filter(_.traced).map(o =>
        Json.obj("name" -> o.name, "wall_s" -> o.wallS, "counters" -> o.counters)),
      "passes" -> passes.map(p => Json.obj(
        "kind" -> p.kind, "wall_s" -> p.wallS, "ops" -> p.ops,
        "gc_ms" -> p.gcMs, "steal_ms" -> p.stealMs, "swept" -> p.swept,
        "failed" -> p.failed)),
      "workload_report" -> w.report())
    Files.writeString(Paths.get(args.out), Json.render(json))
    spark.stop()
  }

  /** BIGINT columns cast to INT: Jet4 has no 64-bit integer type. */
  def intKeys(df: DataFrame): DataFrame =
    df.select(df.schema.map { f =>
      if (f.dataType == org.apache.spark.sql.types.LongType) col(f.name).cast("int").as(f.name)
      else col(f.name)
    }: _*)
}

/** Order-free checksum over rows read on the driver: the row count and
  * two sums of 32-bit hashes of each row's rendering, columns taken in
  * name order. The same code reads the source frame and the target, so
  * a changed, lost or extra row shows. */
final class RowSum {
  private var rows, a, b = 0L
  def add(names: Seq[String], values: Seq[Any]): Unit = {
    val s = names.indices.sortBy(names).map { i =>
      values(i) match {
        case null => "\u0000"
        // JDBC hands back java.sql.Timestamp where Spark has LocalDateTime
        case ts: java.sql.Timestamp => ts.toLocalDateTime.toString
        case v => v.toString
      }
    }.mkString("\u0001")
    rows += 1
    a += scala.util.hashing.MurmurHash3.stringHash(s, 1)
    b += scala.util.hashing.MurmurHash3.stringHash(s, 2)
  }
  def result: (Long, Long, Long) = (rows, a, b)
}

/** A fixed sample of registered queries on one scale factor: one op =
  * one query to a noop sink. The sample file names the queries; the
  * seed picks the order. */
final class RegistryWorkload(
    spark: SparkSession, a: PerfBench.Args, sf: String, sampleFile: String)
  extends PerfBench.Workload {
  private val dir = s"${a.data}/$sf"
  private val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap
  private val names: Seq[String] =
    Files.readAllLines(Paths.get(sampleFile)).toArray.toSeq
      .map(_.toString.takeWhile(_ != '#').trim).filter(_.nonEmpty)
  private val missing = names.filterNot(byName.contains)
  require(missing.isEmpty, s"$sampleFile names unknown queries: $missing")
  private val picked: Seq[graft.QDef] =
    new scala.util.Random(a.seed).shuffle(names.map(byName))

  /** Table listing and footers only: a session-lifetime cache (shingle
    * sets, ANN indexes, graph backbones, ...) is built by the first
    * sampled query that needs it, inside the cold pass. */
  def setup(): Unit = TableLoader.warm(spark, dir)

  private def op(q: graft.QDef, sink: DataFrame => Unit): PerfBench.Op =
    new PerfBench.Op {
      val name = q.name
      def run(tr: Option[Tracer]): Unit = tr match {
        case None => sink(q.fn(spark, dir))
        case Some(t) => t.span("op") {
          val df = t.span("operators.build")(q.fn(spark, dir))
          t.span("exec.run")(sink(df))
        }
      }
    }

  val ops: Seq[PerfBench.Op] =
    picked.map(op(_, _.write.mode("overwrite").format("noop").save()))

  /** After timing, each query once more with its result written as
    * parquet (a directory of part files, the timed plan's partitioning)
    * for run.py's DuckDB compare. */
  override val checkOps: Seq[PerfBench.Op] = picked.map { q =>
    op(q, _.write.mode("overwrite").parquet(Paths.get(a.work, "results", q.name).toString))
  }

  def check(): Seq[(String, String)] = Nil

  override def report(): Map[String, Any] = Map(
    "data" -> dir,
    "sample" -> picked.map(_.name),
    "oracle" -> picked.flatMap(q => q.oracle.map(q.name -> _)).toMap)
}

/** The reference's whole job: a star-schema `.mdb` (exported from sf0.01
  * in set-up) migrated by `MigrationPipeline.migrateJetMdb` into a fresh
  * in-memory Derby database per op. */
final class MigrateWorkload(
    spark: SparkSession, a: PerfBench.Args) extends PerfBench.Workload {
  import MigrateWorkload._
  private val dir = s"${a.data}/sf0.01"
  private val mdb = s"${a.work}/star.mdb"
  def mdbPath: String = mdb
  private val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
  private var dbSeq = 0
  private var lastUrl: String = null
  def currentUrl: String = lastUrl
  private val checkFails = ArrayBuffer.empty[(String, String)]
  private var sources: Map[String, DataFrame] = Map.empty
  private lazy val expected = sources.map { case (t, df) =>
    val sum = new RowSum
    val names = df.columns.map(_.toLowerCase)
    df.collect().foreach(r => sum.add(names, names.indices.map(r.get)))
    t -> sum.result
  }
  override val rowsPerPass: Long = Rows

  /** Set-up's export: the jetmdb encode of the whole star schema. */
  private var encodeS = 0.0

  def setup(): Unit = {
    sources = Tables.map { case (t, _, _) =>
      val raw = TableLoader.table(spark, dir, t)
      // the seed permutes the physical row order of every table
      t -> PerfBench.intKeys(raw).orderBy(xxhash64(lit(a.seed) +: raw.columns.map(col): _*))
    }.toMap
    val t0 = System.nanoTime()
    MigrationPipeline.exportToJetMdb(
      Tables.map(t => t._1 -> sources(t._1)), mdb,
      indexSpecs = Tables.map(t => t._1 -> t._2).toMap,
      relationshipSpecs = Tables.filter(_._3.nonEmpty).map(t => t._1 -> t._3).toMap)
    encodeS = (System.nanoTime() - t0) / 1e9
  }

  private def nextUrl(): String = {
    dbSeq += 1
    lastUrl = s"jdbc:derby:memory:perfbench_$dbSeq"
    lastUrl + ";create=true"
  }

  /** One op = one `migrateJetMdb` call, traced or not: the trace puts
    * the real call under one span and splits it afterwards (see
    * [[probe]] and perfbench/README.md). */
  val ops: Seq[PerfBench.Op] = Seq(new PerfBench.Op {
    val name = "migrate"
    def run(tr: Option[Tracer]): Unit = {
      val url = nextUrl()
      val n = tr match {
        case None => migrate(url)
        case Some(t) => t.span("etl.migrate")(migrate(url))
      }
      require(n == Rows, s"migrated $n rows, want $Rows")
      if (tr.isDefined) { tracedRows += n; tracedMigrations += 1 }
    }
  })
  private var tracedRows, tracedMigrations = 0L

  private def migrate(url: String): Long = MigrationPipeline.migrateJetMdb(
    spark, mdb, MigrationPipeline.JdbcSink(url), props).values.sum

  /** The two jetmdb steps that run fused inside the migration, timed
    * on their own after a traced op: the catalog read that
    * `migrateJetMdb` starts with, and a decode of every table to a
    * noop sink (the frames its JDBC writes consume). */
  override def probe(t: Tracer): Unit = {
    val specs = t.span("jetmdb.catalog") {
      JetMdbSource.relationships(mdb)
      MigrationPipeline.specsFromJetMdb(mdb)
    }
    t.span("jetmdb.decode") {
      specs.foreach(s => MigrationPipeline.normalizeTyped(s.source(spark))
        .write.mode("overwrite").format("noop").save())
    }
  }

  /** Every op's target is checked before it is dropped: per table the
    * row count and order-free checksum against the source frame, and
    * every declared PK and FK present. */
  override def afterOp(): Unit = if (lastUrl != null) {
    try {
      val bad = checkTarget(lastUrl)
      if (bad.nonEmpty) checkFails += ("migrate" -> bad.mkString("; "))
    }
    catch { case NonFatal(e) => checkFails += ("migrate" -> s"target check crashed: $e") }
    try java.sql.DriverManager.getConnection(lastUrl + ";drop=true")
    catch { case _: java.sql.SQLException => () } // 08006 = dropped
    lastUrl = null
  }

  def checkTarget(url: String): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      Tables.foreach { case (t, _, _) =>
        val rs = conn.createStatement().executeQuery(s"SELECT * FROM $t")
        val md = rs.getMetaData
        val names = (1 to md.getColumnCount).map(md.getColumnName(_).toLowerCase)
        val sum = new RowSum
        while (rs.next()) sum.add(names, names.indices.map(i => rs.getObject(i + 1)))
        if (sum.result != expected(t))
          bad += s"$t: target (rows, checksum) ${sum.result} != source ${expected(t)}"
      }
      val rs = conn.createStatement().executeQuery(
        "SELECT t.TABLENAME, c.TYPE FROM SYS.SYSCONSTRAINTS c " +
          "JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID")
      val found = ArrayBuffer.empty[(String, String)]
      while (rs.next()) found += ((rs.getString(1).toLowerCase, rs.getString(2)))
      Tables.foreach { case (t, idx, rel) =>
        if (idx.endsWith(":p") && !found.contains((t, "P")))
          bad += s"$t: primary key missing"
        val fks = found.count(_ == ((t, "F")))
        val want = rel.split(';').count(_.nonEmpty)
        if (fks != want) bad += s"$t: $fks foreign keys, want $want"
      }
    } finally conn.close()
    bad.toSeq
  }

  def check(): Seq[(String, String)] = checkFails.toSeq

  override def extraMetrics(): Map[String, Double] = Map(
    "jetmdb.encode_ms" -> encodeS * 1000,
    "jetmdb.write_rows_per_s" -> Rows / encodeS,
    "jetmdb.file_bytes_per_row" -> Files.size(Paths.get(mdb)).toDouble / Rows,
    "jdbc.rows_written" -> tracedRows.toDouble / math.max(1L, tracedMigrations))

  override def report(): Map[String, Any] = Map(
    "mdb_bytes" -> Files.size(Paths.get(mdb)), "rows" -> Rows,
    "target" -> "in-memory Derby (jdbc:derby:memory:, no fsync)")
}

object MigrateWorkload {
  /** (table, jetmdb index spec, jetmdb relationship spec) of the star
    * schema. lineitem has no unique key in the fixtures (its
    * (l_orderkey, l_linenumber) pairs repeat), so it gets a plain
    * index and its foreign keys. */
  val Tables: Seq[(String, String, String)] = Seq(
    ("region", "PrimaryKey:r_regionkey:p", ""),
    ("nation", "PrimaryKey:n_nationkey:p", "nation_region:n_regionkey>region.r_regionkey"),
    ("customer", "PrimaryKey:c_custkey:p", "customer_nation:c_nationkey>nation.n_nationkey"),
    ("supplier", "PrimaryKey:s_suppkey:p", "supplier_nation:s_nationkey>nation.n_nationkey"),
    ("part", "PrimaryKey:p_partkey:p", ""),
    ("orders", "PrimaryKey:o_orderkey:p", "orders_customer:o_custkey>customer.c_custkey"),
    ("lineitem", "by_order:l_orderkey:",
      "lineitem_orders:l_orderkey>orders.o_orderkey;" +
        "lineitem_part:l_partkey>part.p_partkey;" +
        "lineitem_supplier:l_suppkey>supplier.s_suppkey"))
  /** sf0.01 row total over the seven tables. */
  val Rows = 78630L
}
