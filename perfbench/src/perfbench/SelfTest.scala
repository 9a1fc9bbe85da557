package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's own self-test (`run.py --selftest`): each check must
  * pass on good output and fail on a deliberately corrupted one, and
  * the trace invariants must hold on real traces and fail on broken
  * synthetic ones. Writes one JSON record per case to `--out`. */
object SelfTest {

  final case class Case(name: String, expectFail: Boolean, failed: Boolean, detail: String)

  private def outcome(name: String, expectFail: Boolean)(body: => Seq[String]): Case =
    try {
      val bad = body
      Case(name, expectFail, bad.nonEmpty, bad.mkString("; "))
    } catch { case NonFatal(e) => Case(name, expectFail, true, e.toString) }

  def traceCases(): Seq[Case] = {
    def sp(id: Int, parent: Int, s: Long, e: Long) = Span(id, parent, 1, s"s$id", s, e)
    val good = Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 40), sp(2, 0, 40, 90), sp(3, 2, 50, 60))
    val self = Tracer.selfNs(good)
    Seq(
      outcome("trace: nested spans are valid", expectFail = false)(
        Tracer.violations(good) ++
          (if (self != Map(0 -> 20L, 1 -> 30L, 2 -> 40L, 3 -> 10L)) Seq(s"self times $self")
           else Nil)),
      outcome("trace: child escaping its parent", expectFail = true)(
        Tracer.violations(Seq(sp(0, -1, 0, 100), sp(1, 0, 50, 120)))),
      outcome("trace: layers summing past the op wall", expectFail = true)(
        Tracer.violations(Seq(sp(0, -1, 0, 100), sp(1, 0, 0, 80), sp(2, 0, 20, 100)))))
  }

  /** Runs one traced op of `w`, and its probe, and checks the spans. */
  private def tracedOp(spark: SparkSession, w: PerfBench.Workload): Case = {
    val t = new Tracer(Some(spark.sparkContext))
    t.startOp(1)
    w.ops.head.run(Some(t))
    w.probe(t)
    w.afterOp()
    outcome(s"trace: real ${w.ops.head.name} op", expectFail = false) {
      val v = Tracer.violations(t.spans.toSeq)
      if (t.spans.size < 2) v :+ "no layer spans recorded" else v
    }
  }

  def run(spark: SparkSession, a: PerfBench.Args, w: PerfBench.Workload): Unit = {
    val cases = ArrayBuffer.empty[Case] ++ traceCases()
    w.setup()
    w match {
      case m: MigrateWorkload =>
        m.ops.head.run(None)
        val url = m.currentUrl
        cases += outcome("migrate: clean target", expectFail = false)(m.checkTarget(url))
        val conn = java.sql.DriverManager.getConnection(url)
        try conn.createStatement().executeUpdate(
          "UPDATE lineitem SET \"l_quantity\" = \"l_quantity\" + 1 WHERE " +
            "\"l_orderkey\" = (SELECT MIN(\"l_orderkey\") FROM lineitem) " +
            "AND \"l_linenumber\" = 1")
        finally conn.close()
        cases += outcome("migrate: one corrupted row", expectFail = true)(m.checkTarget(url))
        m.afterOp()
        cases += tracedOp(spark, m)
        // a truncated .mdb must fail the migration or its target check
        val p = Paths.get(m.mdbPath)
        val bytes = Files.readAllBytes(p)
        Files.write(p, java.util.Arrays.copyOf(bytes, bytes.length / 2))
        cases += outcome("migrate: truncated .mdb", expectFail = true) {
          m.ops.head.run(None)
          try m.checkTarget(m.currentUrl) finally m.afterOp()
        }
      case r: RegistryWorkload =>
        // the clean and tampered cases run in run.py on these outputs
        r.checkOps.foreach(_.run(None))
        cases += tracedOp(spark, r)
    }
    Files.writeString(Paths.get(a.out), Json.render(Json.obj(
      "workload" -> a.workload,
      "report" -> w.report(),
      "cases" -> cases.map(c => Json.obj("name" -> c.name,
        "expect_fail" -> c.expectFail, "failed" -> c.failed, "detail" -> c.detail)))))
  }
}
