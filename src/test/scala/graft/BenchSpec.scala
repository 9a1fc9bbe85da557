package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Pins the committed-record guards of [[Bench]]: the one parse of
  * BENCH_FULL.json that feeds `vs_committed`, and the write-target
  * rule that keeps a dev sweep from overwriting the committed
  * baseline. */
class BenchSpec extends AnyFunSuite {

  private def record(json: String): Path = {
    val p = Files.createTempFile("bench-full", ".json")
    p.toFile.deleteOnExit()
    Files.writeString(p, json)
    p
  }

  private val committed = record(
    """{"metric":"total","value":1.5,"unit":"sec","runs":4,""" +
      """"cpus":32,"queries":{"q_a":0.5,"q_b":1.0,"q_fail":-1},""" +
      """"sf":0.1}""")

  test("matching sf and cpus: the committed medians come back") {
    val c = Bench.readCommitted(committed)
    assert(c.sf.contains("0.1") && c.cpus.contains("32"))
    // a failed query's -1 is not a median to compare against
    assert(c.medians("0.1", "32") == Map("q_a" -> 0.5, "q_b" -> 1.0))
  }

  test("a different sf or cpus, a missing file or a malformed one: " +
    "no medians") {
    val c = Bench.readCommitted(committed)
    assert(c.medians("0.01", "32").isEmpty)
    assert(c.medians("0.1", "4").isEmpty)
    val missing = committed.resolveSibling("no-such-bench-full.json")
    assert(Bench.readCommitted(missing).medians("0.1", "32").isEmpty)
    val malformed = record("""{"sf":0.1,"cpus":32,"queries":{"q_a":""")
    assert(Bench.readCommitted(malformed).medians("0.1", "32").isEmpty)
  }

  test("a subset sweep writes BENCH_PROBE.json") {
    val c = Bench.readCommitted(committed)
    assert(c.writeTarget(subset = true, "0.1", "32") == "BENCH_PROBE.json")
    assert(c.writeTarget(subset = true, "0.01", "4") == "BENCH_PROBE.json")
  }

  test("cross-sf and cross-cpus full sweeps write BENCH_DEV.json") {
    val c = Bench.readCommitted(committed)
    assert(c.writeTarget(subset = false, "0.01", "32") == "BENCH_DEV.json")
    assert(c.writeTarget(subset = false, "0.1", "4") == "BENCH_DEV.json")
  }

  test("a matching full sweep, or one with no readable record, writes " +
    "BENCH_FULL.json") {
    val c = Bench.readCommitted(committed)
    assert(c.writeTarget(subset = false, "0.1", "32") == "BENCH_FULL.json")
    val missing = committed.resolveSibling("no-such-bench-full.json")
    assert(Bench.readCommitted(missing)
      .writeTarget(subset = false, "0.1", "32") == "BENCH_FULL.json")
  }
}
