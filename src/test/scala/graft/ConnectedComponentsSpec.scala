package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.ConnectedComponents

/** Connected components: exact grouping on known graphs, the star
  * contraction against the driver union-find, and dedup grouping. */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  import spark.implicits._

  private def toMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap

  test("components of a known graph (two clusters + a bridge-free pair)") {
    // cluster {1,2,3,4} via chain, cluster {10,11}, pair {20,21}
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (21L, 20L)).toDF("src", "dst")
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L)
    assert(toMap(ConnectedComponents.runStar(edges)) == want)
    assert(toMap(ConnectedComponents.runAuto(edges)) == want)
  }

  test("runAuto path equivalence: the driver union-find (under budget) " +
    "and the distributed propagation (forced by budget 0) label " +
    "identically — including a long chain and a seeded random graph") {
    val r = new scala.util.Random(271828L)
    val random = Seq.fill(120)((r.nextInt(60).toLong,
      r.nextInt(60).toLong)).filter(p => p._1 != p._2)
    val chain = (100L until 118L).map(i => (i, i + 1))
    val edges = (random ++ chain).toDF("src", "dst")
    val viaDriver = toMap(ConnectedComponents.runAuto(edges))
    val viaDistributed = toMap(
      ConnectedComponents.runAuto(edges, edgeBudget = 0))
    assert(viaDriver == viaDistributed)
    // labels are component minima
    assert(viaDriver.forall { case (v, c) => c <= v })
  }

  test("runStar equals the driver union-find on seeded random graphs " +
    "and contracts a 120-link chain") {
    val r = new scala.util.Random(16180339L)
    (0 until 5).foreach { k =>
      val edges = Seq.fill(80)(
        (r.nextInt(50).toLong, r.nextInt(50).toLong))
        .filter(p => p._1 != p._2).toDF("src", "dst")
      val viaStar = toMap(ConnectedComponents.runStar(edges))
      val viaDriver = toMap(ConnectedComponents.runAuto(edges))
      assert(viaStar == viaDriver, s"case $k")
    }
    // diameter 120, which min-label propagation would need 120 rounds
    // for: star contraction converges in O(log n) rounds to the same
    // min-vertex labels
    val chain = (0L until 120L).map(i => (i, i + 1)).toDF("src", "dst")
    val cc = toMap(ConnectedComponents.runStar(chain))
    assert(cc.size == 121 && cc.values.toSet == Set(0L))
    // runAuto's distributed fallback rides the star variant: the same
    // chain past a zero budget no longer depends on its diameter
    val auto = toMap(ConnectedComponents.runAuto(chain, edgeBudget = 0))
    assert(auto == cc)
  }

  test("self-loop-only vertices come out as singletons on ALL three " +
    "paths, and null endpoints are dropped identically (no phantom " +
    "vertex 0 from the driver path)") {
    // 7 has ONLY a self-loop; 3-5 a real component; 5 also self-loops
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (7L, 7L), (3L, 5L), (5L, 5L),
      (null, 9L), (9L, null)).toDF("src", "dst")
    val want = Map(7L -> 7L, 3L -> 3L, 5L -> 3L)
    assert(toMap(ConnectedComponents.runStar(edges)) == want)
    assert(toMap(ConnectedComponents.runAuto(edges)) == want)
    assert(toMap(ConnectedComponents.runAuto(edges, edgeBudget = 0))
      == want)
  }

  test("dedupGroups marks one canonical survivor per transitive cluster") {
    // pairs as a near-dup detector emits them: (a<b), transitive via 5
    val pairs = Seq((3L, 5L), (5L, 9L), (40L, 41L)).toDF("doc_a", "doc_b")
    val g = ConnectedComponents.dedupGroups(pairs, "doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(g.toSeq == Seq(
      (3L, 3L, true), (5L, 3L, false), (9L, 3L, false),
      (40L, 40L, true), (41L, 40L, false)))
  }
}
