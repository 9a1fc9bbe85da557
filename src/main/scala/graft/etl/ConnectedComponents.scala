package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components of an undirected edge list — the step that
  * turns PAIRWISE near-dup candidates (minhash / simhash / embedding-LSH
  * output) into transitive duplicate GROUPS, so corpus dedup can keep
  * one canonical document per cluster instead of resolving pairs
  * greedily.
  *
  * Edges are columns `src`, `dst`; vertices of any numeric type that
  * CASTS LOSSLESSLY to bigint — ids are canonicalized through
  * `try_cast("bigint")`, and a value past Long range, e.g. a
  * decimal(38,0) 128-bit hash, nulls under try_cast and is dropped with
  * the null-endpoint edges: fold such ids to 64 bits first (under ANSI
  * mode a plain cast would throw instead). Every path
  * returns (v, cc) with cc = the minimum vertex id of v's component;
  * isolated vertices (no edges) are absent. [[runAuto]] clusters a
  * graph within its edge budget with a driver union-find and sends a
  * larger one to [[runStar]], whose O(log n) rounds do not depend on
  * component diameter.
  */
object ConnectedComponents {

  /** Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): converges in
    * O(log n) rounds regardless of component DIAMETER, where min-label
    * propagation needs diameter-many rounds. Each round is two
    * grouped-min + join passes over the canonical (larger →
    * smaller) edge set:
    *   - LARGE-STAR around every center c: connect each neighbor
    *     LARGER than c to m = min(N(c) ∪ {c}) — long tails fold onto
    *     small labels;
    *   - SMALL-STAR around every center u over its smaller neighbors:
    *     re-point them all at their minimum and keep (u, min) —
    *     shallow stars flatten.
    * Fixpoint = the canonical edge SET is unchanged (exact count +
    * except-emptiness test, never a hash heuristic); at fixpoint the
    * edges form one star per component, every vertex pointing at its
    * component minimum — the (v, cc) contract of this object. Each
    * round's edge set is eagerly localCheckpoint'ed, since an
    * iterative DataFrame loop otherwise nests every round's plan into
    * one ever deeper tree, and the previous round's blocks are
    * released once the comparison is done. */
  def runStar(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    var chk: DataFrame = null
    // the round in flight's PREDECESSOR: released after the fixpoint
    // compare on the success path, released by the finally on a failed
    // round — reassigning chk to next before the round's jobs (so a
    // failure releases NEXT's fresh blocks) must not orphan the
    // previous round's blocks instead (r11 review: the old ordering
    // leaked whichever frame chk was NOT pointing at when a count()
    // or except() job failed)
    var prev: DataFrame = null
    var converged = false
    // ONE materialization of the upstream edge plan: the canonical
    // set, the self-loop vertex list, and the returned frame's
    // deferred scans all derive from this checkpoint instead of
    // re-executing the (possibly expensive similarity-join) edge plan
    // once per consumer (r11 review: three executions, plus one per
    // further caller action)
    val prepped = edges
      .select(col("src").try_cast("bigint").as("a"),
        col("dst").try_cast("bigint").as("b"))
      .localCheckpoint(true)
    // Vertices whose ONLY edges are self-loops (x,x) must still come
    // out labeled (x → x): runAuto's driver union-find emits them, so
    // the star path unions them back as singletons below — otherwise
    // dedupGroups output would differ across the edge-budget gate for
    // degenerate self-pairs. (Null endpoints fall out of the === just
    // like they fall out of the =!= canonical filter.) Checkpointed
    // (tiny) so `prepped` can release before the loop runs.
    val selfVerts = prepped
      .filter(col("a") === col("b"))
      .select(col("a").as("v"))
      .distinct()
      .localCheckpoint(true)
    try {
      chk = prepped
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .distinct()
        .localCheckpoint(true)
      graft.plans.Checkpoints.unpersist(prepped)
      var curCount = chk.count()
      var round = 0
      while (!converged) {
        if (round >= maxRounds)
          throw new IllegalStateException(
            s"star contraction did not converge in $maxRounds rounds")
        val cur = chk
        // LARGE-STAR over the symmetrized neighborhoods
        val symm = cur.select(col("u").as("c"), col("v").as("n"))
          .union(cur.select(col("v").as("c"), col("u").as("n")))
        val lmin = symm.groupBy("c").agg(min(col("n")).as("mn"))
          .select(col("c"), least(col("mn"), col("c")).as("m"))
        val ls = symm.join(lmin, "c")
          .filter(col("n") > col("c"))
          // n > c ≥ m keeps the (larger → smaller) canonical form —
          // and makes u = n > m = v on every row, so no u = v filter
          // is needed (one was here; provably dead)
          .select(col("n").as("u"), col("m").as("v"))
          .distinct()
        // SMALL-STAR over the smaller-neighbor lists
        val smin = ls.groupBy("u").agg(min(col("v")).as("m"))
        val ss = ls.join(smin, "u")
          .filter(col("v") =!= col("m"))
          // v > m within the group (m is its minimum), canonical again
          .select(col("v").as("u"), col("m").as("v"))
          .union(smin.select(col("u"), col("m").as("v")))
          .distinct()
        val next = ss.localCheckpoint(true)
        prev = cur
        chk = next
        val nextCount = next.count()
        // exact fixpoint on distinct canonical sets: equal size and
        // an empty one-sided difference ⇒ identical
        converged = nextCount == curCount &&
          next.except(cur).limit(1).count() == 0
        graft.plans.Checkpoints.unpersist(cur)
        prev = null
        curCount = nextCount
        round += 1
      }
      // at fixpoint every edge is (vertex, component-min): labels are
      // the star edges plus a self-label per root, plus singleton
      // labels for self-loop-only vertices (anti-joined so a vertex
      // with BOTH a self-loop and real edges keeps its star label)
      val starLabels = chk.select(col("u").as("v"), col("v").as("cc"))
        .union(chk.select(col("v"), col("v")).distinct())
        .distinct()
      starLabels.union(
        selfVerts.join(starLabels.select(col("v")), Seq("v"), "left_anti")
          .select(col("v"), col("v").as("cc")))
    } finally {
      graft.plans.Checkpoints.unpersist(prepped)
      if (prev != null) graft.plans.Checkpoints.unpersist(prev)
      if (!converged && chk != null)
        graft.plans.Checkpoints.unpersist(chk)
      if (!converged) graft.plans.Checkpoints.unpersist(selfVerts)
    }
  }

  /** Budget-guarded components: near-dup pair graphs are CLUSTER-
    * sized (docs similar to shared templates), not corpus-sized, so
    * they usually fit one bounded limit-collect — and a distributed
    * path pays several join/agg/checkpoint JOBS regardless of graph
    * size (the q_er_clusters measurement: 3.2 s → 0.5 s at sf0.1 when
    * the driver path replaced min-label propagation). ONE job decides
    * the path AND fetches the small graph: a budget+1 limit-collect
    * never materializes more than ~1.6 MB on the driver; past the
    * budget the SAME edges route to [[runStar]]. Labels are identical
    * either way (component = min vertex id) — ConnectedComponentsSpec
    * pins path equivalence. */
  def runAuto(edges: DataFrame, edgeBudget: Int = 100000): DataFrame = {
    // The budget counts RAW rows (the limit-collect gate is one cheap
    // short-circuiting job; a distinct() first would force a full
    // dedup shuffle just to decide the path): an emitter producing
    // heavy duplicate pairs can route a driver-sized distinct graph
    // to the distributed path — conservative (correct either way,
    // just slower); pre-distinct the pairs if that matters.
    // null endpoints are dropped here exactly as the distributed paths
    // drop them (null fails both =!= and === filters) — without the
    // filter, Row.getLong silently reads null as 0 and the driver path
    // would invent phantom edges to vertex 0
    val fetched = edges
      .select(col("src").try_cast("bigint"), col("dst").try_cast("bigint"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .limit(edgeBudget + 1).collect()
    // past the budget the graph's diameter is unknown too, and the
    // star contraction's O(log n) rounds make no diameter assumption
    if (fetched.length > edgeBudget) runStar(edges)
    else {
      val es = fetched.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var root = parent.getOrElseUpdate(x, x)
        while (parent(root) != root) root = parent(root)
        parent(x) = root
        root
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // union toward the SMALLER root: keeps labels at the
        // component minimum, the contract of every path
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val spark = edges.sparkSession
      import spark.implicits._
      parent.keys.toSeq.map(v => (v, find(v))).toDF("v", "cc")
    }
  }

  /** Corpus dedup grouping: pair candidates → (doc, group) with
    * group = min doc_id of the transitive cluster; `keep = (doc ==
    * group)` marks the canonical survivor per cluster. Routes through
    * [[runAuto]] — bounded pair graphs cluster driver-side, larger
    * ones distribute. */
  def dedupGroups(pairs: DataFrame, aCol: String, bCol: String)
      : DataFrame =
    runAuto(pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
      .select(
        col("v").as("doc_id"), col("cc").as("group_id"),
        (col("v") === col("cc")).as("keep"))
}
