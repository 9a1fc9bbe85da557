package graft

import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions._
import org.scalatest.Tag
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupQueries, IvfAnn, PqAnn}

/** Marks the 10× rehearsal tests so a dev loop can exclude them:
  * `sbt "testOnly * -- -l graft.SlowTag"`. They run in the default
  * suite — a rehearsal that never runs proves nothing. */
object SlowTag extends Tag("graft.SlowTag")

/** Scale rehearsal BEYOND the shipped sf0.1 fixtures: a seeded ~10×
  * corpus (50k+ documents, 20k embeddings, 200k parts) generated into
  * /tmp, with KNOWN planted structure — near-duplicate pairs, verbatim
  * borrowed substrings, clustered embeddings, typo'd entity names —
  * and the flagship dedup/ANN/ER paths run against it.
  *
  * What this converts from argument to measurement (the 100 TB plan
  * shapes are pinned at small SF by PlanSpec/RegistryPlanSpec; here
  * the same claims are exercised where the data is 10× bigger than
  * anything the bench sees):
  *   - MinHash LSH recall on planted near-dups stays high, and the
  *     banded self-join does not degenerate toward n² output;
  *   - the substring family's inverted gram index (≈15M grams here)
  *     is never broadcast and never cartesian-joined, and the planted
  *     borrowed spans are all found;
  *   - IVF-PQ recall against brute force holds on a corpus 10× the
  *     bench's, with driver-side state still just centroids+codebooks;
  *   - entity resolution's edge budget keeps the driver path bounded
  *     (or falls back to distributed propagation) at 200k parts;
  *   - the n-gram-Jaccard quadratic guard yields only its two designed
  *     outcomes (complete within budget, or the explicit guard error —
  *     never an unbounded pair explosion).
  *
  * Everything is seeded/deterministic (hash-derived, no rand()), so
  * reruns see the identical corpus; generation is idempotent and
  * cached under /tmp across test invocations in one container.
  */
class ScaleRehearsalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private val nBase = 50000
  private val nNear = 200 // ids 100000+k are near-dups of doc k
  private val nBorrow = 50 // ids 110000+k borrow a span from doc k
  private val nVec = 20000
  private val nPart = 200000

  private val vocab = Seq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "vector", "scan", "fast", "query", "agg", "value", "filter", "slow",
    "customer", "string", "table", "join", "index", "shuffle", "hash",
    "merge", "stream", "window", "group", "range", "stage", "task",
    "block", "cache", "spill", "codec", "frame", "plan", "node", "edge",
    "token", "shard", "bucket", "probe", "build", "scan2", "delta",
    "gamma", "sigma", "omega", "pivot", "slice", "chunk", "layer",
    "field", "tuple", "array", "map", "set", "list", "tree", "graph")
  private val vocabSql =
    vocab.map(w => s"'$w'").mkString("array(", ",", ")")
  private val V = vocab.size

  /** Word at position j of BASE doc k — the shared generator both the
    * base corpus and the planted derivatives call, so a derivative
    * reproduces the source's exact tokens. */
  private def baseWord(k: String, j: String): String =
    s"element_at($vocabSql, cast(pmod(xxhash64($k * 131 + $j), $V) as int) + 1)"
  private def docLen(k: String): String =
    s"(40 + cast(pmod(xxhash64($k), 51) as int))"

  private lazy val dir: String = {
    val d = "/tmp/graft_scale10x"
    val done = new java.io.File(s"$d/_FIXTURE_DONE")
    if (!done.exists()) {
      // ---- documents: base word-soup + planted near-dups + borrowers
      val base = spark.range(nBase).selectExpr(
        "id AS doc_id",
        s"""array_join(transform(sequence(1, ${docLen("id")}),
           |  j -> ${baseWord("id", "j")}), ' ') AS text""".stripMargin)
      // near-dup of doc k: same length, every 20th word re-rolled
      val near = spark.range(nNear).selectExpr(
        "id + 100000 AS doc_id",
        s"""array_join(transform(sequence(1, ${docLen("id")}),
           |  j -> if(j % 20 = 0,
           |    element_at($vocabSql,
           |      cast(pmod(xxhash64((id + 100000) * 977 + j), $V) as int) + 1),
           |    ${baseWord("id", "j")})), ' ') AS text""".stripMargin)
      // borrower: 30 fresh words ++ VERBATIM words 3..40 of doc k ++
      // 30 fresh words — a contiguous ≥200-char span of the source
      // text (detection needs only ≥59 shared chars)
      val borrow = spark.range(nBorrow).selectExpr(
        "id + 110000 AS doc_id",
        s"""array_join(concat(
           |  transform(sequence(1, 30), j -> element_at($vocabSql,
           |    cast(pmod(xxhash64((id + 110000) * 389 + j), $V) as int) + 1)),
           |  transform(sequence(3, 40), j -> ${baseWord("id", "j")}),
           |  transform(sequence(1, 30), j -> element_at($vocabSql,
           |    cast(pmod(xxhash64((id + 110000) * 661 + j), $V) as int) + 1))
           |), ' ') AS text""".stripMargin)
      base.unionAll(near).unionAll(borrow)
        .selectExpr(
          "doc_id", "text",
          s"element_at(array('en','fr','de','es','zh'), " +
            "cast(pmod(xxhash64(doc_id * 7), 5) as int) + 1) AS lang",
          "concat('src', cast(pmod(doc_id, 8) as int)) AS source",
          "cast(length(text) as long) AS n_chars")
        .repartition(8)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      // ---- embeddings: the REAL sf0.1 corpus tiled 10× with small
      // deterministic per-tile perturbations (±0.02/dim). This is the
      // honest 10× rehearsal: the corpus inherits the fixtures'
      // genuine neighbor structure (synthetic equal-noise clusters
      // concentrate all within-cluster cosines into statistical ties,
      // where no quantized index — PQ, IVF, or otherwise — can rank),
      // and vec_id = orig*10 + tile keeps query 0 = original vector 0.
      spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .selectExpr("*", "explode(sequence(0, 9)) AS tile")
        .selectExpr(
          "vec_id * 10 + tile AS vec_id",
          """transform(embedding, (x, t) -> cast(x +
            |  (pmod(xxhash64((vec_id * 10 + tile) * 67 + t), 401) - 200)
            |    / 10000.0 AS float)) AS embedding""".stripMargin,
          "label")
        .repartition(8)
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      // ---- parts: adj+noun names; every 97th id a plural-typo twin
      spark.range(nPart).selectExpr(
        "id AS p_partkey",
        s"""concat(
           |  element_at(array('small','large','hot','cold','blue','red',
           |    'green','dim','fast','slow','round','flat'),
           |    cast(pmod(xxhash64(id), 12) as int) + 1), ' ',
           |  element_at(array('ring','bolt','screw','washer','panel',
           |    'gear','valve','wheel','pin','rod','clamp','disc','plate',
           |    'tube','cap'), cast(pmod(xxhash64(id * 7), 15) as int) + 1),
           |  if(id % 97 = 0, 's', '')) AS p_name""".stripMargin,
        "concat('Brand#', cast(1 + pmod(id, 25) as int)) AS p_brand",
        "element_at(array('SMALL','MEDIUM','LARGE','ECONOMY','STANDARD'," +
          "'PROMO'), cast(pmod(id, 6) as int) + 1) AS p_type",
        "cast(1 + pmod(id, 50) as int) AS p_size",
        "cast(900.0 + pmod(id, 1000) / 10.0 as double) AS p_retailprice")
        .repartition(8)
        .write.mode("overwrite").parquet(s"$d/part.parquet")
      done.createNewFile()
    }
    d
  }

  test("10x corpus generates with the planted structure", SlowTag) {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(docs.count() == nBase + nNear + nBorrow)
    assert(spark.read.parquet(s"$dir/embeddings.parquet").count() == nVec)
    assert(spark.read.parquet(s"$dir/part.parquet").count() == nPart)
    // a derivative really reproduces its source's tokens
    val pair = docs.filter(col("doc_id").isin(3L, 100003L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (a, b) = (pair(3L).split(" "), pair(100003L).split(" "))
    assert(a.length == b.length)
    val same = a.zip(b).count { case (x, y) => x == y }
    assert(same >= a.length - a.length / 20 - 1, s"$same/${a.length}")
  }

  test("minhash LSH at 10x: planted near-dup recall >= 85%, output " +
    "nowhere near quadratic", SlowTag) {
    val pairs = SparkEntry.queries("q_dedup_minhash")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet
    val found = (0L until nNear.toLong)
      .count(k => pairs.contains((k, 100000L + k)))
    assert(found >= (nNear * 85) / 100,
      s"near-dup recall $found/$nNear at 10x corpus")
    // verified-pair volume stays in the planted+noise regime: the
    // banded join surfacing anything like n²/2 ≈ 1.26e9 pairs (or even
    // 1% of it) would mean the bands have collapsed
    assert(pairs.size < 100000, s"pair explosion: ${pairs.size}")
  }

  test("substring family at 10x: planted borrowed spans all found; " +
    "gram index never broadcast, never cartesian", SlowTag) {
    val q = SparkEntry.queries("q_dedup_substring")(spark, dir)
    val plan = graft.tools.PlanAudit.staticPlan(q)
    assert(plan.collectWithSubqueries {
      case b: BroadcastExchangeExec => b
    }.isEmpty, "substring pipeline broadcasts at 10x — the gram index " +
      "must only ever stream")
    assert(plan.collectWithSubqueries {
      case c: CartesianProductExec => c
    }.isEmpty, "cartesian in the substring pipeline")
    val hits = q.collect()
      .map(r => (r.getAs[Long]("a_doc"), r.getAs[Long]("b_doc"))).toSet
    val foundBorrow = (0L until nBorrow.toLong)
      .count(k => hits.contains((k, 110000L + k)))
    assert(foundBorrow == nBorrow,
      s"borrowed-span detection $foundBorrow/$nBorrow (spans are ~230 " +
        "chars, detection floor is 59)")
  }

  test("IVF-PQ at 10x: recall@10 >= 5 vs brute force, driver state " +
    "still centroids+codebooks only", SlowTag) {
    val brute = SparkEntry.queries("q_sim_query_topk")(spark, dir)
      .limit(10).collect().map(_.getLong(0)).toSet
    val got = PqAnn.topKIvfPq(spark, dir, 0L, 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert((brute & got).size >= 5,
      s"IVF-PQ recall ${(brute & got).size}/10 at 10x corpus")
    // driver-side state is scale-free: k-means models only
    val pq = PqAnn.build(spark, dir)
    assert(pq.codebooks.length == PqAnn.m &&
      pq.codebooks.forall(_.length == PqAnn.ksub))
    val ivf = IvfAnn.build(spark, dir)
    assert(ivf.centroids.length <= 64,
      s"IVF centroid count ${ivf.centroids.length} is not bounded")
  }

  test("entity resolution at 10x: 200k parts resolve with the edge " +
    "budget honored; typo twins land in their base cluster", SlowTag) {
    val out = SparkEntry.queries("q_er_clusters")(spark, dir).collect()
    assert(out.nonEmpty)
    // planted plural typos: some cluster must hold >1 distinct name
    assert(out.exists(_.getAs[Long]("n_names") >= 2L),
      "no cluster merged the planted typo variants")
    // every part lands somewhere exactly once
    assert(out.map(_.getAs[Long]("n_parts")).sum <= nPart)
    // determinism across runs (driver union-find vs rerun)
    val again = SparkEntry.queries("q_er_clusters")(spark, dir).collect()
    assert(out.toSeq == again.toSeq)
  }

  test("bloom prefilter at 10x: probe side cut to ~selectivity+FPP " +
    "before the join, result exactly equals the plain semi-join",
    SlowTag) {
    // 200k probe keys, 1% selective dim side (hash-derived, seeded)
    val probe = spark.range(200000).select(col("id").as("k"))
    val dim = probe.filter(pmod(xxhash64(col("k")), lit(100)) === 0)
    val nDim = dim.count()
    val bloom = dim.stat.bloomFilter("k", nDim, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((k: Long) => bc.value.mightContainLong(k))
    val passed = probe.filter(mightContain(col("k"))).count()
    // the scale claim measured: the prefilter admits the true matches
    // plus ~FPP of the rest — the shuffle downstream sees ~2% of the
    // probe, not 100% (at 100 TB that factor IS the job cost)
    assert(passed >= nDim, "bloom must have no false negatives")
    assert(passed <= nDim + (200000 * 0.03).toLong,
      s"bloom admitted $passed rows for $nDim true matches — FPP " +
        "far above the configured 1%")
    // exactness: prefilter + semi-join == plain semi-join
    val got = probe.filter(mightContain(col("k")))
      .join(dim.select(col("k").as("dk")), col("k") === col("dk"),
        "left_semi")
      .count()
    assert(got == nDim)
  }

  test("n-gram Jaccard quadratic guard at 10x: completes within budget " +
    "or raises its designed diagnostic — never explodes", SlowTag) {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    try {
      val n = DedupQueries.ngramJaccardPairs(spark, dir).count()
      assert(n < 100000, s"guarded query emitted $n pairs")
    } catch {
      case e: Exception =>
        assert(msgs(e).exists(_.contains("q_dedup_minhash")),
          s"guard fired without its diagnostic (or another failure): $e")
    }
  }
}
