package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.jetmdb.{JetLayout, JetMdbFormat}

/** Ready-to-fire validation hooks for REAL external fixtures the
  * offline container cannot ship (SURVEY §7 risks 7/8): the moment a
  * genuine Microsoft Access file or a live PostgreSQL is available,
  * pointing an env var at it turns these from clean cancellations into
  * real proof — no code changes needed on that day.
  *
  *   - `GRAFT_REAL_MDB=/path/to/file.mdb` — validates the jetmdb
  *     binary reader against a file produced by ACTUAL Access/Jet
  *     (the in-repo fixtures round-trip our own writer, which cannot
  *     rule out a complementary-bug pair; JetMdbFormat.scala documents
  *     the NUMERIC-profile ambiguity this resolves).
  *   - `GRAFT_PG_URL=jdbc:postgresql://...` — live-PostgreSQL JDBC
  *     round-trip (JdbcConnectorSpec also honors it; Derby covers the
  *     code paths offline).
  */
class RealFixtureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("jetmdb decodes a REAL Access .mdb (env-gated: GRAFT_REAL_MDB)") {
    val path = sys.env.get("GRAFT_REAL_MDB")
    assume(path.isDefined,
      "GRAFT_REAL_MDB not set — no real Access fixture in this " +
        "environment; set it to a Jet3 or Jet4 .mdb to run this " +
        "validation")
    val file = new java.io.File(path.get)
    assert(file.isFile, s"GRAFT_REAL_MDB=$path is not a file")
    // raw page-walk: header + catalog come from the format layer
    // directly, independent of the DSv2 plumbing — the layout sniffed
    // exactly like the source layer sniffs it
    val raf = new java.io.RandomAccessFile(file, "r")
    val head = new Array[Byte](JetLayout.HeaderBytes)
    raf.seek(0); raf.readFully(head)
    val layout = JetLayout.of(head)
    val pageSize = layout.pageSize
    def page(n: Int): Array[Byte] = {
      val p = new Array[Byte](pageSize)
      raf.seek(n.toLong * pageSize)
      raf.readFully(p)
      p
    }
    try {
      val pageCount = (file.length() / pageSize).toInt
      val cat = JetMdbFormat.readCatalog(layout, pageCount, page)
      val userTables = cat.filterNot(_.isSystem)
      assert(userTables.nonEmpty,
        s"real .mdb has no user tables in MSysObjects")
      // every user table: the DSv2 read must produce a non-degenerate
      // schema and a row count equal to an INDEPENDENT raw page walk
      // over that table's data pages — decoder vs reader cross-check
      userTables.foreach { t =>
        val df = spark.read.format("jetmdb")
          .option("table", t.name).load(path.get)
        assert(df.schema.nonEmpty, s"table ${t.name}: empty schema")
        val viaDsv2 = df.count()
        val raw = (1 until pageCount).map { pn =>
          JetMdbFormat.dataRowExtents(layout, page(pn), t.tdefPage)
            .size.toLong
        }.sum
        assert(viaDsv2 == raw,
          s"table ${t.name}: DSv2 read $viaDsv2 rows, raw page walk " +
            s"found $raw")
        // decode every row fully (exercises MEMO/long-value paths)
        assert(df.collect().length == viaDsv2)
        // the constraint catalog must at least PARSE on a real TDEF
        // (index section layout is exactly what fixtures can't prove)
        val idxs = graft.sources.jetmdb.JetMdbSource
          .indexes(path.get, t.name)
        idxs.foreach(ix => assert(ix.columns.nonEmpty,
          s"index ${ix.name} on ${t.name} names no columns"))
      }
      // relationships: a real Access db usually carries
      // MSysRelationships — the rows must parse and regroup cleanly
      val rels = graft.sources.jetmdb.JetMdbSource
        .relationships(path.get)
      rels.groupBy(_.name).foreach { case (n, rows) =>
        assert(rows.map(_.icolumn).sorted == (0 until rows.size),
          s"relationship $n has a gapped column list")
      }
      // the whole program: one-call migration into an embedded Derby
      // (constraints included) must land every row
      val dbDir = java.nio.file.Files
        .createTempDirectory("graft_real_mig").resolve("db")
      val counts = graft.etl.MigrationPipeline.migrateJetMdb(
        spark, path.get,
        graft.etl.MigrationPipeline.JdbcSink(
          s"jdbc:derby:$dbDir;create=true"),
        Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
      userTables.foreach { t =>
        assert(counts.contains(t.name), s"table ${t.name} not migrated")
      }
    } finally raf.close()
  }

  test("jdbc round-trip against live PostgreSQL (env-gated: GRAFT_PG_URL)") {
    val url = sys.env.get("GRAFT_PG_URL")
    assume(url.isDefined,
      "GRAFT_PG_URL not set — no live PostgreSQL in this environment; " +
        "set it to a jdbc:postgresql:// URL to run this validation")
    val src = graft.sources.TableLoader
      .nation(spark, "/root/testdata/sf0.001")
    graft.sources.JdbcConnector.write(
      src, url.get, "graft_nation_rt",
      mode = org.apache.spark.sql.SaveMode.Overwrite)
    val back = graft.sources.JdbcConnector.read(
      spark, url.get, "graft_nation_rt",
      Some(graft.sources.JdbcConnector.PartitionSpec(
        "n_nationkey", 0, 25, 4)))
    assert(back.count() == src.count())
    val a = src.orderBy("n_nationkey").collect().toSeq
    val b = back.select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey").collect().toSeq
    assert(a == b)
  }
}
