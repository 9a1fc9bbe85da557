package graft.sources.jetmdb

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.JetMdbFixture
import graft.JetMdbFixture.{Col, Table}
import graft.TestSpark
import graft.sources.jetmdb.JetMdbFormat._

/** Round-14 ADVICE regressions on the ACE COMPLEX (attachment/
  * multi-valued) machinery:
  *
  *  1. a multi-partition complex WRITE must emit globally unique
  *     AutoNumber pk values in the hidden flat side table — the
  *     r13 writer restarted a bare counter at 0 in every task, which
  *     our own reader tolerated but real Access (and any other
  *     reader) assumes never happens;
  *  2. a NULL array element has no flat-row rendering (the read
  *     schema is containsNull=false) and must reject loudly at
  *     write instead of silently mutating into an all-null struct;
  *  3. on READ, a null pk in a flat table that HAS an AutoNumber pk
  *     (corrupt bookkeeping) must sort AFTER the real pks of its fk
  *     group in file order — not interleave at its global scan
  *     position.
  */
class ComplexAdviceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private def tmpDb(name: String): String =
    Files.createTempDirectory("cadvice").resolve(name).toString

  test("multi-partition complex write: flat-table AutoNumber pks are " +
    "globally unique ((partitionId << 20) | counter) and per-group " +
    "element order still round-trips") {
    val spark2 = spark
    import spark2.implicits._
    val path = tmpDb("mp.accdb")
    // raw array<string>: the r14 writer auto-wraps it as the single
    // "Value" payload and the reader unwraps it back — no manual
    // named_struct step
    val df = (1 to 12).map(i =>
      (i, Seq(s"$i-first", s"$i-second", s"$i-third")))
      .toDF("id", "tags")
      .repartition(4, col("id"))
    df.write.format("jetmdb").option("table", "docs")
      .option("version", "ace").mode("overwrite").save(path)
    // behavioral round trip: every id keeps its elements in order
    val back = spark.read.format("jetmdb").option("table", "docs")
      .load(path).collect()
      .map(r => r.getInt(0) -> r.getSeq[String](1))
      .toMap
    assert(back.size == 12)
    for (i <- 1 to 12)
      assert(back(i) == Seq(s"$i-first", s"$i-second", s"$i-third"))
    // raw flat-table audit: decode every flat row and check the pk
    // column directly (this is what an EXTERNAL reader sees)
    val (_, _, _, pageCount, _, cmap, _) =
      JetMdbSource.tableDefFull(path, "docs")
    val flatPage = cmap("tags")
    val h = new Path(path).getFileSystem(new Configuration())
    val in = h.open(new Path(path))
    try {
      val l = JetLayout.Jet4
      val flatT =
        parseTdefChained(l, flatPage, JetMdbSource.readPage(in, _, l.pageSize))
      val pkIdx = flatT.columns.indexWhere(_.autoNumber)
      val fkIdx = flatT.columns.indexWhere(_.typeCode == T_COMPLEX)
      assert(pkIdx >= 0 && fkIdx >= 0)
      var lvalNum = -1
      var lvalPage: Array[Byte] = null
      val lval: Int => Array[Byte] = { n =>
        if (n != lvalNum) {
          lvalPage = JetMdbSource.readPage(in, n, l.pageSize); lvalNum = n
        }
        lvalPage
      }
      val pks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var pn = 1
      while (pn < pageCount) {
        val page = JetMdbSource.readPage(in, pn, l.pageSize)
        dataRowExtents(l, page, flatPage).foreach { case (s0, e0) =>
          val r = decodeRow(l, page, s0, e0, flatT, lval)
          if (r(fkIdx) != null)
            pks += ((r(fkIdx).asInstanceOf[Integer].intValue(),
              r(pkIdx).asInstanceOf[Integer].intValue()))
        }
        pn += 1
      }
      assert(pks.size == 36, s"expected 36 flat rows, got ${pks.size}")
      // THE r14 fix: pks unique across ALL tasks of the write
      assert(pks.map(_._2).distinct.size == 36,
        "duplicate AutoNumber pk across write partitions: " +
          pks.groupBy(_._2).filter(_._2.size > 1).keys.take(5)
            .mkString(", "))
      // and within each fk group they ascend (read order = write
      // order without relying on our reader's leniency)
      pks.groupBy(_._1).values.foreach { grp =>
        assert(grp.map(_._2) == grp.map(_._2).sorted)
      }
    } finally in.close()
  }

  test("NULL elements: a null SCALAR element round-trips as a null " +
    "Value flat row (r14 wave 2); a null STRUCT element still " +
    "rejects loudly (was a silent all-null-struct mutation)") {
    val spark2 = spark
    import spark2.implicits._
    // scalar: writes through and reads back under containsNull=true
    val path = tmpDb("nullel.accdb")
    Seq((1, Seq("a", null, "c"))).toDF("id", "tags")
      .write.format("jetmdb").option("table", "docs")
      .option("version", "ace").mode("overwrite").save(path)
    val back = spark.read.format("jetmdb").option("table", "docs")
      .load(path).collect()(0)
    assert(back.getSeq[String](1) == Seq("a", null, "c"))
    // struct (attachment shape): ambiguous, loud
    val df = Seq((1, Seq("a", null, "c"))).toDF("id", "tags")
      .select(col("id"), expr(
        "transform(tags, x -> if(x is null, null, " +
          "named_struct('FileName', x, 'FileType', x)))").as("tags"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      df.write.format("jetmdb").option("table", "docs2")
        .option("version", "ace").mode("overwrite")
        .save(tmpDb("nullel2.accdb"))
    }
    assert(msgs(e).exists(_.contains("NULL array element")),
      msgs(e).mkString(" | "))
  }

  test("read: a NULL Value element written by another tool survives " +
    "as a null array element (containsNull=true — r14 review: " +
    "declaring false would let codegen read garbage)") {
    val path = tmpDb("nullval.accdb")
    JetMdbFixture.write(path, Seq(
      Table("docs",
        Seq(Col("id", 0x04), Col("tags", 0x12)),
        Seq(Seq(Integer.valueOf(1), Integer.valueOf(100))),
        complexCols = Map("tags" -> "docs_tags_flat")),
      Table("docs_tags_flat",
        Seq(Col("pk", 0x04, auto = true), Col("fk", 0x12),
          Col("Value", 0x0A)),
        Seq(
          Seq(Integer.valueOf(1), Integer.valueOf(100), "a"),
          Seq(Integer.valueOf(2), Integer.valueOf(100), null),
          Seq(Integer.valueOf(3), Integer.valueOf(100), "c")),
        system = true)),
      aceVersion = 0x02)
    val df = TestSpark.session.read.format("jetmdb")
      .option("table", "docs").load(path)
    assert(df.schema("tags").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = true))
    val arr = df.collect()(0).getSeq[String](1)
    assert(arr == Seq("a", null, "c"))
  }

  test("read: a null pk in a pk-bearing flat table sorts AFTER the " +
    "real pks of its group, stable by file order (r14 — was keyed " +
    "at global scan position, interleaving arbitrarily)") {
    val path = tmpDb("nullpk.accdb")
    JetMdbFixture.write(path, Seq(
      Table("docs",
        Seq(Col("id", 0x04), Col("att", 0x12)),
        Seq(Seq(Integer.valueOf(1), Integer.valueOf(100)),
          Seq(Integer.valueOf(2), Integer.valueOf(200))),
        complexCols = Map("att" -> "docs_att_flat")),
      // file order: pk=2, null pk, pk=1 in group 100; a second group
      // checks the null row doesn't leak across groups
      Table("docs_att_flat",
        Seq(Col("pk", 0x04, auto = true), Col("fk", 0x12),
          Col("FileName", 0x0A)),
        Seq(
          Seq(Integer.valueOf(2), Integer.valueOf(100), "b"),
          Seq(null, Integer.valueOf(100), "z"),
          Seq(Integer.valueOf(1), Integer.valueOf(100), "a"),
          Seq(Integer.valueOf(5), Integer.valueOf(200), "only")),
        system = true)),
      aceVersion = 0x02)
    val rows = spark.read.format("jetmdb").option("table", "docs")
      .load(path).orderBy(col("id")).collect()
    val g1 = rows(0).getSeq[org.apache.spark.sql.Row](1)
      .map(_.getString(0))
    assert(g1 == Seq("a", "b", "z"), g1.mkString(","))
    val g2 = rows(1).getSeq[org.apache.spark.sql.Row](1)
      .map(_.getString(0))
    assert(g2 == Seq("only"))
  }
}
