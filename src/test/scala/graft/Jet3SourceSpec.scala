package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.jetmdb.{Jet3Format, JetMdbSource}

/** Jet3 (Access 97) read support: fixtures written by the independent
  * test-side layout writer ([[Jet3Fixture]]), decoded by the
  * production reader through the same `jetmdb` format with version
  * auto-dispatch — plus the profile's honest rejections. */
class Jet3SourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private def tmp(): String =
    Files.createTempDirectory("graft_jet3").toString

  test("jet3 fixture round-trips every in-scope type, nulls, " +
    "deleted rows, CP1252 text") {
    spark.sparkContext
    val path = s"${tmp()}/old97.mdb"
    val micros = 1582934400000000L // 2020-02-29T00:00:00Z
    Jet3Fixture.write(path, Seq(
      Jet3Fixture.Table(
        "Orders 97",
        Seq(
          Jet3Fixture.Col("ID", 0x04),
          Jet3Fixture.Col("Active", 0x01),
          Jet3Fixture.Col("Tiny", 0x02),
          Jet3Fixture.Col("Small", 0x03),
          Jet3Fixture.Col("Price", 0x05),
          Jet3Fixture.Col("Ratio", 0x06),
          Jet3Fixture.Col("Exact", 0x07),
          Jet3Fixture.Col("Placed", 0x08),
          Jet3Fixture.Col("Code", 0x0A, fixedLen = 4),
          Jet3Fixture.Col("Name", 0x0A)),
        Seq(
          Seq(Integer.valueOf(1), Boolean.box(true), 200.toShort,
            (-7).toShort, new java.math.BigDecimal("12.3400"),
            1.5f, 2.25, java.lang.Long.valueOf(micros), "ABCD",
            "Café Über"), // CP1252 é and Ü
          Seq(Integer.valueOf(2), Boolean.box(false), null, null,
            null, null, null, null, "WXYZ", null),
          Seq(Integer.valueOf(3), Boolean.box(true), 1.toShort,
            1.toShort, new java.math.BigDecimal("-0.0100"), -2f,
            -4.5, java.lang.Long.valueOf(0L), "QQQQ", "gone")),
        deleted = Set(2))))
    assert(JetMdbSource.listTables(path).map(_._1) == Seq("Orders 97"))
    val df = spark.read.format("jetmdb")
      .option("table", "Orders 97").load(path)
    val rows = df.orderBy(col("ID")).collect()
    assert(rows.length == 2, "deleted row must not surface")
    val r0 = rows(0)
    assert(r0.getAs[Int]("ID") == 1)
    assert(r0.getAs[Boolean]("Active"))
    assert(r0.getAs[Short]("Tiny") == 200)
    assert(r0.getAs[Short]("Small") == -7)
    assert(r0.getAs[java.math.BigDecimal]("Price")
      .compareTo(new java.math.BigDecimal("12.3400")) == 0)
    assert(r0.getAs[Float]("Ratio") == 1.5f)
    assert(r0.getAs[Double]("Exact") == 2.25)
    assert(r0.getAs[java.sql.Timestamp]("Placed").toInstant
      .toEpochMilli == micros / 1000)
    assert(r0.getAs[String]("Code").startsWith("ABCD"))
    assert(r0.getAs[String]("Name") == "Café Über")
    val r1 = rows(1)
    assert(!r1.getAs[Boolean]("Active"))
    assert(r1.isNullAt(r1.fieldIndex("Tiny")))
    assert(r1.isNullAt(r1.fieldIndex("Name")))
  }

  test("jet3 column pruning decodes only requested columns") {
    spark.sparkContext
    val path = s"${tmp()}/prune.mdb"
    Jet3Fixture.write(path, Seq(
      Jet3Fixture.Table(
        "T",
        Seq(Jet3Fixture.Col("a", 0x04), Jet3Fixture.Col("b", 0x0A)),
        (1 to 20000).map(i => Seq(Integer.valueOf(i), s"value_$i")))))
    val only = spark.read.format("jetmdb").option("table", "T")
      .load(path).select("a")
    assert(only.count() == 20000)
    assert(only.agg(sum(col("a"))).collect()(0).getLong(0) ==
      20000L * 20001 / 2)
    // ~400 KB of 2 KB pages: every page is read once
    TestSpark.assertJetScanReadsOnce(path, "T")
  }

  test("jet3 memo round-trips all three LVAL forms (inline, single, " +
    "chained) plus null, with CP1252 payloads") {
    spark.sparkContext
    val path = s"${tmp()}/memo97.mdb"
    val longText = ("Lorem ipsum dolor sit amet — Köln/München £§ " * 12)
      .trim // ~540 bytes: must leave the row (rows cap at 255)
    val hugeText = (1 to 400)
      .map(i => s"chunk$i café").mkString(" ") // ~5KB: spans LVAL pages
    Jet3Fixture.write(path, Seq(
      Jet3Fixture.Table(
        "Notes",
        Seq(
          Jet3Fixture.Col("ID", 0x04),
          Jet3Fixture.Col("Body", 0x0C)),
        Seq(
          Seq(Integer.valueOf(1), "short inline memo é"),
          Seq(Integer.valueOf(2), Jet3Fixture.MemoLval(longText)),
          Seq(Integer.valueOf(3),
            Jet3Fixture.MemoChain(hugeText, chunk = 700)),
          Seq(Integer.valueOf(4), null),
          Seq(Integer.valueOf(5),
            Jet3Fixture.MemoChain(longText, chunk = 40)))))) // many hops
    val df = spark.read.format("jetmdb")
      .option("table", "Notes").load(path)
    val rows = df.orderBy(col("ID")).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5))
    assert(rows(0).getString(1) == "short inline memo é")
    assert(rows(1).getString(1) == longText)
    assert(rows(2).getString(1) == hugeText)
    assert(rows(3).isNullAt(1))
    assert(rows(4).getString(1) == longText)
    // pruning still skips memo I/O: selecting only ID must not touch
    // LVAL pages (decode-time wanted mask) — just assert it works
    assert(spark.read.format("jetmdb").option("table", "Notes")
      .load(path).select("ID").count() == 5)
  }

  test("jet3 OLE round-trips all three LVAL forms (inline, single, " +
    "chained) plus null, as raw BinaryType bytes") {
    spark.sparkContext
    val path = s"${tmp()}/ole97.mdb"
    // non-CP1252-decodable bytes on purpose: OLE must come back
    // byte-exact with no charset pass (0x81/0x8D/0x8F/0x90/0x9D are
    // CP1252 holes)
    def blob(n: Int, seed: Int): Array[Byte] =
      Array.tabulate(n)(i => ((i * 31 + seed) % 256).toByte)
    val small = blob(40, 1)
    val big = blob(900, 2)     // must leave the row (rows cap at 255)
    val huge = blob(5000, 3)   // spans LVAL pages
    Jet3Fixture.write(path, Seq(
      Jet3Fixture.Table(
        "Attachments",
        Seq(
          Jet3Fixture.Col("ID", 0x04),
          Jet3Fixture.Col("Payload", 0x0B)),
        Seq(
          Seq(Integer.valueOf(1), small),
          Seq(Integer.valueOf(2), Jet3Fixture.OleLval(big)),
          Seq(Integer.valueOf(3),
            Jet3Fixture.OleChain(huge, chunk = 700)),
          Seq(Integer.valueOf(4), null),
          Seq(Integer.valueOf(5),
            Jet3Fixture.OleChain(big, chunk = 40)))))) // many hops
    val df = spark.read.format("jetmdb")
      .option("table", "Attachments").load(path)
    assert(df.schema("Payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val rows = df.orderBy(col("ID")).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5))
    assert(rows(0).getAs[Array[Byte]](1).toSeq == small.toSeq)
    assert(rows(1).getAs[Array[Byte]](1).toSeq == big.toSeq)
    assert(rows(2).getAs[Array[Byte]](1).toSeq == huge.toSeq)
    assert(rows(3).isNullAt(1))
    assert(rows(4).getAs[Array[Byte]](1).toSeq == big.toSeq)
    // pruning still skips OLE I/O (decode-time wanted mask)
    assert(spark.read.format("jetmdb").option("table", "Attachments")
      .load(path).select("ID").count() == 5)
    // the multimodal hook: OLE payloads are first-class binary columns
    assert(df.select(length(col("Payload")).as("n")).orderBy(col("n"))
      .collect().flatMap(r => Option(r.get(0))).map(_.toString.toInt)
      .toSeq == Seq(40, 900, 900, 5000))
  }

  test("jet3 rejections: out-of-profile column types name the " +
    "jetcsv escape route (narrowed to GUID/NUMERIC in r12)") {
    for (code <- Seq(0x0F, 0x10)) { // GUID, NUMERIC
      val page = new Array[Byte](Jet3Format.PageSize)
      page(0) = 0x02; page(1) = 0x01
      // num_cols = 1 @25, no indexes; one descriptor @43
      page(25) = 1
      page(43) = code.toByte
      val e = intercept[UnsupportedOperationException] {
        Jet3Format.parseTdef(page, 7)
      }
      assert(e.getMessage.contains("jetcsv"), e.getMessage)
    }
  }

  test("jet3 multi-page TDEF chains (r12): an 80-column Access-97 " +
    "table reads with exact values and pruning") {
    spark.sparkContext
    val path = s"${tmp()}/wide97.mdb"
    // 70 BOOLs + 10 INTs: a TDEF of 80 18-byte descriptors + names
    // (~2.8 KB) spills the 2048-byte page, while the ROWS stay well
    // under Jet3's 255-byte u8-offset cap
    val cols = (0 until 70).map(i =>
      Jet3Fixture.Col(s"flag_col_$i", 0x01)) ++
      (0 until 10).map(i => Jet3Fixture.Col(s"int_col_$i", 0x03))
    val rows = (0 until 5).map { r =>
      (0 until 70).map(c =>
        java.lang.Boolean.valueOf((r + c) % 2 == 0): Any) ++
        (0 until 10).map(c =>
          java.lang.Short.valueOf((r * 100 + c).toShort): Any)
    }
    Jet3Fixture.write(path, Seq(Jet3Fixture.Table("wide", cols, rows)))
    val df = spark.read.format("jetmdb").option("table", "wide")
      .load(path)
    assert(df.schema.length == 80)
    val got = df.orderBy(col("int_col_0")).collect()
    assert(got.length == 5)
    (0 until 5).foreach { r =>
      (0 until 70).foreach(c =>
        assert(got(r).getBoolean(c) == ((r + c) % 2 == 0),
          s"row $r flag $c"))
      (0 until 10).foreach(c =>
        assert(got(r).getShort(70 + c) == (r * 100 + c).toShort,
          s"row $r int $c"))
    }
    assert(df.select("int_col_7").orderBy("int_col_7")
      .collect().map(_.getShort(0).toInt).toSeq ==
      (0 until 5).map(_ * 100 + 7))
  }

  test("jet3 rejects oversized rows (u8-offset profile) honestly") {
    val tdef = graft.sources.jetmdb.JetMdbFormat.JetTableDef(
      5, 1, 0x4e, Seq(graft.sources.jetmdb.JetMdbFormat.JetColumn(
        "x", 0x0A, 0, fixed = false, 0, 0, 0)))
    val page = new Array[Byte](Jet3Format.PageSize)
    val e = intercept[UnsupportedOperationException] {
      Jet3Format.decodeRow(page, 100, 400, tdef)
    }
    assert(e.getMessage.contains("jump-table"), e.getMessage)
  }

  test("version sniffing: the same reader code path serves Jet3 and " +
    "Jet4 files side by side") {
    spark.sparkContext
    val dir = tmp()
    val p3 = s"$dir/v3.mdb"
    val p4 = s"$dir/v4.mdb"
    Jet3Fixture.write(p3, Seq(Jet3Fixture.Table(
      "t", Seq(Jet3Fixture.Col("n", 0x04)),
      Seq(Seq(Integer.valueOf(30))))))
    JetMdbFixture.write(p4, Seq(JetMdbFixture.Table(
      "t", Seq(JetMdbFixture.Col("n", 0x04)),
      Seq(Seq(Integer.valueOf(40))))))
    def one(p: String): Int = spark.read.format("jetmdb")
      .option("table", "t").load(p).collect()(0).getInt(0)
    assert(one(p3) == 30)
    assert(one(p4) == 40)
  }
}
