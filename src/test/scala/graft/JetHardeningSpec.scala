package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.jetmdb.{JetLayout, JetMdbFormat}

/** Regression pins for the round-6 review findings: pushed-filter
  * false drops on Decimal/Timestamp, the U+FEFF/compression-marker
  * collision, overflow-row and truncated-wide-run rejection,
  * sign-magnitude OLE dates, and PlanAudit on executed plans. */
class JetHardeningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  import spark.implicits._

  private def writeDb(): String = {
    val dir = Files.createTempDirectory("jet-hard").resolve("db.mdb")
    Seq(
      (1, new java.math.BigDecimal("10.5000"),
        java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), "alpha"),
      (2, new java.math.BigDecimal("0.2500"),
        java.sql.Timestamp.valueOf("2024-03-02 10:00:00"), "beta"),
      (3, new java.math.BigDecimal("99.0000"),
        java.sql.Timestamp.valueOf("2024-03-03 10:00:00"), "gamma"))
      .toDF("id", "price", "ts", "name")
      .withColumn("price", col("price").cast("decimal(19,4)"))
      .write.mode("overwrite").format("jetmdb")
      .option("table", "t").save(dir.toString)
    dir.toString
  }

  test("pushed filters on DECIMAL and TIMESTAMP columns keep matching " +
    "rows (pre-fix: reader-side eval dropped every row)") {
    val path = writeDb()
    def t = spark.read.format("jetmdb").option("table", "t").load(path)
    assert(t.where(col("price") > new java.math.BigDecimal("1")).count() == 2)
    assert(t.where(col("price") === new java.math.BigDecimal("0.2500"))
      .select("name").head().getString(0) == "beta")
    assert(t.where(col("ts") >=
      java.sql.Timestamp.valueOf("2024-03-02 00:00:00")).count() == 2)
    assert(t.where(col("id") > 1 && col("price") < lit(50)).count() == 1)
  }

  test("a text value starting with U+FEFF round-trips (compression-" +
    "marker collision)") {
    val dir = Files.createTempDirectory("jet-bom").resolve("db.mdb")
    val tricky = Seq(
      (1, "\uFEFFbom-prefixed ascii"),
      (2, "\uFEFF\u4E2D\u6587 wide after bom"),
      (3, "plain value"))
    tricky.toDF("id", "s")
      .write.mode("overwrite").format("jetmdb")
      .option("table", "t").save(dir.toString)
    val back = spark.read.format("jetmdb").option("table", "t")
      .load(dir.toString).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(back == tricky)
  }

  test("overflow rows (flag 0x4000) are rejected, not silently dropped") {
    val page = new Array[Byte](JetLayout.Jet4.pageSize)
    val b = ByteBuffer.wrap(page).order(ByteOrder.LITTLE_ENDIAN)
    page(0) = 0x01
    b.putInt(4, 42) // owner tdef page
    b.putShort(12, 1.toShort) // one row
    b.putShort(14, (0x4000 | 100).toShort) // overflow flag + offset
    val e = intercept[IllegalArgumentException] {
      JetMdbFormat.dataRowExtents(JetLayout.Jet4, page, 42)
    }
    assert(e.getMessage.contains("overflow"))
    // deleted rows still skip silently (they are genuinely gone)
    b.putShort(14, (0x8000 | 100).toShort)
    assert(JetMdbFormat.dataRowExtents(JetLayout.Jet4, page, 42).isEmpty)
  }

  test("truncated double-byte run in compressed text is rejected, " +
    "never read past the extent") {
    // marker, toggle-to-wide, then a SINGLE dangling byte: the wide
    // char's second byte would live in the neighboring row
    val truncated = Array[Byte](0xFF.toByte, 0xFE.toByte, 0x00, 0x41)
    val e = intercept[IllegalArgumentException] {
      JetMdbFormat.decodeText(truncated, 0, 4)
    }
    assert(e.getMessage.contains("truncated"))
    // the complete wide run decodes fine (0x0041 = 'A')
    val complete = Array[Byte](0xFF.toByte, 0xFE.toByte, 0x00, 0x41, 0x00)
    assert(JetMdbFormat.decodeText(complete, 0, 5) == "A")
  }

  test("OLE dates are sign-magnitude around 1899-12-30") {
    // -1.25 = day -1 (1899-12-29) + 6:00, NOT linear -1.25 days
    val want = java.time.Instant.parse("1899-12-29T06:00:00Z")
      .toEpochMilli * 1000L
    assert(JetMdbFormat.oleDateToMicros(-1.25).longValue() == want)
    assert(JetMdbFormat.microsToOleDate(want) == -1.25)
    // modern dates stay linear and exact
    val modern = java.time.Instant.parse("2024-03-01T10:30:00Z")
      .toEpochMilli * 1000L
    assert(JetMdbFormat
      .oleDateToMicros(JetMdbFormat.microsToOleDate(modern))
      .longValue() == modern)
    // pre-1900 instants round-trip through the pair
    for (iso <- Seq("1899-12-29T06:00:00Z", "1899-12-30T00:00:00Z",
        "1850-07-04T12:00:00Z", "1899-12-29T00:00:00Z")) {
      val us = java.time.Instant.parse(iso).toEpochMilli * 1000L
      assert(JetMdbFormat
        .oleDateToMicros(JetMdbFormat.microsToOleDate(us))
        .longValue() == us, iso)
    }
  }

  test("decode-time pruning never touches a pruned LVAL column") {
    import graft.JetMdbFixture.{Col, Table}
    import graft.sources.jetmdb.JetMdbSource
    val path = Files.createTempDirectory("jet-prune")
      .resolve("db.mdb").toString
    val longText = "memo payload " * 150 // forces the LVAL form
    graft.JetMdbFixture.write(path, Seq(Table("docs",
      Seq(Col("k", 0x04), Col("body", 0x0C)),
      rows = (0 until 3).map(i =>
        Seq[Any](Integer.valueOf(i), longText + i)),
      lvalCols = Set("body"))))
    val (tdef, _, count) = JetMdbSource.tableDef(path, "docs")
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))
    val l = JetLayout.Jet4
    val pages = bytes.grouped(l.pageSize).toArray
    val dataPage = pages.indexWhere(p =>
      (p(0) & 0xff) == 0x01 && JetMdbFormat.i32(p, 4) == tdef.tdefPage)
    assert(dataPage > 0, "fixture data page not found")
    val (s0, e0) =
      JetMdbFormat.dataRowExtents(l, pages(dataPage), tdef.tdefPage).head
    val boom: Int => Array[Byte] =
      _ => throw new AssertionError("LVAL fetched for a pruned column")
    val wanted = tdef.columns.map(_.name == "k").toArray
    // pruned: the k column decodes, the memo slot is null, and the
    // LVAL fetcher is NEVER called
    val row = JetMdbFormat.decodeRow(
      l, pages(dataPage), s0, e0, tdef, boom, wanted)
    assert(row(tdef.columns.indexWhere(_.name == "k")) != null)
    assert(row(tdef.columns.indexWhere(_.name == "body")) == null)
    // unpruned, the same row genuinely needs the fetcher
    intercept[AssertionError] {
      JetMdbFormat.decodeRow(l, pages(dataPage), s0, e0, tdef, boom, null)
    }
  }

  test("PlanAudit reports pushed filters for DSv2 scans (no false " +
    "full-unpruned-read risk)") {
    val path = writeDb()
    val df = spark.read.format("jetmdb").option("table", "t").load(path)
      .where(col("id") > 1)
    val audit = graft.tools.PlanAudit.of(df)
    assert(audit.scans.exists(_.pushedFilters >= 1),
      s"DSv2 pushed filters must be visible to the audit:\n${audit.render}")
  }

  test("pair-budget guards compare counts, never the overflowing " +
    "n*(n-1)/2 product") {
    // the threshold row count for 1e7 pairs: 4472 rows fit, 4473 don't
    def maxRows(m: Long): Long =
      ((1.0 + math.sqrt(1.0 + 8.0 * m.toDouble)) / 2.0).toLong
    assert(maxRows(10000000L) == 4472L)
    assert(4472L * 4471L / 2 <= 10000000L)
    assert(4473L * 4472L / 2 > 10000000L)
    // at the scale the old product form wrapped (n ~ 4.3e9), the
    // count comparison is still well-defined
    assert(5000000000L > maxRows(10000000L))
  }

  test("PlanAudit still sees risks after the plan has been executed " +
    "(pre-fix: AQE leaf made every audit come back clean)") {
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    val cross = a.crossJoin(b)
    cross.count() // force the memoized executedPlan with AQE on
    val audit = graft.tools.PlanAudit.of(cross)
    assert(audit.cartesians + audit.nestedLoopJoins >= 1,
      s"executed cartesian must still audit dirty:\n${audit.render}")
  }
}
