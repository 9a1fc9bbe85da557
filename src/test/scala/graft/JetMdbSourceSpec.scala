package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.JetMdbFixture.{Col, Table}
import graft.sources.jetmdb.JetMdbSource

/** The jetmdb binary source against independently written Jet4
  * fixtures: catalog listing, full-type round-trip, nulls, deleted
  * rows, Unicode-compressed text, multi-page tables, column pruning,
  * and reader-side filter behavior. */
class JetMdbSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  import spark.implicits._

  private def tmpMdb(): String =
    Files.createTempDirectory("jetmdb").resolve("test.mdb").toString

  private val allTypes = Seq(
    Col("flag", 0x01), Col("b", 0x02), Col("i", 0x03), Col("l", 0x04),
    Col("price", 0x05), Col("f", 0x06), Col("d", 0x07), Col("ts", 0x08),
    Col("uid", 0x0F), Col("name", 0x0A), Col("note", 0x0A))

  // 2001-02-03 04:05:06 UTC in epoch micros
  private val ts1 = 981173106000000L

  private def row(
      flag: Boolean, b: Int, i: Int, l: Int, price: String, f: Float,
      d: Double, ts: Long, uid: String, name: String,
      note: String): Seq[Any] =
    Seq(java.lang.Boolean.valueOf(flag),
      java.lang.Short.valueOf(b.toShort), java.lang.Short.valueOf(i.toShort),
      Integer.valueOf(l),
      if (price == null) null else new java.math.BigDecimal(price),
      java.lang.Float.valueOf(f), java.lang.Double.valueOf(d),
      java.lang.Long.valueOf(ts),
      uid, name, note)

  test("reads every supported Jet type with exact values") {
    val path = tmpMdb()
    JetMdbFixture.write(path, Seq(Table("typed", allTypes, Seq(
      row(flag = true, 200, -12345, 7654321, "19.9900", 1.5f, 2.25,
        ts1, "0102aabb-ccdd-eeff-0011-223344556677", "alice",
        "first row"),
      row(flag = false, 0, 42, -1, "-0.0001", -3.5f, 1e10,
        0L, "00000000-0000-0000-0000-000000000001", "bob", "b")))))
    val df = spark.read.format("jetmdb").option("table", "typed").load(path)
    assert(df.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "flag" -> "boolean", "b" -> "smallint", "i" -> "smallint",
      "l" -> "int", "price" -> "decimal(19,4)", "f" -> "float",
      "d" -> "double", "ts" -> "timestamp", "uid" -> "string",
      "name" -> "string", "note" -> "string"))
    val rows = df.orderBy(desc("flag")).collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getBoolean(0) && r0.getShort(1) == 200 &&
      r0.getShort(2) == -12345 && r0.getInt(3) == 7654321)
    assert(r0.getDecimal(4) == new java.math.BigDecimal("19.9900"))
    assert(r0.getFloat(5) == 1.5f && r0.getDouble(6) == 2.25)
    assert(r0.getTimestamp(7).toInstant.toEpochMilli == ts1 / 1000)
    assert(r0.getString(8) == "0102aabb-ccdd-eeff-0011-223344556677")
    assert(r0.getString(9) == "alice" && r0.getString(10) == "first row")
    val r1 = rows(1)
    assert(!r1.getBoolean(0) && r1.getInt(3) == -1 &&
      r1.getDecimal(4) == new java.math.BigDecimal("-0.0001"))
  }

  test("null mask: nulls round-trip per column; bools are never null") {
    val path = tmpMdb()
    JetMdbFixture.write(path, Seq(Table("nully", allTypes, Seq(
      Seq(java.lang.Boolean.FALSE, null, null, null, null, null, null,
        null, null, null, null),
      row(flag = true, 1, 2, 3, "1.0000", 1f, 1d, ts1,
        "00000000-0000-0000-0000-000000000002", "x", "")))))
    val df = spark.read.format("jetmdb").option("table", "nully").load(path)
    val nulls = df.filter(col("l").isNull).collect()
    assert(nulls.length == 1)
    val n = nulls.head
    (1 until 11).foreach(i => assert(n.isNullAt(i), s"col $i"))
    assert(!n.isNullAt(0) && !n.getBoolean(0))
    // empty string is NOT null (mask bit set, empty extent)
    val full = df.filter(col("l") === 3).collect().head
    assert(!full.isNullAt(10) && full.getString(10) == "")
  }

  test("deleted rows are skipped; compressed text decodes") {
    val path = tmpMdb()
    val t = Table("com", Seq(Col("k", 0x04), Col("v", 0x0A)),
      rows = (0 until 5).map(i =>
        Seq(Integer.valueOf(i), s"value-$i"): Seq[Any]),
      deleted = Set(2), compressText = true)
    JetMdbFixture.write(path, Seq(t))
    val got = spark.read.format("jetmdb").option("table", "com").load(path)
      .as[(Int, String)].collect().sortBy(_._1)
    assert(got.toSeq ==
      Seq((0, "value-0"), (1, "value-1"), (3, "value-3"), (4, "value-4")))
  }

  test("multi-page tables split into page-range partitions and read " +
    "completely") {
    val path = tmpMdb()
    // 20 000 rows span ~1 MB: past the size where a per-page reopen
    // of the .crc costs more than the page itself
    val n = 20000
    val rows = (0 until n).map(i =>
      Seq(Integer.valueOf(i), "x" * (i % 40 + 1)): Seq[Any])
    JetMdbFixture.write(path,
      Seq(Table("big", Seq(Col("k", 0x04), Col("pad", 0x0A)), rows)))
    val df = spark.read.format("jetmdb").option("table", "big").load(path)
    assert(df.count() == n)
    assert(df.agg(sum(col("k"))).as[Long].head() == n.toLong * (n - 1) / 2)
    // catalog sees exactly the one user table
    assert(JetMdbSource.listTables(path).map(_._1) == Seq("big"))
    TestSpark.assertJetScanReadsOnce(path, "big")
  }

  test("a flipped byte on a data page fails the scan on the .crc " +
    "checksum") {
    val f = new java.io.File(tmpMdb())
    (0 until 2000).map(i => (i, s"row $i")).toDF("k", "v")
      .write.mode("overwrite").format("jetmdb").option("table", "t")
      .save(f.toString)
    assert(new java.io.File(f.getParentFile, s".${f.getName}.crc").exists)
    def scan() =
      spark.read.format("jetmdb").option("table", "t").load(f.toString)
    assert(scan().count() == 2000) // memoizes the catalog
    // the last page is a data page; the restored mtime keeps the
    // catalog memo, so the partition reader's page read trips
    val mtime = f.lastModified
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      raf.seek(f.length - 100)
      val b = raf.read()
      raf.seek(f.length - 100)
      raf.write(b ^ 0xFF)
    } finally raf.close()
    assert(f.setLastModified(mtime))
    val e = intercept[Exception](
      scan().write.format("noop").mode("overwrite").save())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e)
  }

  test("column pruning reaches the scan and filters are reader-visible") {
    val path = tmpMdb()
    val rows = (0 until 100).map(i =>
      Seq(Integer.valueOf(i), s"n$i", java.lang.Double.valueOf(i * 1.5))
        : Seq[Any])
    JetMdbFixture.write(path, Seq(Table("prune",
      Seq(Col("k", 0x04), Col("name", 0x0A), Col("score", 0x07)), rows)))
    val df = spark.read.format("jetmdb").option("table", "prune").load(path)
      .filter(col("k") >= 90).select("name")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("jetmdb"), plan)
    // pruned ReadSchema: only columns needed (name + filter column)
    assert(!plan.contains("score"), s"score not pruned:\n$plan")
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      (90 until 100).map(i => s"n$i").sorted)
  }

  test("two tables in one database resolve independently by name") {
    val path = tmpMdb()
    JetMdbFixture.write(path, Seq(
      Table("t1", Seq(Col("a", 0x04)), Seq(Seq(Integer.valueOf(1)))),
      Table("t2", Seq(Col("b", 0x0A)), Seq(Seq("two"): Seq[Any]))))
    assert(JetMdbSource.listTables(path).map(_._1).sorted == Seq("t1", "t2"))
    assert(spark.read.format("jetmdb").option("table", "t1").load(path)
      .as[Int].head() == 1)
    assert(spark.read.format("jetmdb").option("table", "t2").load(path)
      .as[String].head() == "two")
    val err = intercept[IllegalArgumentException] {
      spark.read.format("jetmdb").option("table", "nope").load(path)
    }
    assert(err.getMessage.contains("no user table"))
  }

  test("write path round-trips all types and cross-checks against the " +
    "independent fixture writer") {
    val dir = Files.createTempDirectory("jetmdb-w")
    val written = dir.resolve("out.mdb").toString
    val viaFixture = tmpMdb()
    val data = Seq(
      (true, 3.toShort, 12, new java.math.BigDecimal("1.5000"),
        2.5f, 3.5, new java.sql.Timestamp(ts1 / 1000), "hello"),
      (false, -7.toShort, -99, new java.math.BigDecimal("-0.0001"),
        0f, -1e-3, new java.sql.Timestamp(0L), "wörld ünïcode"))
    val df = data.toDF("flag", "i", "l", "price", "f", "d", "ts", "name")
      .withColumn("price", col("price").cast("decimal(19,4)"))
    df.write.mode("overwrite").format("jetmdb")
      .option("table", "t").save(written)
    val back = spark.read.format("jetmdb").option("table", "t")
      .load(written)
    assert(back.schema == df.schema.copy(fields =
      df.schema.fields.map(_.copy(nullable = true))))
    val a = back.orderBy("l").collect().map(_.toSeq)
    val e = df.orderBy("l").collect().map(_.toSeq)
    assert(a.toSeq.map(_.toList) == e.toSeq.map(_.toList))
    // the SAME logical rows written by the independent fixture writer
    // must read back identically (two implementations of the public
    // layout agreeing end-to-end)
    JetMdbFixture.write(viaFixture, Seq(Table("t",
      Seq(Col("flag", 0x01), Col("i", 0x03), Col("l", 0x04),
        Col("price", 0x05), Col("f", 0x06), Col("d", 0x07),
        Col("ts", 0x08), Col("name", 0x0A)),
      data.map { case (fl, i, l, p, f, d, ts, n) =>
        Seq(java.lang.Boolean.valueOf(fl), java.lang.Short.valueOf(i),
          Integer.valueOf(l), p, java.lang.Float.valueOf(f),
          java.lang.Double.valueOf(d),
          java.lang.Long.valueOf(ts.getTime * 1000L), n): Seq[Any]
      })))
    val viaFix = spark.read.format("jetmdb").option("table", "t")
      .load(viaFixture).orderBy("l").collect().map(_.toSeq)
    assert(viaFix.toSeq.map(_.toList) == e.toSeq.map(_.toList))
    // overwrite replaces the database atomically
    df.limit(1).write.mode("overwrite").format("jetmdb")
      .option("table", "t").save(written)
    assert(spark.read.format("jetmdb").option("table", "t")
      .load(written).count() == 1)
    // no staging residue next to the output
    val residue = Files.list(dir).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (residue.hasNext) names += residue.next().getFileName.toString
    // RawLocalFileSystem leaves .crc checksum twins; only staging
    // residue would be a bug
    assert(names.filterNot(_.endsWith(".crc")).toSeq == Seq("out.mdb"),
      names.mkString(","))
  }

  test("NUMERIC: fixture read, write round-trip, writer-vs-fixture " +
    "cross-check, precision guard") {
    // fixture-read: exact decimals incl. negative, zero, 28-digit max
    val path = tmpMdb()
    val vals = Seq("123.456", "-987.654", "0.000",
      "9999999999999999999999999.999", // 28 digits at scale 3
      "-0.001")
      .map(new java.math.BigDecimal(_))
    JetMdbFixture.write(path, Seq(Table("n",
      Seq(Col("k", 0x04), Col("v", 0x10, prec = 28, scale = 3)),
      vals.zipWithIndex.map { case (v, i) =>
        Seq(Integer.valueOf(i), v): Seq[Any]
      } :+ (Seq(Integer.valueOf(99), null): Seq[Any]))))
    val df = spark.read.format("jetmdb").option("table", "n").load(path)
    assert(df.schema("v").dataType.simpleString == "decimal(28,3)")
    val rows = df.orderBy("k").collect()
    vals.zipWithIndex.foreach { case (v, i) =>
      assert(rows(i).getDecimal(1) == v.setScale(3), s"row $i")
    }
    assert(rows(5).isNullAt(1))
    // write → read round trip through the DSv2 writer
    val dir = Files.createTempDirectory("jetmdb-num")
    val written = dir.resolve("n.mdb").toString
    // explicit schema: the tuple encoder's default Decimal(38,18)
    // can't hold a 28-digit unscaled value
    val srcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DecimalType(28, 3), nullable = true)))
    val src = spark.createDataFrame(
      java.util.Arrays.asList(vals.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(i, v.setScale(3))
      }: _*), srcSchema)
    src.write.mode("overwrite").format("jetmdb")
      .option("table", "n").save(written)
    val back = spark.read.format("jetmdb").option("table", "n")
      .load(written).orderBy("k").collect()
    vals.zipWithIndex.foreach { case (v, i) =>
      assert(back(i).getDecimal(1) == v.setScale(3), s"written row $i")
    }
    // writer bytes and fixture bytes agree on the same logical rows
    val viaW = spark.read.format("jetmdb").option("table", "n")
      .load(written).orderBy("k").collect().map(_.toSeq).toSeq
    val viaF = spark.read.format("jetmdb").option("table", "n")
      .load(path).orderBy("k").limit(5).collect().map(_.toSeq).toSeq
    assert(viaW.map(_.toList) == viaF.map(_.toList))
    // precision beyond Jet's 28 digits rejects at plan time
    val e = intercept[Exception] {
      Seq((1, new java.math.BigDecimal("1"))).toDF("k", "v")
        .withColumn("v", col("v").cast("decimal(38,2)"))
        .write.mode("overwrite").format("jetmdb")
        .option("table", "n").save(dir.resolve("x.mdb").toString)
    }
    assert(e.getMessage.contains("28-digit"))
  }

  test("write rejects BIGINT at plan time and nulls round-trip") {
    val dir = Files.createTempDirectory("jetmdb-w2")
    val e = intercept[Exception] {
      Seq(1L).toDF("big").write.mode("overwrite").format("jetmdb")
        .option("table", "t").save(dir.resolve("x.mdb").toString)
    }
    assert(e.getMessage.contains("64-bit integer") ||
      Option(e.getCause).exists(_.getMessage.contains("64-bit integer")))
    val p = dir.resolve("n.mdb").toString
    Seq((1, Some("a")), (2, None), (3, Some("")))
      .toDF("k", "v")
      .write.mode("overwrite").format("jetmdb")
      .option("table", "t").save(p)
    val got = spark.read.format("jetmdb").option("table", "t").load(p)
      .orderBy("k").collect()
    assert(got(0).getString(1) == "a")
    assert(got(1).isNullAt(1))
    assert(got(2).getString(1) == "") // empty != null through the mask
  }

  test("memo and OLE columns: inline and single-page LVAL payloads " +
    "decode; LVAL without a fetcher rejects") {
    val path = tmpMdb()
    val longText = "memo payload " * 150 // ~2 KB, too big to inline twice
    val blob = Array.tabulate[Byte](300)(i => (i % 251).toByte)
    JetMdbFixture.write(path, Seq(JetMdbFixture.Table("docs",
      Seq(Col("k", 0x04), Col("note", 0x0C), Col("body", 0x0C),
        Col("payload", 0x0B)),
      rows = (0 until 20).map(i => Seq(
        Integer.valueOf(i),
        s"inline-note-$i", // inline memo
        longText + i, // LVAL memo
        blob.map(b => (b + i).toByte)): Seq[Any]) :+
        (Seq(Integer.valueOf(99), null, null, null): Seq[Any]),
      lvalCols = Set("body", "payload"))))
    val df = spark.read.format("jetmdb").option("table", "docs").load(path)
    assert(df.schema("note").dataType.simpleString == "string")
    assert(df.schema("payload").dataType.simpleString == "binary")
    val rows = df.orderBy("k").collect()
    assert(rows.length == 21)
    (0 until 20).foreach { i =>
      assert(rows(i).getString(1) == s"inline-note-$i")
      assert(rows(i).getString(2) == longText + i, s"LVAL memo row $i")
      assert(rows(i).getAs[Array[Byte]](3).toSeq ==
        blob.map(b => (b + i).toByte).toSeq, s"OLE row $i")
    }
    assert(rows(20).isNullAt(1) && rows(20).isNullAt(2) &&
      rows(20).isNullAt(3))
    // a long-value flag with no page fetcher → precise require, not a
    // garbage read (flags 0x00 with nonzero length forces the chain path)
    val page = new Array[Byte](graft.sources.jetmdb.JetMdbFormat.PageSize)
    page(0) = 1 // length 1, flags byte 0x00
    val e = intercept[IllegalArgumentException] {
      graft.sources.jetmdb.JetMdbFormat.resolveMemo(page, 0, 12, null)
    }
    assert(e.getMessage.contains("no page fetcher"))
  }

  test("chained (type-2) LVAL memos: multi-page and multi-hop chains " +
    "decode exactly") {
    val path = tmpMdb()
    // ~12.2 KB per memo (UTF-16 in the file) → 1000-byte chunks span
    // multiple LVAL pages; the OLE blob chains too
    val longText = ("chained-" + ("x" * 55) + "|") * 95
    val blob = Array.tabulate[Byte](5000)(i => ((i * 7) % 251).toByte)
    JetMdbFixture.write(path, Seq(JetMdbFixture.Table("docs",
      Seq(Col("k", 0x04), Col("body", 0x0C), Col("payload", 0x0B)),
      rows = (0 until 6).map(i => Seq(
        Integer.valueOf(i), longText + i,
        blob.map(b => (b + i).toByte)): Seq[Any]) :+
        (Seq(Integer.valueOf(99), null, null): Seq[Any]),
      chainedCols = Set("body", "payload"))))
    val rows = spark.read.format("jetmdb").option("table", "docs")
      .load(path).orderBy("k").collect()
    assert(rows.length == 7)
    (0 until 6).foreach { i =>
      assert(rows(i).getString(1) == longText + i, s"chained memo row $i")
      assert(rows(i).getAs[Array[Byte]](2).toSeq ==
        blob.map(b => (b + i).toByte).toSeq, s"chained OLE row $i")
    }
    assert(rows(6).isNullAt(1) && rows(6).isNullAt(2))
    // tiny chunks: many hops, chains that turn around inside one page
    val path2 = tmpMdb()
    JetMdbFixture.write(path2, Seq(JetMdbFixture.Table("t2",
      Seq(Col("k", 0x04), Col("body", 0x0C)),
      rows = (0 until 4).map(i =>
        Seq(Integer.valueOf(i), s"hop-$i-" + ("ab" * 120)): Seq[Any]),
      chainedCols = Set("body"), chainChunk = 48)))
    val rows2 = spark.read.format("jetmdb").option("table", "t2")
      .load(path2).orderBy("k").collect()
    (0 until 4).foreach { i =>
      assert(rows2(i).getString(1) == s"hop-$i-" + ("ab" * 120))
    }
  }

  test("write path: memoColumns option and binary columns round-trip") {
    val dir = Files.createTempDirectory("jetmdb-w3")
    val p = dir.resolve("m.mdb").toString
    val longNote = "n" * 1500
    val df = Seq(
      (1, "short", longNote, Array[Byte](1, 2, 3)),
      (2, "also short", "tiny", Array.empty[Byte]))
      .toDF("k", "name", "note", "blob")
    df.write.mode("overwrite").format("jetmdb")
      .option("table", "t").option("memoColumns", "note").save(p)
    // note resolves to MEMO in the TDEF, name stays TEXT
    val (tdef, _, _) = JetMdbSource.tableDef(p, "t")
    val byName = tdef.columns.map(c => c.name -> c.typeCode).toMap
    assert(byName("note") == 0x0C && byName("name") == 0x0A &&
      byName("blob") == 0x0B)
    val got = spark.read.format("jetmdb").option("table", "t").load(p)
      .orderBy("k").collect()
    assert(got(0).getString(2) == longNote)
    assert(got(0).getAs[Array[Byte]](3).toSeq == Seq[Byte](1, 2, 3))
    assert(got(1).getString(2) == "tiny")
    assert(got(1).getAs[Array[Byte]](3).isEmpty)
    // unknown memo column name fails at plan time
    val err = intercept[Exception] {
      df.write.mode("overwrite").format("jetmdb")
        .option("table", "t").option("memoColumns", "nope").save(p)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("unknown column")))
  }

  test("non-Jet and unknown-version files are rejected with precise " +
    "errors (Jet3 now DISPATCHES — see Jet3SourceSpec)") {
    val dir = Files.createTempDirectory("jetmdb-bad")
    val junk = dir.resolve("junk.mdb")
    Files.write(junk, Array.fill[Byte](4096)(7))
    val e1 = intercept[IllegalArgumentException] {
      JetMdbSource.listTables(junk.toString)
    }
    assert(e1.getMessage.contains("signature"))
    // valid signature, unknown version byte (neither Jet3 nor Jet4)
    val jx = new Array[Byte](4096)
    jx(0) = 0x00; jx(1) = 0x01
    System.arraycopy("Standard Jet DB".getBytes("US-ASCII"), 0, jx, 4, 15)
    jx(0x14) = 0x02
    val fx = dir.resolve("jetx.mdb")
    Files.write(fx, jx)
    val e2 = intercept[IllegalArgumentException] {
      JetMdbSource.listTables(fx.toString)
    }
    // r12: version 0x02 with the JET magic is a magic/version
    // mismatch (0x02+ carries the ACE magic)
    assert(e2.getMessage.contains("unsupported version") &&
      e2.getMessage.contains("ACE"))
    // encrypted-database diagnostic: a valid header whose page 2 is
    // ciphertext-noise names the likely cause (r12)
    val enc = new Array[Byte](4096 * 3)
    enc(0) = 0x00; enc(1) = 0x01
    System.arraycopy("Standard Jet DB".getBytes("US-ASCII"), 0, enc, 4, 15)
    enc(0x14) = 0x01
    val rnd = new scala.util.Random(7L)
    (4096 until enc.length).foreach(i => enc(i) = rnd.nextInt().toByte)
    if (enc(2 * 4096) == 0x02) enc(2 * 4096) = 0x7f // force non-TDEF
    val fe = dir.resolve("enc.mdb")
    Files.write(fe, enc)
    // r14: a noise-paged Jet4 file carries a nonzero candidate key
    // (zero header bytes XOR the fixed mask), so the reader RETRIES
    // under the RC4 profile and then raises the composite diagnostic
    // naming both failures (the r12/r13 hint is its cause)
    val e3 = intercept[UnsupportedOperationException] {
      JetMdbSource.listTables(fe.toString)
    }
    assert(e3.getMessage.contains("RC4 page-scramble"), e3.getMessage)
    assert(e3.getMessage.contains("original failure"), e3.getMessage)
    assert(e3.getCause.getMessage.contains("password-protected"),
      e3.getCause.getMessage)
    // same hint on the Jet3 catalog walk (r12 review: the Jet3 copy
    // had no test). Jet3 stores the key UNmasked, so this all-zero
    // header derives key 0 → no retry → the plain hint surfaces
    // directly, exactly as in r13
    val enc3 = new Array[Byte](2048 * 3)
    enc3(0) = 0x00; enc3(1) = 0x01
    System.arraycopy(
      "Standard Jet DB".getBytes("US-ASCII"), 0, enc3, 4, 15)
    enc3(0x14) = 0x00 // Jet3
    (2048 until enc3.length).foreach(i => enc3(i) = rnd.nextInt().toByte)
    if (enc3(2 * 2048) == 0x02) enc3(2 * 2048) = 0x7f // force non-TDEF
    val fe3 = dir.resolve("enc97.mdb")
    Files.write(fe3, enc3)
    val e4 = intercept[IllegalArgumentException] {
      JetMdbSource.listTables(fe3.toString)
    }
    assert(e4.getMessage.contains("password-protected"), e4.getMessage)
  }

  test("20 random schemas round-trip the jet4 writer: bool/int/long/" +
    "money/NUMERIC(p,s)/float/double/timestamp/TEXT/MEMO/OLE, ~20% " +
    "nulls, Unicode text incl. a BOM-prefixed value; r12: every 4th " +
    "case writes ACE (Large Number columns in the pool), every 5th " +
    "is WIDE (120-160 columns, chained TDEF) (seeded)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val r = new scala.util.Random(46464646L)
    val dir = java.nio.file.Files.createTempDirectory("jetmdb_rt_fuzz")
    val alphabet = "ab c'\"é→Ж,0"
    def randS(max: Int): String = {
      val s = Seq.fill(r.nextInt(max) + 1)(
        alphabet.charAt(r.nextInt(alphabet.length))).mkString
      // occasionally exercise the BOM/compression-marker path
      if (r.nextInt(8) == 0) "\uFEFF" + s else s
    }
    // (type, isMemo) — memo designation rides the memocolumns option
    def randType(ace: Boolean): (DataType, Boolean) =
      r.nextInt(if (ace) 11 else 10) match {
      case 10 => (LongType, false) // ACE Large Number
      case 0 => (BooleanType, false)
      case 1 => (ShortType, false)
      case 2 => (IntegerType, false)
      case 3 => (DecimalType(19, 4), false)
      case 4 =>
        val p = r.nextInt(24) + 5
        (DecimalType(p, r.nextInt(math.min(p, 10) + 1)), false)
      case 5 => (FloatType, false)
      case 6 => (DoubleType, false)
      case 7 => (TimestampType, false)
      case 8 => (BinaryType, false)
      case _ => (StringType, r.nextBoolean())
    }
    (0 until 20).foreach { k =>
      val ace = k % 4 == 3
      val wide = k % 5 == 4
      val nCols = if (wide) 120 + r.nextInt(41) else r.nextInt(6) + 1
      val colTypes = (0 until nCols).map(_ => randType(ace))
      val fields = StructField("rid", IntegerType, nullable = false) +:
        colTypes.zipWithIndex.map { case ((dt, _), i) =>
          StructField(s"c$i", dt, nullable = true)
        }
      val schema = StructType(fields)
      val memoCols = colTypes.zipWithIndex.collect {
        case ((StringType, true), i) => s"c$i"
      }
      def value(dt: DataType): Any =
        if (dt != BooleanType && r.nextInt(5) == 0) null
        else dt match {
          case BooleanType => r.nextBoolean()
          case ShortType => (r.nextInt(65536) - 32768).toShort
          case IntegerType => r.nextInt()
          case d: DecimalType if d.precision == 19 && d.scale == 4 =>
            new java.math.BigDecimal(
              BigInt(r.nextLong(2000000001L) - 1000000000L).bigInteger, 4)
          case d: DecimalType =>
            // unscaled value within the declared precision
            val digits = math.min(d.precision, 15)
            val bound = math.pow(10, digits.toDouble).toLong
            new java.math.BigDecimal(
              BigInt(r.nextLong(2 * bound - 1) - (bound - 1)).bigInteger,
              d.scale)
          case FloatType => r.nextFloat() * 1e4f
          case DoubleType => r.nextDouble() * 1e8
          case TimestampType => new java.sql.Timestamp(
            (r.nextLong(3155760000L)) * 1000L) // 1970..2070, seconds
          case BinaryType =>
            val b = new Array[Byte](r.nextInt(50)); r.nextBytes(b); b
          case LongType => r.nextLong()
          case StringType => randS(if (wide) 4 else 30)
        }
      val nRows = r.nextInt(25)
      val rows = (0 until nRows).map { i =>
        Row.fromSeq(i +: fields.tail.map(f => value(f.dataType)))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 2), schema)
      val p = dir.resolve(
        if (ace) s"rt$k.accdb" else s"rt$k.mdb").toString
      var w = df.write.mode("overwrite").format("jetmdb")
        .option("table", "t")
      if (ace) w = w.option("version", "ace")
      if (memoCols.nonEmpty)
        w = w.option("memocolumns", memoCols.mkString(","))
      w.save(p)
      val back = spark.read.format("jetmdb").option("table", "t").load(p)
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        schema.map(f => (f.name, f.dataType)), s"case $k schema")
      // Array[Byte] compares by reference inside Row — normalize
      def norm(xs: Seq[Any]): Seq[Any] = xs.map {
        case a: Array[Byte] => a.toSeq
        case v => v
      }
      val got = back.orderBy("rid").collect().map(x => norm(x.toSeq))
        .toSeq
      val want = df.orderBy("rid").collect().map(x => norm(x.toSeq))
        .toSeq
      assert(got == want, s"case $k (${schema.simpleString}, " +
        s"memo=$memoCols)\ngot=${got.take(3)}\nwant=${want.take(3)}")
    }
  }

  test("multi-page TDEF chains (r12): a 200-column table reads " +
    "through the fixture and round-trips the writer, fresh and " +
    "append, jet4 and ace") {
    val spark2 = spark
    import spark2.implicits._
    // --- read path: independent fixture emits the chain ---
    val nCols = 200
    val p1 = tmpMdb()
    val cols = (0 until nCols).map(i => Col(s"col_number_$i", 0x04))
    val rows = (0 until 7).map(r =>
      (0 until nCols).map(c => Integer.valueOf(r * 1000 + c): Any))
    JetMdbFixture.write(p1, Seq(Table("wide", cols, rows)))
    val df = spark.read.format("jetmdb").option("table", "wide").load(p1)
    assert(df.schema.length == nCols)
    assert(df.schema.fieldNames.toSeq ==
      (0 until nCols).map(i => s"col_number_$i"))
    val got = df.orderBy("col_number_0").collect()
    assert(got.length == 7)
    (0 until 7).foreach { r =>
      (0 until nCols).foreach { c =>
        assert(got(r).getInt(c) == r * 1000 + c, s"row $r col $c")
      }
    }
    // pruning still works against a chained TDEF
    assert(df.select("col_number_150").orderBy("col_number_150")
      .collect().map(_.getInt(0)).toSeq ==
      (0 until 7).map(_ * 1000 + 150))
    // --- write path: 200-column DataFrame -> jet4 -> read back ---
    val p2 = tmpMdb()
    val wideDf = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 5).map(r =>
        org.apache.spark.sql.Row.fromSeq(
          (0 until nCols).map(c => r * 100 + c)))),
      org.apache.spark.sql.types.StructType((0 until nCols).map(i =>
        org.apache.spark.sql.types.StructField(
          s"w$i", org.apache.spark.sql.types.IntegerType))))
    wideDf.write.format("jetmdb").option("table", "w")
      .mode("overwrite").save(p2)
    val back = spark.read.format("jetmdb").option("table", "w").load(p2)
    assert(back.schema.length == nCols)
    assert(back.orderBy("w0").collect().map(_.getInt(199)).toSeq ==
      (0 until 5).map(_ * 100 + 199))
    // --- append a second wide table; both stay readable ---
    Seq((1, "x")).toDF("id", "v").write.format("jetmdb")
      .option("table", "narrow").mode("append").save(p2)
    wideDf.write.format("jetmdb").option("table", "w2")
      .mode("append").save(p2)
    assert(spark.read.format("jetmdb").option("table", "w")
      .load(p2).count() == 5)
    assert(spark.read.format("jetmdb").option("table", "w2")
      .load(p2).count() == 5)
    assert(spark.read.format("jetmdb").option("table", "narrow")
      .load(p2).collect()(0).getString(1) == "x")
    // --- ace variant with a Large Number column in the wide chain ---
    val p3 = tmpMdb()
    val aceDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row.fromSeq(
          (0 until nCols - 1).map(c => c: Any) :+ 1234567890123L))),
      org.apache.spark.sql.types.StructType(
        (0 until nCols - 1).map(i =>
          org.apache.spark.sql.types.StructField(
            s"a$i", org.apache.spark.sql.types.IntegerType)) :+
          org.apache.spark.sql.types.StructField("big",
            org.apache.spark.sql.types.LongType)))
    aceDf.write.format("jetmdb").option("table", "t")
      .option("version", "ace").mode("overwrite").save(p3)
    assert(spark.read.format("jetmdb").option("table", "t").load(p3)
      .collect()(0).getLong(nCols - 1) == 1234567890123L)
  }
}
