package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Jet3 (Access 97) WRITE support: the production writer emits the
  * same documented profile the production reader parses AND the
  * independent test-side fixture writer emits — proven three ways:
  * value round-trip through the reader, BYTE-IDENTICAL output against
  * the fixture writer for the same logical rows, and append-path
  * catalog maintenance. Scope rejections (types/metadata/rows outside
  * the Jet3 profile) must fail loudly, never write a file the reader
  * would misparse. */
class Jet3WriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private def tmp(): java.nio.file.Path =
    Files.createTempDirectory("graft_jet3w")

  /** Exception messages across the whole cause chain (Spark wraps
    * writer failures). */
  private def chain(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    while (cur != null) { sb.append(cur.getMessage).append(" | "); cur = cur.getCause }
    sb.toString
  }

  test("jet3 write round-trips every supported type, nulls, and " +
    "CP1252 text; output is byte-identical to the independent " +
    "fixture writer") {
    import spark.implicits._
    val dir = tmp()
    val written = dir.resolve("w97.mdb").toString
    val viaFixture = dir.resolve("f97.mdb").toString
    val micros = 1582934400000000L // 2020-02-29T00:00:00Z
    val data = Seq(
      (true, 3.toShort, 12, new java.math.BigDecimal("1.5000"),
        2.5f, 3.5, new java.sql.Timestamp(micros / 1000), "Café Über"),
      (false, -7.toShort, -99, new java.math.BigDecimal("-0.0001"),
        0f, -1e-3, new java.sql.Timestamp(0L), ""))
    val df = data.toDF("flag", "i", "l", "price", "f", "d", "ts", "name")
      .withColumn("price", col("price").cast("decimal(19,4)"))
    df.coalesce(1).orderBy("l").write.mode("overwrite")
      .format("jetmdb").option("table", "t").option("version", "jet3")
      .save(written)
    // the file IS Jet3: 2048-byte pages, version byte 0x00
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(written))
    assert(bytes.length % 2048 == 0)
    assert(bytes(0x14) == 0x00)
    assert(graft.sources.jetmdb.JetLayout.of(bytes.take(2048)) ==
      graft.sources.jetmdb.JetLayout.Jet3)
    // value round-trip through the production reader (auto-dispatch)
    val back = spark.read.format("jetmdb").option("table", "t")
      .load(written)
    assert(back.schema == df.schema.copy(fields =
      df.schema.fields.map(_.copy(nullable = true))))
    assert(back.orderBy("l").collect().map(_.toSeq).toSeq ==
      df.orderBy("l").collect().map(_.toSeq).toSeq)
    // BYTE-IDENTICAL against the independent fixture writer: two
    // implementations of the documented profile, one file
    import Jet3Fixture.{Col, Table}
    Jet3Fixture.write(viaFixture, Seq(Table("t",
      Seq(Col("flag", 0x01), Col("i", 0x03), Col("l", 0x04),
        Col("price", 0x05), Col("f", 0x06), Col("d", 0x07),
        Col("ts", 0x08), Col("name", 0x0A)),
      data.sortBy(_._3).map { case (fl, i, l, p, f, d, ts, n) =>
        Seq(java.lang.Boolean.valueOf(fl), java.lang.Short.valueOf(i),
          Integer.valueOf(l), p, java.lang.Float.valueOf(f),
          java.lang.Double.valueOf(d),
          java.lang.Long.valueOf(ts.getTime * 1000L), n): Seq[Any]
      })))
    val fixBytes = Files.readAllBytes(java.nio.file.Paths.get(viaFixture))
    assert(bytes.length == fixBytes.length,
      s"page counts differ: ${bytes.length} vs ${fixBytes.length}")
    assert(java.util.Arrays.equals(bytes, fixBytes),
      "production jet3 writer and independent fixture writer diverge")
  }

  test("jet3 text distinguishes null from empty string across the " +
    "round trip") {
    import spark.implicits._
    val dir = tmp()
    val p = dir.resolve("ne.mdb").toString
    Seq((1, Some("")), (2, None), (3, Some("x")))
      .toDF("id", "s")
      .write.mode("overwrite").format("jetmdb").option("table", "t")
      .option("version", "jet3").save(p)
    val got = spark.read.format("jetmdb").option("table", "t").load(p)
      .orderBy("id").collect().map(r =>
        (r.getInt(0), Option(r.getString(1)))).toSeq
    assert(got == Seq((1, Some("")), (2, None), (3, Some("x"))))
  }

  test("jet3 append adds a table to an existing Jet3 database and " +
    "maintains the catalog; same-name append rejects") {
    import spark.implicits._
    val dir = tmp()
    val p = dir.resolve("multi.mdb").toString
    Seq((1, "a"), (2, "b")).toDF("id", "s")
      .write.mode("overwrite").format("jetmdb").option("table", "alpha")
      .option("version", "jet3").save(p)
    Seq((10.5, true)).toDF("v", "ok")
      .write.mode("append").format("jetmdb").option("table", "beta")
      .option("version", "jet3").save(p)
    val tables = graft.sources.jetmdb.JetMdbSource.listTables(p)
    assert(tables.map(_._1).sorted == Seq("alpha", "beta"))
    assert(spark.read.format("jetmdb").option("table", "alpha").load(p)
      .count() == 2)
    assert(spark.read.format("jetmdb").option("table", "beta").load(p)
      .orderBy("v").collect().map(_.toSeq).toSeq ==
      Seq(Seq(10.5, true)))
    val e = intercept[Exception] {
      Seq((9, "dup")).toDF("id", "s")
        .write.mode("append").format("jetmdb").option("table", "alpha")
        .option("version", "jet3").save(p)
    }
    assert(chain(e).contains("already exists"), chain(e))
  }

  test("append version/file mismatches fail loudly in both directions") {
    import spark.implicits._
    val dir = tmp()
    val j3 = dir.resolve("v3.mdb").toString
    val j4 = dir.resolve("v4.mdb").toString
    Seq((1, "a")).toDF("id", "s").write.mode("overwrite")
      .format("jetmdb")
      .option("table", "t").option("version", "jet3").save(j3)
    Seq((1, "a")).toDF("id", "s").write.mode("overwrite")
      .format("jetmdb")
      .option("table", "t").save(j4)
    // default (jet4) append onto a Jet3 file
    val e1 = intercept[Exception] {
      Seq((2, "b")).toDF("id", "s").write.mode("append")
        .format("jetmdb").option("table", "u").save(j3)
    }
    assert(chain(e1).toLowerCase.contains("jet3") ||
      chain(e1).contains("aligned"), chain(e1))
    // jet3 append onto a Jet4 file
    val e2 = intercept[Exception] {
      Seq((2, "b")).toDF("id", "s").write.mode("append")
        .format("jetmdb").option("table", "u")
        .option("version", "jet3").save(j4)
    }
    assert(chain(e2).contains("not a Jet3"), chain(e2))
  }

  test("full circle: engine tables → jet3 .mdb (exportToJetMdb) → " +
    "one-call migrateJetMdb into Derby") {
    import spark.implicits._
    val dir = tmp()
    val mdb = dir.resolve("app97.mdb").toString
    val t1 = Seq((1, "ann", 10.5), (2, "bob", 20.25))
      .toDF("id", "nm", "amt")
    val t2 = Seq((1, 100), (2, 200), (1, 300)).toDF("cust", "total")
    graft.etl.MigrationPipeline.exportToJetMdb(
      Seq("Customers 97" -> t1, "Orders 97" -> t2), mdb,
      version = "jet3")
    // the exported file IS Access 97
    assert(graft.sources.jetmdb.JetLayout.of(
      Files.readAllBytes(java.nio.file.Paths.get(mdb)).take(2048)) ==
      graft.sources.jetmdb.JetLayout.Jet3)
    // …and the whole-database migration path consumes it end-to-end
    // (catalog walk, typed specs, binary read, Derby load) — the
    // lifecycle a real Access-97 archive goes through
    val url = s"jdbc:derby:${dir.resolve("db")};create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val counts = graft.etl.MigrationPipeline.migrateJetMdb(
      spark, mdb, graft.etl.MigrationPipeline.JdbcSink(url), props)
    assert(counts == Map("Customers 97" -> 2L, "Orders 97" -> 3L))
    val back = graft.sources.JdbcConnector
      .read(spark, url, "customers_97", props = props)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1, "ann", 10.5), Seq(2, "bob", 20.25)))
  }

  test("20 random schemas round-trip the jet3 writer: every supported " +
    "type, ~20% nulls, CP1252 text with quotes/spaces, rows near the " +
    "255-byte cap (seeded)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val r = new scala.util.Random(97979797L)
    val dir = tmp()
    val alphabet = "ab c'\"é,ü0"
    def randS(max: Int): String =
      Seq.fill(r.nextInt(max) + 1)(alphabet(r.nextInt(alphabet.length)))
        .mkString
    val typePool: Seq[DataType] = Seq(BooleanType, ShortType,
      IntegerType, DecimalType(19, 4), FloatType, DoubleType,
      TimestampType, StringType)
    (0 until 20).foreach { k =>
      val nCols = r.nextInt(6) + 1
      val fields = StructField("rid", IntegerType, nullable = false) +:
        (0 until nCols).map(i =>
          StructField(s"c$i ${randS(4)}", typePool(r.nextInt(typePool.length)),
            nullable = true))
      val schema = StructType(fields)
      def value(dt: DataType): Any =
        // Jet booleans are a null-bitmask BIT and cannot be null
        // (null writes as false — the documented coercion, pinned by
        // the typed round-trip test); the lane feeds them non-null
        if (dt != BooleanType && r.nextInt(5) == 0) null
        else dt match {
          case BooleanType => r.nextBoolean()
          case ShortType => (r.nextInt(65536) - 32768).toShort
          case IntegerType => r.nextInt()
          case _: DecimalType => new java.math.BigDecimal(
            BigInt(r.nextLong(2000000001L) - 1000000000L).bigInteger, 4)
          case FloatType => r.nextFloat() * 1e4f
          case DoubleType => r.nextDouble() * 1e8
          case TimestampType => new java.sql.Timestamp(
            // 1970..2070 at second granularity: past OLE day 2^16
            // (~2079) the format's OWN double resolution exceeds
            // ±0.5 µs — real Jet shares that limit, so the exactness
            // contract holds inside it
            (r.nextLong(3155760000L)) * 1000L)
          case StringType => randS(30)
        }
      val nRows = r.nextInt(30)
      val rows = (0 until nRows).map { i =>
        Row.fromSeq(i +: fields.tail.map(f => value(f.dataType)))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 2), schema)
      val p = dir.resolve(s"rt$k.mdb").toString
      df.write.mode("overwrite").format("jetmdb").option("table", "t")
        .option("version", "jet3").save(p)
      val back = spark.read.format("jetmdb").option("table", "t").load(p)
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        schema.map(f => (f.name, f.dataType)), s"case $k schema")
      val got = back.orderBy("rid").collect().map(_.toSeq).toSeq
      val want = df.orderBy("rid").collect().map(_.toSeq).toSeq
      assert(got == want, s"case $k (${schema.simpleString})\n" +
        s"got=${got.take(3)}\nwant=${want.take(3)}")
    }
  }

  test("jet3 scope rejections are loud: BIGINT, non-Currency decimal, " +
    "binary, metadata options, non-CP1252 text, oversize rows") {
    import spark.implicits._
    val dir = tmp()
    def path(n: String) = dir.resolve(n).toString
    def failing(body: => Unit): String =
      chain(intercept[Exception](body))
    assert(failing {
      Seq(1L).toDF("big").write.mode("overwrite").format("jetmdb").option("table", "t")
        .option("version", "jet3").save(path("a.mdb"))
    }.contains("64-bit"))
    assert(failing {
      Seq(BigDecimal("1.23")).toDF("d")
        .select(col("d").cast("decimal(10,2)"))
        .write.mode("overwrite").format("jetmdb").option("table", "t")
        .option("version", "jet3").save(path("b.mdb"))
    }.contains("NUMERIC"))
    assert(failing {
      Seq(Array[Byte](1, 2)).toDF("b").write.mode("overwrite")
        .format("jetmdb")
        .option("table", "t").option("version", "jet3")
        .save(path("c.mdb"))
    }.contains("OLE"))
    for (opt <- Seq("indexes" -> "pk:id:p", "relationships" -> "r:id>T.id",
      "autonumber" -> "id", "memocolumns" -> "s")) {
      assert(failing {
        Seq((1, "x")).toDF("id", "s").write.mode("overwrite")
          .format("jetmdb")
          .option("table", "t").option(opt._1, opt._2)
          .option("version", "jet3").save(path("d.mdb"))
      }.contains("jet3"), opt._1)
    }
    assert(failing {
      Seq("日本語").toDF("s").write.mode("overwrite")
        .format("jetmdb").option("table", "t")
        .option("version", "jet3").save(path("e.mdb"))
    }.contains("CP1252"))
    assert(failing {
      Seq("x" * 300).toDF("s").write.mode("overwrite")
        .format("jetmdb").option("table", "t")
        .option("version", "jet3").save(path("f.mdb"))
    }.contains("255"))
  }
}
