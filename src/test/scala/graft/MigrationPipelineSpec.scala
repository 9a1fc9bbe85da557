package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.MigrationPipeline
import graft.etl.MigrationPipeline.{ParquetSink, TableSpec}
import graft.sources.JetTypes._

/** End-to-end migration pipeline: enumerate → schema DDL → normalize →
  * bulk load → verify counts (SURVEY.md §3.1 rendered in Spark). */
class MigrationPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  import spark.implicits._

  private val specs = Seq(
    TableSpec(
      "Customer List",
      _ => Seq(
        ("1", "-1", "12500", "Ann Smith"),
        ("2", "0", "990000", "Bo Chen")).toDF(
        "Customer ID", "Is Active", "Credit Limit", "Full Name"),
      Seq(
        "Customer ID" -> LongInteger,
        "Is Active" -> YesNo,
        "Credit Limit" -> Currency,
        "Full Name" -> ShortText)),
    TableSpec(
      "Order#Log",
      _ => Seq(("10", "2024-02-29 12:00:00")).toDF("Order ID", "Placed At"),
      Seq("Order ID" -> LongInteger, "Placed At" -> DateTime)))

  test("ddl renders sanitized Postgres CREATE TABLE statements") {
    val d = MigrationPipeline.ddl(specs.head)
    assert(d.startsWith("CREATE TABLE customer_list ("))
    assert(d.contains("customer_id INTEGER"))
    assert(d.contains("is_active BOOL"))
    assert(d.contains("credit_limit NUMERIC(19,4)"))
    assert(d.contains("full_name VARCHAR(255)"))
  }

  test("migrate loads into a real JDBC target (embedded Derby)") {
    val dbDir = Files.createTempDirectory("graft_derby_mig").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    val (counts, m) = TestSpark.measure(
      MigrationPipeline.migrate(
        spark, specs,
        MigrationPipeline.JdbcSink(url),
        Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")))
    assert(counts == Map("Customer List" -> 2L, "Order#Log" -> 1L))
    // the load is the only Spark job: verify counts the target with a
    // server-side COUNT(*)
    assert(m.jobs == specs.size)
    assert(tableExists(url, "order_log"))
    val back = graft.sources.JdbcConnector.read(
      spark, url, "customer_list",
      props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    assert(back.count() == 2L)
    assert(back.columns.toSeq ==
      Seq("customer_id", "is_active", "credit_limit", "full_name"))
  }

  private val derbyProps =
    Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  private def freshDerby(prefix: String): String =
    s"jdbc:derby:${Files.createTempDirectory(prefix).resolve("db")};create=true"

  /** A one-column, one-partition table of `rows` values whose every
    * row passes through `f` inside the task. */
  private def taskTable(name: String, rows: Int)(f: Long => Long) =
    TableSpec(name,
      s => {
        val g = org.apache.spark.sql.functions.udf(f)
        s.range(0, rows, 1, 1).select(g($"id").cast("string").as("v"))
      },
      Seq("v" -> LongInteger))

  private def tableExists(url: String, table: String): Boolean = {
    val conn = graft.sources.JdbcConnector.connect(url, derbyProps)
    try conn.getMetaData.getTables(null, null, table.toUpperCase, null)
      .next()
    finally conn.close()
  }

  test("migrate runs the tables' loads at once: at least two jobs " +
    "overlap, one job per table, exact counts") {
    val url = freshDerby("graft_derby_overlap")
    // each table's single task holds its slot for 0.5 s, so a serial
    // migration cannot overlap two jobs
    val slow = (1 to 3).map(i =>
      taskTable(s"Slow $i", 5) { v => Thread.sleep(100); v * i })
    val (counts, m) = TestSpark.measure(
      MigrationPipeline.migrate(spark, specs ++ slow,
        MigrationPipeline.JdbcSink(url), derbyProps))
    assert(counts == Map("Customer List" -> 2L, "Order#Log" -> 1L,
      "Slow 1" -> 5L, "Slow 2" -> 5L, "Slow 3" -> 5L))
    assert(m.jobs == specs.size + slow.size)
    val overlapping = m.spans.combinations(2).count {
      case Seq((s1, e1), (s2, e2)) => s1 < e2 && s2 < e1
    }
    assert(overlapping > 0, s"no two jobs overlapped: ${m.spans}")
  }

  test("migrate rejects tables whose sanitized names collide, " +
    "before any target table is created") {
    val url = freshDerby("graft_derby_collide")
    val clash = Seq(
      TableSpec("Order Log",
        _ => Seq("1").toDF("Order ID"), Seq("Order ID" -> LongInteger)),
      TableSpec("order-log",
        _ => Seq("2").toDF("Order ID"), Seq("Order ID" -> LongInteger)))
    val e = intercept[IllegalArgumentException] {
      MigrationPipeline.migrate(spark, specs.take(1) ++ clash,
        MigrationPipeline.JdbcSink(url), derbyProps)
    }
    assert(e.getMessage.contains("'Order Log'") &&
      e.getMessage.contains("'order-log'") &&
      e.getMessage.contains("order_log"), e.getMessage)
    assert(!tableExists(url, "customer_list"))
    assert(!tableExists(url, "order_log"))
  }

  test("a failing table fails the migration fast and clean: the " +
    "error names it, sibling jobs are cancelled, no loader survives, " +
    "and the next migration succeeds") {
    val url = freshDerby("graft_derby_fail")
    // the siblings would hold their slots for 60 s uncancelled
    val failing = Seq(
      taskTable("Left Slow", 1200) { v => Thread.sleep(50); v },
      taskTable("Broken Middle", 10) { v =>
        if (v == 3) throw new IllegalStateException("boom in task")
        v
      },
      taskTable("Right Slow", 1200) { v => Thread.sleep(50); v })
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      MigrationPipeline.migrate(spark, failing,
        MigrationPipeline.JdbcSink(url), derbyProps)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("'Broken Middle'"), e.getMessage)
    val cause = e.getCause
    assert(cause != null &&
      !cause.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(Iterator.iterate[Throwable](cause)(_.getCause)
      .takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom in task")),
      cause)
    assert(secs < 30, s"migration took $secs s to fail")
    // the status store is fed by the listener bus, which lags the
    // scheduler: poll it briefly
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getActiveJobIds.nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    val loaders = Thread.getAllStackTraces.keySet.toArray(
      Array.empty[Thread]).filter(_.getName.startsWith("graft-migrate-"))
    loaders.foreach(_.join(10000))
    assert(loaders.forall(!_.isAlive))
    val next = MigrationPipeline.migrate(spark, specs,
      MigrationPipeline.JdbcSink(freshDerby("graft_derby_after")),
      derbyProps)
    assert(next == Map("Customer List" -> 2L, "Order#Log" -> 1L))
  }

  test("ACE complex column migrates RELATIONALLY (r13): " +
    "expandComplex derives a child table keyed by the parent PK, " +
    "Derby end-to-end; parquet sinks keep the native array") {
    val dir = Files.createTempDirectory("graft_cx_mig")
    val accdb = dir.resolve("app.accdb").toString
    import graft.JetMdbFixture.{Col, IndexDef, Table => FixTable}
    JetMdbFixture.write(accdb, Seq(
      FixTable("Docs",
        Seq(Col("DocID", 0x04, auto = true), Col("Title", 0x0A),
          Col("Files", 0x12)),
        Seq(
          Seq(Integer.valueOf(1), "alpha", Integer.valueOf(100)),
          Seq(Integer.valueOf(2), "beta", Integer.valueOf(200))),
        indexes = Seq(
          IndexDef("PK", Seq("DocID"), unique = true, primary = true)),
        complexCols = Map("Files" -> "Docs_Files_flat")),
      FixTable("Docs_Files_flat",
        Seq(Col("pk", 0x04, auto = true), Col("fk", 0x12),
          Col("FileName", 0x0A)),
        Seq(
          Seq(Integer.valueOf(2), Integer.valueOf(100), "b.bin"),
          Seq(Integer.valueOf(1), Integer.valueOf(100), "a.png"),
          Seq(Integer.valueOf(3), Integer.valueOf(200), "c.txt")),
        system = true)), aceVersion = 0x02)
    val specs = MigrationPipeline.specsFromJetMdb(accdb)
    assert(specs.map(_.name) == Seq("Docs")) // flat table is hidden
    val (parent, children) = MigrationPipeline.expandComplex(specs.head)
    assert(parent.jetSchema.map(_._1) == Seq("DocID", "Title"))
    assert(children.map(_.name) == Seq("Docs_Files"))
    assert(children.head.jetSchema.map(_._1) ==
      Seq("DocID", "ord", "FileName"))
    val url = s"jdbc:derby:${dir.resolve("db")};create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val counts = MigrationPipeline.migrate(
      spark, parent +: children, MigrationPipeline.JdbcSink(url), props)
    assert(counts == Map("Docs" -> 2L, "Docs_Files" -> 3L))
    val docs = graft.sources.JdbcConnector.read(
      spark, url, "docs", props = props)
    val files = graft.sources.JdbcConnector.read(
      spark, url, "docs_files", props = props)
    // element order survives as ord (flat pk order, here inverted
    // on purpose in the fixture's insertion order)
    val got = files.join(docs, "docid")
      .select("title", "ord", "filename")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .toSet
    assert(got == Set(
      ("alpha", 0, "a.png"), ("alpha", 1, "b.bin"),
      ("beta", 0, "c.txt")))
    // a spec WITHOUT a PK refuses the expansion, loudly
    val noPk = specs.head.copy(indexes = Nil)
    val e = intercept[UnsupportedOperationException] {
      MigrationPipeline.expandComplex(noPk)
    }
    assert(e.getMessage.contains("primary key"))
    // and the array rendering stays available for parquet sinks
    val pq = dir.resolve("pq").toString
    val cnts = MigrationPipeline.migrate(spark, specs,
      MigrationPipeline.ParquetSink(pq))
    assert(cnts == Map("Docs" -> 2L))
    val arr = spark.read.parquet(s"$pq/docs.parquet")
    assert(arr.schema("files").dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType])
  }

  test("simple MULTI-VALUED column (single-Value payload) migrates " +
    "relationally too (r14 review: the array<scalar> unwrap broke " +
    "expandComplex's struct field access)") {
    val dir = Files.createTempDirectory("graft_mvf_mig")
    val accdb = dir.resolve("mvf.accdb").toString
    import graft.JetMdbFixture.{Col, IndexDef, Table => FixTable}
    JetMdbFixture.write(accdb, Seq(
      FixTable("Items",
        Seq(Col("ItemID", 0x04, auto = true), Col("Tags", 0x12)),
        Seq(
          Seq(Integer.valueOf(1), Integer.valueOf(100)),
          Seq(Integer.valueOf(2), Integer.valueOf(200))),
        indexes = Seq(
          IndexDef("PK", Seq("ItemID"), unique = true, primary = true)),
        complexCols = Map("Tags" -> "Items_Tags_flat")),
      FixTable("Items_Tags_flat",
        Seq(Col("pk", 0x04, auto = true), Col("fk", 0x12),
          Col("Value", 0x0A)),
        Seq(
          Seq(Integer.valueOf(1), Integer.valueOf(100), "red"),
          Seq(Integer.valueOf(2), Integer.valueOf(100), "blue"),
          Seq(Integer.valueOf(3), Integer.valueOf(200), "green")),
        system = true)), aceVersion = 0x02)
    val specs = MigrationPipeline.specsFromJetMdb(accdb)
    val (parent, children) = MigrationPipeline.expandComplex(specs.head)
    assert(children.head.jetSchema.map(_._1) ==
      Seq("ItemID", "ord", "Value"))
    val url = s"jdbc:derby:${dir.resolve("db")};create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val counts = MigrationPipeline.migrate(
      spark, parent +: children, MigrationPipeline.JdbcSink(url), props)
    assert(counts == Map("Items" -> 2L, "Items_Tags" -> 3L))
    val tags = graft.sources.JdbcConnector.read(
      spark, url, "items_tags", props = props)
    assert(tags.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet ==
      Set((1, 0, "red"), (1, 1, "blue"), (2, 0, "green")))
  }

  test("translated Jet ACTION queries execute on the migration " +
    "target (Derby): UPDATE, INSERT…SELECT, DELETE *") {
    val dbDir = Files.createTempDirectory("graft_derby_act").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    MigrationPipeline.migrate(
      spark, specs.take(1), MigrationPipeline.JdbcSink(url), props)
    val applied = MigrationPipeline.runActionQueries(url, Seq(
      "Uppercase One" ->
        ("UPDATE customer_list SET [full_name] = UCase([full_name]) " +
          "WHERE [customer_id] = 1"),
      "Archive Copies" ->
        ("INSERT INTO customer_list " +
          "([customer_id], [is_active], [credit_limit], [full_name]) " +
          "SELECT [customer_id] + 100, [is_active], [credit_limit], " +
          "[full_name] & \" (copy)\" FROM customer_list"),
      "Purge Two" -> "DELETE * FROM customer_list WHERE [customer_id] = 2"),
      props = props)
    assert(applied == Seq(
      "Uppercase One" -> 1, "Archive Copies" -> 2, "Purge Two" -> 1))
    val back = graft.sources.JdbcConnector
      .read(spark, url, "customer_list", props = props)
      .orderBy("customer_id")
      .select("customer_id", "full_name").collect()
    assert(back.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq(
      (1, "ANN SMITH"),           // updated in place
      (101, "ANN SMITH (copy)"),  // copied AFTER the update
      (102, "Bo Chen (copy)")))   // source row then purged
    // a failing statement names the query and the translated SQL
    val e = intercept[java.sql.SQLException] {
      MigrationPipeline.runActionQueries(url, Seq(
        "Bad One" -> "DELETE * FROM no_such_table"), props = props)
    }
    assert(e.getMessage.contains("Bad One") &&
      e.getMessage.contains("DELETE FROM no_such_table"))
  }

  test("UPDATE … INNER JOIN action query mutates the Derby target " +
    "through the MERGE rewrite") {
    val dbDir = Files.createTempDirectory("graft_derby_uj").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val tierSpec = TableSpec(
      "Credit Tiers",
      _ => Seq(("1", "gold")).toDF("Customer ID", "Tier Name"),
      Seq("Customer ID" -> LongInteger, "Tier Name" -> ShortText))
    MigrationPipeline.migrate(
      spark, specs.take(1) :+ tierSpec,
      MigrationPipeline.JdbcSink(url), props)
    // the Access-designer form: two tables, equi-join, single target,
    // a source column in the SET expression, a WHERE refinement
    val applied = MigrationPipeline.runActionQueries(url, Seq(
      "Apply Tier" ->
        ("UPDATE [Customer List] INNER JOIN [Credit Tiers] ON " +
          "[Customer List].[Customer ID] = " +
          "[Credit Tiers].[Customer ID] " +
          "SET [Customer List].[Full Name] = " +
          "[Credit Tiers].[Tier Name] & \" \" & " +
          "[Customer List].[Full Name] " +
          "WHERE [Credit Tiers].[Tier Name] = \"gold\"")), props = props)
    assert(applied == Seq("Apply Tier" -> 1))
    val back = graft.sources.JdbcConnector
      .read(spark, url, "customer_list", props = props)
      .orderBy("customer_id")
      .select("customer_id", "full_name").collect()
    assert(back.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq(
      (1, "gold Ann Smith"), // matched + refined: updated via MERGE
      (2, "Bo Chen"))) // no tier row: untouched
  }

  test("migrateJetMdbApp: one call ports the whole Access app — " +
    "binary tables, action queries ON the target, saved-query views " +
    "reading the post-action state") {
    import graft.JetMdbFixture.{Col, Table}
    val mdb = Files.createTempDirectory("mig-app").resolve("app.mdb")
    JetMdbFixture.write(mdb.toString, Seq(Table("Deals",
      Seq(Col("Deal ID", 0x04), Col("Stage", 0x0A), Col("Amount", 0x05)),
      Seq(
        Seq[Any](Integer.valueOf(1), "open",
          new java.math.BigDecimal("10.0000")),
        Seq[Any](Integer.valueOf(2), "won",
          new java.math.BigDecimal("25.0000")),
        Seq[Any](Integer.valueOf(3), "junk",
          new java.math.BigDecimal("1.0000"))))))
    val dbDir = Files.createTempDirectory("graft_derby_app").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val (counts, applied, views) = MigrationPipeline.migrateJetMdbApp(
      spark, mdb.toString, url, props,
      actionQueries = Seq(
        "Purge Junk" -> "DELETE * FROM deals WHERE [stage] = \"junk\"",
        "Mark Big" ->
          "UPDATE deals SET [stage] = UCase([stage]) WHERE [amount] > 20"),
      savedQueries = Seq(
        // dependent first: the fixpoint defers it one round
        "Stage Totals" ->
          "SELECT [stage], Count(*) AS n FROM [Open Deals] GROUP BY [stage]",
        "Open Deals" ->
          "SELECT [deal_id], [stage], [amount] FROM deals"))
    assert(counts == Map("Deals" -> 3L))
    assert(applied == Seq("Purge Junk" -> 1, "Mark Big" -> 1))
    assert(views == Seq("open_deals", "stage_totals"))
    // the views see the POST-action target: junk purged, won → WON
    val got = spark.sql(
      "SELECT stage, n FROM stage_totals ORDER BY stage")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("WON", 1L), ("open", 1L)))
  }

  test("migrate normalizes and loads every table, verified by count") {
    val out = Files.createTempDirectory("graft_migrate").toString
    val counts =
      MigrationPipeline.migrate(spark, specs, ParquetSink(out))
    assert(counts == Map("Customer List" -> 2L, "Order#Log" -> 1L))
    val loaded = spark.read.parquet(s"$out/customer_list.parquet")
      .orderBy("customer_id").collect()
    assert(loaded(0).getBoolean(1)) // -1 -> true
    assert(loaded(0).getDecimal(2).toString == "1.2500") // 12500/1e4
  }

  test("end-to-end through the BINARY boundary: .mdb -> typed " +
    "normalize -> real JDBC database -> values exact -> re-export .mdb") {
    import graft.JetMdbFixture.{Col, Table}
    // 1. an Access database written by the INDEPENDENT fixture writer,
    //    with Access-style free-form column names
    val mdb = Files.createTempDirectory("mig-e2e").resolve("crm.mdb")
    val ts = 1709287200000000L // 2024-03-01 10:00:00 UTC micros
    JetMdbFixture.write(mdb.toString, Seq(Table("Customer List",
      Seq(Col("Customer ID", 0x04), Col("Is Active?", 0x01),
        Col("Credit Limit", 0x05), Col("Signed Up", 0x08),
        Col("Full Name", 0x0A)),
      Seq(
        Seq[Any](Integer.valueOf(1), java.lang.Boolean.TRUE,
          new java.math.BigDecimal("1.2500"), java.lang.Long.valueOf(ts),
          "Ann Smith"),
        Seq[Any](Integer.valueOf(2), java.lang.Boolean.FALSE,
          new java.math.BigDecimal("99.0000"), java.lang.Long.valueOf(ts),
          "Bo Chen")))))
    // 2. read the binary + sanitize names (types already Jet-correct)
    val raw = spark.read.format("jetmdb")
      .option("table", "Customer List").load(mdb.toString)
    val norm = MigrationPipeline.normalizeTyped(raw)
    assert(norm.columns.toSeq == Seq(
      "customer_id", "is_active", "credit_limit", "signed_up",
      "full_name"))
    // 3. load into a real SQL database and read the VALUES back
    val dbDir = Files.createTempDirectory("mig-e2e-db").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    graft.sources.JdbcConnector.write(
      norm, url, "customer_list", props = props)
    val back = graft.sources.JdbcConnector
      .read(spark, url, "customer_list", props = props)
      .orderBy("customer_id").collect()
    assert(back.length == 2)
    assert(back(0).getAs[Boolean]("is_active"))
    assert(back(0).getAs[java.math.BigDecimal]("credit_limit")
      .compareTo(new java.math.BigDecimal("1.2500")) == 0)
    assert(back(0).getAs[java.sql.Timestamp]("signed_up").getTime
      == ts / 1000L)
    assert(back(1).getAs[String]("full_name") == "Bo Chen")
    // 4. the reverse direction: export the normalized table back to a
    //    NEW .mdb through the engine's own writer and re-read it
    val out = Files.createTempDirectory("mig-e2e-out").resolve("out.mdb")
    norm.write.mode("overwrite").format("jetmdb")
      .option("table", "customer_list").save(out.toString)
    val reread = spark.read.format("jetmdb")
      .option("table", "customer_list").load(out.toString)
      .orderBy("customer_id").collect().map(_.toSeq)
    assert(reread.toSeq.map(_.toList) ==
      norm.orderBy("customer_id").collect().map(_.toSeq.toList).toSeq)
  }

  test("accdb end-to-end (r12): Large Number survives .accdb -> " +
    "migrateJetMdb -> Derby BIGINT -> values exact") {
    import graft.JetMdbFixture.{Col, Table}
    val acc = Files.createTempDirectory("mig-ace")
      .resolve("inventory.accdb")
    JetMdbFixture.write(acc.toString, Seq(Table("Stock Counts",
      Seq(Col("Item ID", 0x04), Col("Lifetime Units", 0x13),
        Col("Item Name", 0x0A)),
      Seq(
        Seq[Any](Integer.valueOf(1),
          java.lang.Long.valueOf(9007199254740993L), "widget"),
        Seq[Any](Integer.valueOf(2),
          java.lang.Long.valueOf(-42L), "gadget")),
      indexes = Seq(JetMdbFixture.IndexDef(
        "PrimaryKey", Seq("Item ID"), unique = true, primary = true)))),
      aceVersion = 0x02)
    val dbDir = Files.createTempDirectory("mig-ace-db").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val counts = MigrationPipeline.migrateJetMdb(
      spark, acc.toString, MigrationPipeline.JdbcSink(url), props)
    assert(counts == Map("Stock Counts" -> 2L))
    val back = graft.sources.JdbcConnector
      .read(spark, url, "stock_counts", props = props)
      .orderBy("item_id").collect()
    assert(back(0).getAs[Long]("lifetime_units") == 9007199254740993L)
    assert(back(1).getAs[Long]("lifetime_units") == -42L)
    assert(back(0).getAs[String]("item_name") == "widget")
    // the ACE TDEF's PK arrived through the shared index section and
    // is ENFORCED on the target
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        val dup = intercept[java.sql.SQLException] {
          st.execute(
            "INSERT INTO stock_counts VALUES (1, 5, 'dup')")
        }
        assert(dup.getSQLState.startsWith("23"), dup.getMessage)
      } finally st.close()
    } finally conn.close()
  }
}
