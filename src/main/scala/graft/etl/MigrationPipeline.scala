package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.sources.{JdbcConnector, JetTypes}
import graft.sources.JetTypes.JetType
import graft.sources.jetmdb.JetMdbFormat.JetIndex
import graft.sources.jetmdb.JetMdbSource.JetRelationshipRow

/** The reference's whole program as a library (SURVEY.md §3.1): an
  * Access-shaped source database → enumerate tables → translate schema
  * → normalize values → bulk-load the target.
  *
  * Where the reference shells out per stage (mdb-tables → mdb-schema →
  * psql → mdb-export → COPY) with text as the only IR, this pipeline is
  * one declarative Spark plan per table: the source read, the
  * `applyJetSchema` normalization, and the sink write fuse into a
  * single distributed job. The tables load concurrently, each from its
  * own driver thread, so their jobs share the cluster's slots (the
  * shape of `pg_restore --jobs`); the constraints stage follows, once,
  * after every load.
  */
object MigrationPipeline {

  /** One table's migration spec: where it comes from, its declared Jet
    * schema (name → type in source ordinal order), the indexes its
    * TDEF declares (primary key / unique / plain — the post-load
    * constraint surface), the AutoNumber columns (rendered IDENTITY in
    * the DDL), and whether the source is ALREADY TYPED (a binary
    * jetmdb read — gets [[normalizeTyped]]; a stringly CSV-shaped read
    * gets the full [[normalize]] ingest casts). */
  final case class TableSpec(
      name: String,
      source: SparkSession => DataFrame,
      jetSchema: Seq[(String, JetType)],
      indexes: Seq[JetIndex] = Nil,
      autoNumberCols: Seq[String] = Nil,
      typed: Boolean = false)

  /** Targets the pipeline can load into. */
  sealed trait Sink
  final case class ParquetSink(baseDir: String) extends Sink
  final case class JdbcSink(url: String) extends Sink

  /** The DDL the schema-translation stage would apply to PostgreSQL —
    * emitted as data (the engine's `mdb-schema` analog). Access
    * AutoNumber columns render `GENERATED BY DEFAULT AS IDENTITY`
    * (BY DEFAULT, not ALWAYS: the migration bulk-loads the EXISTING
    * key values, which ALWAYS would reject — the target keeps
    * generating for post-migration inserts). Standard SQL:2003 syntax,
    * accepted by PostgreSQL 10+ and Derby alike. */
  def ddl(spec: TableSpec): String = {
    val auto = spec.autoNumberCols.map(JetTypes.sanitizeName).toSet
    val cols = spec.jetSchema
      .map { case (n, t) =>
        val san = JetTypes.sanitizeName(n)
        val identity =
          if (auto(san)) " GENERATED BY DEFAULT AS IDENTITY" else ""
        s"  $san ${JetTypes.toPostgres(t)}$identity"
      }
      .mkString(",\n")
    s"CREATE TABLE ${JetTypes.sanitizeName(spec.name)} (\n$cols\n);"
  }

  /** The POST-LOAD constraints stage (the lifecycle step after bulk
    * load in §3.1's own diagram — constraints go on AFTER the data so
    * the load itself is unconstrained bulk I/O): primary keys,
    * secondary indexes, and foreign keys as executable DDL, in
    * dependency order (every PK/unique before any FK that references
    * it — an FK target must already have its unique backing).
    *
    * Dialect: `postgres` (default) emits the full surface; `derby`
    * suppresses `ON UPDATE CASCADE` (Derby has no update-cascade
    * action — the FK still goes on, with the default NO ACTION), which
    * is what lets the E2E spec drive the whole stage against the
    * embedded Derby this environment has.
    *
    * Un-enforced Access relationships (dbRelationDontEnforce) emit no
    * constraint — Access itself does not check them — and surface as
    * a SQL comment so the migrated schema documents their existence.
    * Multi-column relationships regroup their per-column
    * MSysRelationships rows by name, icolumn-ordered. */
  def constraintDdl(
      specs: Seq[TableSpec],
      relationships: Seq[JetRelationshipRow] = Nil,
      dialect: String = "postgres"): Seq[String] = {
    require(dialect == "postgres" || dialect == "derby",
      s"constraintDdl: unknown dialect '$dialect'")
    def san(n: String): String = JetTypes.sanitizeName(n)
    // COLUMN identifiers are double-quoted: the Spark JDBC writer this
    // stage follows CREATEs columns as quoted case-exact identifiers
    // (see JdbcConnector.upsert's matching note), and Derby's unquoted
    // upper-folding would otherwise miss them. Table names stay
    // verbatim — the writer passes dbtable through unquoted, so both
    // sides fold identically.
    def qc(n: String): String = "\"" + san(n) + "\""
    val pks = specs.flatMap { spec =>
      spec.indexes.filter(_.primary).flatMap { ix =>
        val t = san(spec.name)
        // Derby does not null-out PK columns implicitly (Postgres
        // does): the NOT NULL alters must precede the constraint
        val notNulls =
          if (dialect == "derby")
            ix.columns.map(c =>
              s"ALTER TABLE $t ALTER COLUMN ${qc(c)} NOT NULL")
          else Nil
        notNulls :+
          (s"ALTER TABLE $t ADD CONSTRAINT ${t}_pkey PRIMARY KEY " +
            ix.columns.map(qc).mkString("(", ", ", ")"))
      }
    }
    val secondary = specs.flatMap { spec =>
      spec.indexes.filterNot(_.primary).map { ix =>
        val t = san(spec.name)
        val unique = if (ix.unique) "UNIQUE " else ""
        s"CREATE ${unique}INDEX idx_${t}_${san(ix.name)} ON $t " +
          ix.columns.map(qc).mkString("(", ", ", ")")
      }
    }
    // AutoNumber → IDENTITY, retrofitted post-load: PostgreSQL 10+
    // can ALTER an existing column into an identity (BY DEFAULT, so
    // the bulk-loaded key values stand) and the setval aligns the
    // backing sequence past the loaded maximum — without it the first
    // post-migration insert collides with a migrated key. Derby
    // cannot retrofit identity onto an existing column (documented
    // comment; creating via MigrationPipeline.ddl carries it instead).
    val identities = specs.flatMap { spec =>
      spec.autoNumberCols.flatMap { c =>
        val t = san(spec.name)
        if (dialect == "postgres") Seq(
          s"ALTER TABLE $t ALTER COLUMN ${qc(c)} " +
            "ADD GENERATED BY DEFAULT AS IDENTITY",
          s"SELECT setval(pg_get_serial_sequence('$t', '${san(c)}'), " +
            s"COALESCE((SELECT MAX(${qc(c)}) FROM $t), 0) + 1, false)")
        else Seq(
          s"-- autonumber $t.${san(c)}: Derby cannot retrofit " +
            "IDENTITY onto an existing column — create the table via " +
            "MigrationPipeline.ddl to carry it")
      }
    }
    val fks = relationships.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (relName, rows) =>
        val ordered = rows.sortBy(_.icolumn)
        val head = ordered.head
        require(ordered.map(_.icolumn) == (0 until ordered.size),
          s"constraintDdl: relationship '$relName' has gaps in its " +
            s"column list (icolumn ${ordered.map(_.icolumn)})")
        val child = san(head.table)
        val parent = san(head.refTable)
        if (!head.enforced)
          s"-- relationship ${san(relName)}: $child" +
            ordered.map(r => san(r.column)).mkString("(", ", ", ")") +
            s" -> $parent" +
            ordered.map(r => san(r.refColumn)).mkString("(", ", ", ")") +
            " not enforced in Access (dbRelationDontEnforce); no " +
            "constraint emitted"
        else {
          val onDelete =
            if (head.deleteCascade) " ON DELETE CASCADE" else ""
          val onUpdate =
            if (head.updateCascade && dialect == "postgres")
              " ON UPDATE CASCADE"
            else ""
          s"ALTER TABLE $child ADD CONSTRAINT fk_${san(relName)} " +
            "FOREIGN KEY " +
            ordered.map(r => qc(r.column)).mkString("(", ", ", ")") +
            s" REFERENCES $parent " +
            ordered.map(r => qc(r.refColumn)).mkString("(", ", ", ")") +
            onDelete + onUpdate
        }
      }
    pks ++ secondary ++ identities ++ fks
  }

  /** Normalize one table: sanitize names + cast Jet encodings. */
  def normalize(spark: SparkSession, spec: TableSpec): DataFrame =
    JetTypes.applyJetSchema(spec.source(spark), spec.jetSchema)

  /** Normalize an ALREADY-TYPED frame — the jetmdb BINARY source
    * yields Jet-correct Spark types directly (Currency is already
    * DECIMAL(19,4), Yes/No already boolean), so re-applying the
    * stringly ingest casts of [[normalize]] would corrupt them (the
    * Currency cast divides by 10⁴ again). Only the name sanitization
    * applies. */
  def normalizeTyped(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(JetTypes.sanitizeName).toIndexedSeq: _*)

  /** Run the full migration; returns per-table row counts.
    * `sinkProps` passes driver/credential options to a JDBC sink.
    *
    * Every table loads at once: normalize, sink write, then a count of
    * the TARGET, each table on its own driver thread of a pool sized
    * `min(tables, defaultParallelism)`, so Spark's FIFO scheduler
    * fills every free slot with some table's tasks and each table's
    * driver-side steps (planning, CREATE TABLE, COUNT(*)) overlap the
    * other tables' jobs. The loaders inherit the caller's job group,
    * job tags and scheduler pool. JDBC connections stay bounded by the
    * running tasks plus one COUNT(*) connection per loader.
    *
    * Sanitized target names must be distinct: `Order Log` and
    * `order-log` would overwrite one another, so such a pair is
    * rejected before any load starts.
    *
    * After ALL tables load into a JDBC sink, the constraints stage
    * applies [[constraintDdl]] (PKs/indexes from each spec,
    * `relationships` as FKs) serially on one connection — after,
    * because bulk load into a constrained table pays per-row checking
    * and FK targets may load later than their children; serial,
    * because DDL on different tables at once contends for the
    * target's catalog locks (Derby fails a concurrent PK's NOT NULL
    * alter with a lock timeout). Parquet sinks carry no constraints;
    * the DDL is still available via [[constraintDdl]] for the
    * warehouse that will mount them.
    *
    * Failure: the first table whose load throws cancels the other
    * loads' jobs (they share one job tag), every loader is waited for,
    * and `migrate` throws an exception naming that table with the
    * original failure as its cause. The constraints stage does not
    * run then. */
  def migrate(
      spark: SparkSession,
      tables: Seq[TableSpec],
      sink: Sink,
      sinkProps: Map[String, String] = Map.empty,
      relationships: Seq[JetRelationshipRow] = Nil): Map[String, Long] = {
    tables.groupBy(t => JetTypes.sanitizeName(t.name)).foreach {
      case (target, same) =>
        require(same.size == 1,
          s"migration: tables ${same.map(t => s"'${t.name}'").mkString(
            " and ")} all map to target table '$target'")
    }
    val counts = loadAll(spark, tables)(loadTable(spark, _, sink, sinkProps))
    sink match {
      case JdbcSink(url) =>
        val dialect =
          if (url.startsWith("jdbc:derby")) "derby" else "postgres"
        val ddl = constraintDdl(tables, relationships, dialect)
          .filterNot(_.startsWith("--")) // comments document, not execute
        JdbcConnector.execute(url, ddl, sinkProps)
      case _: ParquetSink => () // no constraint surface on files
    }
    counts
  }

  /** One table's load: normalize, write, then count the target. */
  private def loadTable(
      spark: SparkSession,
      spec: TableSpec,
      sink: Sink,
      sinkProps: Map[String, String]): Long = {
    val table = JetTypes.sanitizeName(spec.name)
    val df =
      if (spec.typed) normalizeTyped(spec.source(spark))
      else normalize(spark, spec)
    sink match {
      case ParquetSink(dir) =>
        df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$table.parquet")
        spark.read.parquet(s"$dir/$table.parquet").count()
      case JdbcSink(url) =>
        // Access ShortText is BOUNDED (≤255): create it as
        // VARCHAR(255), not the writer's default unbounded type —
        // Derby's CLOB can't even compare against string literals,
        // so a ported WHERE clause would fail on the migrated
        // column. Memo/LongText keeps the unbounded default.
        val shortTexts = spec.jetSchema.collect {
          case (n, JetTypes.ShortText) =>
            s"${JetTypes.sanitizeName(n)} VARCHAR(255)"
        }
        val typeProps =
          if (shortTexts.isEmpty) sinkProps
          else sinkProps + ("createTableColumnTypes" ->
            shortTexts.mkString(", "))
        JdbcConnector.write(
          df, url, table, SaveMode.Overwrite, props = typeProps)
        // verify the TARGET (like the parquet branch) — counting the
        // source would mask a write that dropped rows; one server-side
        // COUNT(*) on a credentialed connection, not a Spark read job
        val conn = JdbcConnector.connect(url, sinkProps)
        try {
          val rs = conn.createStatement()
            .executeQuery(s"SELECT COUNT(*) FROM $table")
          rs.next()
          rs.getLong(1)
        } finally conn.close()
    }
  }

  /** Runs `load` for every table concurrently and returns table name →
    * result. The pool's threads are created here, by the calling
    * thread, so they inherit its Spark local properties; each loader
    * adds one job tag shared by this call and runs under `spark` as
    * the active session (the jetmdb source resolves
    * `SparkSession.active`). On the first failure the tag's jobs are
    * cancelled — repeatedly, until every loader has returned, since a
    * loader may start its job just after a cancel — and the failure
    * is rethrown with the table's name. */
  private def loadAll(spark: SparkSession, tables: Seq[TableSpec])(
      load: TableSpec => Long): Map[String, Long] = {
    import java.util.concurrent.{ExecutionException,
      ExecutorCompletionService, Executors, TimeUnit}
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    if (tables.isEmpty) return Map.empty
    val sc = spark.sparkContext
    val tag = s"graft-migrate-${java.util.UUID.randomUUID()}"
    val threadNo = new AtomicInteger
    val pool = Executors.newFixedThreadPool(
      math.min(tables.size, sc.defaultParallelism), { (r: Runnable) =>
        val t = new Thread(r,
          s"graft-migrate-loader-${threadNo.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    val failed = new AtomicBoolean
    try {
      val done = new ExecutorCompletionService[(String, Long)](pool)
      tables.foreach { spec =>
        done.submit { () =>
          if (failed.get) spec.name -> -1L // a sibling failed first
          else {
            sc.addJobTag(tag)
            try spark.withActive(spec.name -> load(spec))
            catch {
              case scala.util.control.NonFatal(e) =>
                throw new RuntimeException(
                  s"migration: table '${spec.name}' failed to load: " +
                    e.getMessage, e)
            }
          }
        }
      }
      var first: Option[Throwable] = None
      val counts = Map.newBuilder[String, Long]
      var pending = tables.size
      while (pending > 0) {
        val f =
          if (first.isEmpty) done.take()
          else {
            sc.cancelJobsWithTag(tag)
            done.poll(100, TimeUnit.MILLISECONDS)
          }
        if (f != null) {
          pending -= 1
          try counts += f.get()
          catch {
            case e: ExecutionException if first.isEmpty =>
              failed.set(true)
              first = Some(e.getCause)
            case _: ExecutionException => () // cancelled after the first
          }
        }
      }
      first.foreach(e => throw e)
      counts.result()
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** Run translated Jet ACTION queries — the saved UPDATE / DELETE /
    * INSERT…SELECT queries an Access app runs to mutate data — on the
    * MIGRATION TARGET over JDBC, in order, one connection, fail-fast
    * with the query's name and the translated SQL (a half-applied
    * batch must be visible, never swallowed). Spark cannot execute
    * row-level mutations on plain parquet, and it shouldn't: in the
    * migrated system these queries belong to the TARGET database.
    * Each statement goes through
    * [[graft.sources.JetSql.translateForJdbc]] (with optional
    * PARAMETERS bindings) — bracketed identifiers render ANSI-quoted
    * to match the case-exact columns the Spark JDBC writer created;
    * dialect-specific function spellings the target lacks fail loudly
    * with the offending SQL. Returns (name, affected-row count). */
  def runActionQueries(
      url: String,
      queries: Seq[(String, String)],
      params: Map[String, Any] = Map.empty,
      props: Map[String, String] = Map.empty,
      uniqueKeys: Map[String, Seq[Set[String]]] = Map.empty)
      : Seq[(String, Int)] = {
    if (queries.isEmpty) return Nil
    // credentials-honoring connect (user/password in props reach the
    // server, exactly like the Spark JDBC read/write paths)
    val conn = graft.sources.JdbcConnector.connect(url, props)
    try {
      val st = conn.createStatement()
      try queries.map { case (name, jet) =>
        val sql =
          graft.sources.JetSql.translateForJdbc(jet, params, uniqueKeys)
        try name -> st.executeUpdate(sql)
        catch {
          case e: java.sql.SQLException =>
            throw new java.sql.SQLException(
              s"action query [$name] failed: $sql — ${e.getMessage}", e)
        }
      } finally st.close()
    } finally conn.close()
  }

  /** Migration specs DERIVED from a `.mdb` file's own catalog — the
    * reference's `mdb-tables`/`mdb-schema` enumeration as one call:
    * every user table becomes a TYPED spec (binary jetmdb read,
    * Jet-correct Spark types) carrying its TDEF's schema, indexes, and
    * AutoNumber columns. Driver-side cost: the catalog pages only. */
  def specsFromJetMdb(path: String): Seq[TableSpec] = {
    import graft.sources.jetmdb.JetMdbSource
    JetMdbSource.listTables(path).map { case (name, _) =>
      // RESOLVED types (r13): a COMPLEX column arrives as
      // ComplexValues(payload) — array-renderable as-is (parquet
      // sink), child-table-expandable via [[expandComplex]] (JDBC
      // sink); tdef.jetTypes alone would carry the format layer's
      // unresolved empty-payload placeholder
      val (tdef, types, _, _, _, _, _) =
        JetMdbSource.tableDefFull(path, name)
      TableSpec(
        name,
        s => s.read.format("jetmdb").option("table", name).load(path),
        types,
        tdef.indexes,
        tdef.columns.filter(_.autoNumber).map(_.name),
        typed = true)
    }
  }

  /** Relational expansion of ACE COMPLEX columns (r13): the honest
    * migration of an attachment/multi-valued field is a CHILD TABLE —
    * which is exactly what it already is inside the `.accdb`. Returns
    * the parent spec with its complex columns dropped plus one child
    * spec per complex column: `(parent pk, ord, payload…)`, one row
    * per element, `ord` preserving Access's element order
    * (posexplode; empty/null arrays contribute no rows). Requires a
    * declared SINGLE-COLUMN primary key on the parent — a child table
    * without a parent key is not relational, and inventing one would
    * be a silent semantic change; parquet sinks can skip the
    * expansion entirely (arrays are parquet-native). */
  def expandComplex(spec: TableSpec): (TableSpec, Seq[TableSpec]) = {
    import org.apache.spark.sql.functions.{col, posexplode}
    val complexCols = spec.jetSchema.collect {
      case (n, cv: JetTypes.ComplexValues) => (n, cv)
    }
    if (complexCols.isEmpty) return (spec, Nil)
    val pkCols = spec.indexes.find(_.primary).map(_.columns)
      .getOrElse(throw new UnsupportedOperationException(
        s"migration: table '${spec.name}' has COMPLEX columns but " +
          "no declared primary key — a child table needs a parent " +
          "key; add a PK in Access, or keep the array rendering " +
          "(parquet sink needs no expansion)"))
    require(pkCols.length == 1,
      s"migration: table '${spec.name}': complex expansion needs a " +
        s"SINGLE-column primary key, found (${pkCols.mkString(", ")})")
    val pkName = pkCols.head
    val pkType = spec.jetSchema.toMap.apply(pkName)
    val complexNames = complexCols.map(_._1).toSet
    val parent = spec.copy(
      jetSchema = spec.jetSchema.filterNot(kv => complexNames(kv._1)),
      source = s => spec.source(s).drop(complexCols.map(_._1): _*))
    val children = complexCols.map { case (colName, cv) =>
      require(!cv.payload.exists(p =>
        p._1 == pkName || p._1 == "ord"),
        s"migration: complex column '$colName' payload field " +
          s"collides with the child key columns ($pkName, ord)")
      // a single-"Value" payload (simple multi-valued field) reads
      // as array<SCALAR> since r14 — posexplode's `col` IS the value
      // then, not a struct to reach into
      val scalarValue =
        cv.payload.map(_._1) == Seq("Value")
      TableSpec(
        name = s"${spec.name}_$colName",
        source = s => spec.source(s)
          .select(col(pkName), posexplode(col(colName)))
          .select(col(pkName) +: col("pos").as("ord") +:
            (if (scalarValue) Seq(col("col").as("Value"))
             else cv.payload.map { case (pn, _) =>
               col(s"col.$pn").as(pn)
             }): _*),
        jetSchema = (pkName -> pkType) +:
          ("ord" -> (JetTypes.LongInteger: JetType)) +: cv.payload,
        typed = true)
    }
    (parent, children)
  }

  /** The reference's WHOLE program, one call: `.mdb` in → enumerated
    * tables, typed binary reads, bulk loads, then the post-load
    * constraints stage (PKs/indexes from each TDEF, FKs from
    * MSysRelationships). Returns per-table row counts. */
  def migrateJetMdb(
      spark: SparkSession,
      mdbPath: String,
      sink: Sink,
      sinkProps: Map[String, String] = Map.empty): Map[String, Long] =
    migrate(spark, specsFromJetMdb(mdbPath), sink, sinkProps,
      graft.sources.jetmdb.JetMdbSource.relationships(mdbPath))

  /** The COMPLETE Access-application port, one call: tables +
    * constraints from the `.mdb`'s own catalog ([[migrateJetMdb]]),
    * then the app's QUERIES — Jet stores saved queries as parsed
    * attribute rows, not SQL text, so they arrive as the (name, text)
    * export every mdb-tooling workflow produces, split by kind:
    * `actionQueries` (UPDATE/DELETE/INSERT…SELECT) run ON THE TARGET
    * database in order, after constraints, via
    * [[runActionQueries]] — exactly when an Access app's cleanup
    * queries run; `savedQueries` (SELECT/crosstab shapes) register as
    * Spark temp views over the migrated tables by dependency fixpoint
    * ([[graft.sources.JetSql.registerSavedQueries]]), after the
    * caller re-reads the target into matching view names. Returns
    * (table counts, per-action-query affected rows, view names). */
  def migrateJetMdbApp(
      spark: SparkSession,
      mdbPath: String,
      url: String,
      sinkProps: Map[String, String] = Map.empty,
      actionQueries: Seq[(String, String)] = Nil,
      savedQueries: Seq[(String, String)] = Nil,
      params: Map[String, Any] = Map.empty)
      : (Map[String, Long], Seq[(String, Int)], Seq[String]) = {
    // one TDEF pass serves both the load and the .mdb's own unique
    // indexes, which feed the tie-faithful TOP n translation: TOP over
    // a unique ORDER BY keeps the LIMIT fast path, anything else gets
    // the tie-aware windowed form
    val specs = specsFromJetMdb(mdbPath)
    val uk = uniqueKeysFromSpecs(specs)
    val counts = migrate(spark, specs, JdbcSink(url), sinkProps,
      graft.sources.jetmdb.JetMdbSource.relationships(mdbPath))
    val applied =
      runActionQueries(url, actionQueries, params, sinkProps, uk)
    // saved SELECT queries read the POST-action state: register each
    // migrated table as a temp view over the target, then the chains
    counts.keys.foreach { name =>
      val t = JetTypes.sanitizeName(name)
      JdbcConnector.read(spark, url, t, props = sinkProps)
        .createOrReplaceTempView(t)
    }
    val views = graft.sources.JetSql
      .registerSavedQueries(spark, savedQueries, params, uk)
    (counts, applied, views)
  }

  /** Unique-key metadata for [[graft.sources.JetSql]]'s tie-faithful
    * `TOP n`: sanitized table name → the column sets its UNIQUE
    * indexes (incl. the primary key) cover, in the sanitized lowercase
    * names translated queries resolve against. An ORDER BY containing
    * one of these sets cannot tie, so the translator keeps the LIMIT
    * fast path there. */
  def uniqueKeysFromSpecs(specs: Seq[TableSpec])
      : Map[String, Seq[Set[String]]] =
    specs.map { s =>
      JetTypes.sanitizeName(s.name).toLowerCase ->
        // sanitizeName already lowercases, which is ALSO the exact
        // case of the writer's created columns — so the translator's
        // quoted case-exact JDBC emission of these names resolves
        // (the former extra .toLowerCase was redundant)
        s.indexes.filter(_.unique).map(
          _.columns.map(c => JetTypes.sanitizeName(c)).toSet)
    }.toMap

  /** The EXPORT direction — warehouse → Access interchange: write a
    * whole multi-table `.mdb` (first table overwrite, the rest
    * appended; per-table index/autonumber specs and relationship
    * declarations in the jetmdb writer's option syntax). Combined
    * with [[specsFromJetMdb]]/[[migrateJetMdb]] this closes the full
    * database round trip: `.mdb` → engine → new `.mdb` → engine,
    * constraints included. Bounded by Jet's own 2 GB format cap —
    * interchange scale by contract, never the 100 TB path. */
  def exportToJetMdb(
      tables: Seq[(String, DataFrame)],
      path: String,
      indexSpecs: Map[String, String] = Map.empty,
      relationshipSpecs: Map[String, String] = Map.empty,
      autoNumberSpecs: Map[String, String] = Map.empty,
      version: String = "jet4"): Unit = {
    require(tables.nonEmpty, "exportToJetMdb: no tables to export")
    tables.zipWithIndex.foreach { case ((name, df), i) =>
      var w = df.write.format("jetmdb").option("table", name)
        .option("version", version)
        .mode(if (i == 0) SaveMode.Overwrite else SaveMode.Append)
      indexSpecs.get(name).foreach(v => w = w.option("indexes", v))
      relationshipSpecs.get(name)
        .foreach(v => w = w.option("relationships", v))
      autoNumberSpecs.get(name)
        .foreach(v => w = w.option("autonumber", v))
      w.save(path)
    }
  }
}
