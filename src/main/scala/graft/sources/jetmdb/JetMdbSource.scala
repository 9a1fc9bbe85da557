package graft.sources.jetmdb

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.JetTypes
import graft.sources.jetcsv.JetCsvFilters
import graft.sources.jetmdb.JetMdbFormat._

/** DataSource V2 reader over a Jet4 `.mdb` file — the binary sibling
  * of the `jetcsv` export-directory source:
  * {{{
  *   spark.read.format("jetmdb")
  *     .option("table", "customer").load("/data/crm.mdb")
  * }}}
  *
  * Same engineering contract as jetcsv: typed schema straight from
  * the TDEF (via [[JetTypes.toSpark]]), column pruning (only
  * requested columns are DECODED; the page walk is the fixed cost),
  * reader-side filter skipping with all filters returned as residual,
  * and page-range [[InputPartition]]s so a large file splits across
  * executors (pages are self-contained: Jet rows never span data
  * pages, so any page range decodes independently).
  *
  * Scale note: one `.mdb` caps at 2 GB by format, so at 100 TB the
  * unit of parallelism is FILES (thousands of them, one task each via
  * a parallelized file list + union or a streaming ingest), with
  * page-range splits only smoothing skew within unusually large
  * files. The per-file catalog read walks every page, once per file
  * per JVM (memoized, see `catalogCache`).
  */
class JetMdbSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "jetmdb"

  // writes pass the DataFrame's schema through (the file does not
  // exist yet, so there is nothing to infer from)
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JetMdbSource.tableDef(
      options.get("path"), JetMdbSource.tableName(options))._2

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    require(path != null, "jetmdb: a path must be supplied")
    val table = properties.getOrDefault("table", null)
    require(table != null, "jetmdb: .option(\"table\", <name>) is required")
    JetMdbTable(path, table, schema)
  }
}

object JetMdbSource {

  def tableName(options: CaseInsensitiveStringMap): String = {
    val t = options.get("table")
    require(t != null, "jetmdb: .option(\"table\", <name>) is required")
    t
  }

  private def fs(path: String) =
    new Path(path).getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)

  /** Read page `n` of `path` through the Hadoop FS (works for local
    * and distributed stores alike). `pageSize` defaults to Jet4's
    * 4096; Jet3 files read 2048-byte pages.
    *
    * Seek-then-read on the one open stream, never the positioned
    * `readFully(pos, buf)`: on a checksummed FS (the `file:` scheme)
    * every positioned read builds a fresh checker that reopens the
    * data file and its `.crc`, while a seek keeps both open and still
    * verifies every chunk. The seek moves the stream's position, so
    * a stream must not be shared between threads: every caller (each
    * partition reader, catalog walk, complex-index build, append
    * copy) opens its own. */
  def readPage(
      f: org.apache.hadoop.fs.FSDataInputStream, n: Int,
      pageSize: Int = PageSize): Array[Byte] = {
    val page = new Array[Byte](pageSize)
    f.seek(n.toLong * pageSize)
    f.readFully(page)
    page
  }

  /** Per-JVM catalog memo keyed by (path, length, mtime): resolving
    * MSysObjects rows requires scanning the file's pages (this reader
    * carries no usage-map shortcut — documented scope), and the
    * resolve runs at least twice per read (inferSchema +
    * planInputPartitions) and once more per reader factory. Without
    * the memo a 2 GB file would stream all ~524k pages through the
    * driver per occurrence; with it, once per file per JVM,
    * invalidated when the file changes. Bounded: wholesale clear past
    * 256 entries (catalog rows are a few hundred bytes each — the
    * clear is paranoia, not pressure).
    *
    * Staleness window (the standard metadata-cache tradeoff, same as
    * Spark's own FileStatusCache): a rewrite that leaves BOTH length
    * and mtime unchanged — an equal-length overwrite within the
    * filesystem's mtime granularity — serves the previous catalog.
    * Write-then-reread loops on such filesystems should use distinct
    * paths (this repo's own writer stages to a fresh name and
    * renames, which updates mtime). */
  private val catalogCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), (Seq[CatalogEntry], Boolean, Int)]()

  /** Crypt-aware stream for page reads: plain when `dbKey` is 0, the
    * RC4 per-page decryptor otherwise (r14). */
  private def openDb(path: String, jet3: Boolean,
      dbKey: Int): org.apache.hadoop.fs.FSDataInputStream =
    JetCrypt.open(fs(path), path, dbKey,
      if (jet3) Jet3Format.PageSize else PageSize)

  /** (catalog, pageCount, jet3?, dbKey) — version sniffed from the
    * header's format byte, page size and layout dispatched
    * accordingly. dbKey (r14) is 0 for a plaintext database and the
    * nonzero RC4 page-scramble key otherwise; the walk ALWAYS tries
    * plaintext first, so a wrong key derivation can never garble a
    * database the r13 reader could read. */
  private def catalogOf(path: String)
      : (Seq[CatalogEntry], Int, Boolean, Int) = {
    require(path != null, "jetmdb: a path must be supplied")
    val h = fs(path)
    val st = h.getFileStatus(new Path(path))
    val key = (path, st.getLen, st.getModificationTime)
    val hit = catalogCache.get(key)
    if (hit != null) {
      val (cat, jet3, dbKey) = hit
      val ps = if (jet3) Jet3Format.PageSize else PageSize
      (cat, (st.getLen / ps).toInt, jet3, dbKey)
    } else {
      // the header fits the smaller (Jet3) page, and page 0 is never
      // page-encrypted; sniff before choosing the page size
      val (head, jet3, ps) = {
        val in = h.open(new Path(path))
        try {
          val head = readPage(in, 0, Jet3Format.PageSize)
          checkHeader(head)
          val jet3 = Jet3Format.isJet3(head)
          (head, jet3, if (jet3) Jet3Format.PageSize else PageSize)
        } finally in.close()
      }
      val count = (st.getLen / ps).toInt
      def walk(dbKey: Int): Seq[CatalogEntry] = {
        val in = JetCrypt.open(h, path, dbKey, ps)
        try {
          if (jet3) Jet3Format.readCatalog(count, readPage(in, _, ps))
          else readCatalog(count, readPage(in, _, ps))
        } finally in.close()
      }
      // Failures that noise pages can PRODUCE: the NotATdef/bounds
      // family (RuntimeExceptions) plus EOFException — a garbage
      // chained-TDEF 'next' pointer read from ciphertext can pass
      // the type check (~1/256 keys) and seek past EOF (r14 review
      // wave 2). Other checked IOExceptions are storage problems and
      // surface as themselves, not re-labeled as encryption.
      def noiseFailure(t: Throwable): Boolean = t match {
        case _: RuntimeException | _: java.io.EOFException => true
        case _ => false
      }
      val (cat, dbKey) =
        try (walk(0), 0)
        catch {
          case plainErr: Exception if noiseFailure(plainErr) =>
            // encrypted-database fallback (r14): the public RC4
            // page-scramble profile, keyed from the header itself.
            // Attempted ONLY after the plaintext walk failed.
            val cand = JetCrypt.candidateKey(head, jet3)
            if (cand == 0) throw plainErr
            try (walk(cand), cand)
            catch {
              case e: Exception if noiseFailure(e) =>
                throw new UnsupportedOperationException(
                  "jetmdb: catalog walk failed in the clear AND " +
                    "under the public RC4 page-scramble profile " +
                    f"(header key 0x$cand%08x) — if this database " +
                    "is PASSWORD-protected (ACE RC4/AES keyed from " +
                    "user secrets), that derivation is a documented " +
                    "descope; original failure: " +
                    plainErr.getMessage, plainErr)
            }
        }
      if (catalogCache.size > 256) catalogCache.clear()
      catalogCache.put(key, (cat, jet3, dbKey))
      (cat, count, jet3, dbKey)
    }
  }

  /** List the user tables of a database: (name, tdefPage). */
  def listTables(path: String): Seq[(String, Int)] =
    catalogOf(path)._1.filter(!_.isSystem).map(e => e.name -> e.tdefPage)

  /** Raw decoded Jet value → Catalyst internal value. Shared by the
    * main-row reader and the COMPLEX flat-table index build so the
    * two renderings can never diverge. */
  private[jetmdb] def toCatalystValue(
      v: Any, t: JetTypes.JetType): Any =
    if (v == null) null
    else t match {
      case JetTypes.ShortText | JetTypes.Memo | JetTypes.Hyperlink |
          JetTypes.ReplicationId =>
        UTF8String.fromString(String.valueOf(v))
      case JetTypes.Currency =>
        org.apache.spark.sql.types.Decimal(
          v.asInstanceOf[java.math.BigDecimal], 19, 4)
      case JetTypes.Numeric(p, sc) =>
        org.apache.spark.sql.types.Decimal(
          v.asInstanceOf[java.math.BigDecimal], p, sc)
      case _ => v // primitives already land as their Catalyst repr
    }

  /** Per-executor COMPLEX flat-table index: complex-value key → the
    * Catalyst array of payload structs, built by one scan over the
    * file's pages owned by the flat TDEF (child rows ordered by the
    * flat table's AutoNumber pk — Access's insertion order — when it
    * has one, file order otherwise). Cached per (path, len, mtime,
    * flatPage): every partition of a complex table needs the SAME
    * index, and without the memo a file split into 512 page-range
    * tasks would rebuild it 512×. Memory is bounded by the format
    * itself — one `.mdb`/`.accdb` caps at 2 GB, so at 100 TB the unit
    * of scale is many files, each with its own bounded index; at
    * capacity (16 entries) ONE other entry is evicted per miss, and
    * builds are single-flight via computeIfAbsent (r14). */
  private val complexIndexCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long, Long, Int),
      Map[Int, org.apache.spark.sql.catalyst.util.GenericArrayData]]()

  private[jetmdb] def complexIndexOf(
      path: String, hconf: org.apache.hadoop.conf.Configuration,
      flatPage: Int, pageCount: Int, dbKey: Int = 0)
      : Map[Int, org.apache.spark.sql.catalyst.util.GenericArrayData] = {
    val h = new Path(path).getFileSystem(hconf)
    val st = h.getFileStatus(new Path(path))
    val key = (path, st.getLen, st.getModificationTime, flatPage)
    val hit = complexIndexCache.get(key)
    if (hit != null) return hit
    // At capacity, evict ONE other entry (oldest-by-iteration) — a
    // wholesale clear() dropped hot indexes for unrelated files every
    // time a 17th file appeared (r14 ADVICE). Done BEFORE the
    // computeIfAbsent below: CHM forbids mutating other mappings
    // inside a mapping function.
    if (complexIndexCache.size >= 16) {
      val ks = complexIndexCache.keys()
      var removed = false
      while (!removed && ks.hasMoreElements) {
        val k2 = ks.nextElement()
        if (k2 != key) { complexIndexCache.remove(k2); removed = true }
      }
    }
    // Single-flight: concurrent partition readers of one file that
    // miss together build the index ONCE under the key's bin lock
    // instead of each running the whole-file flat-table scan (r14
    // ADVICE — the old get/put raced N builders).
    complexIndexCache.computeIfAbsent(key,
      _ => buildComplexIndex(path, h, flatPage, pageCount, dbKey))
  }

  /** The whole-file flat-table scan behind [[complexIndexOf]]'s
    * cache — reads every data row of the flat side table at
    * `flatPage` and groups payload rows by fk. Runs at most once per
    * (file, mtime, flatPage) per executor. */
  private def buildComplexIndex(
      path: String, h: org.apache.hadoop.fs.FileSystem,
      flatPage: Int, pageCount: Int, dbKey: Int)
      : Map[Int, org.apache.spark.sql.catalyst.util.GenericArrayData] = {
    val in = JetCrypt.open(h, path, dbKey, PageSize)
    try {
      val flatT = parseTdefChained(flatPage, readPage(in, _, PageSize))
      val payload = complexPayloadCols(flatT)
      val payloadIdx = payload.map(pc =>
        flatT.columns.indexWhere(_.name == pc.name)).toArray
      val payloadT = payload.map(pc =>
        toJetType(pc.typeCode, pc.length, pc.prec, pc.scale)).toArray
      // single-"Value" payload = simple multi-valued field → the
      // schema side renders array<scalar> (JetTypes r14), so the
      // index stores bare values, not one-field rows
      val unwrap = payload.length == 1 && payload.head.name == "Value"
      val fkIdx = flatT.columns.indexWhere(_.typeCode == T_COMPLEX)
      val pkIdx = flatT.columns.indexWhere(_.autoNumber)
      require(fkIdx >= 0, s"jetmdb: flat table at page $flatPage " +
        "lacks the type-0x12 complex-value key column")
      var lvalNum = -1
      var lvalPage: Array[Byte] = null
      val lval: Int => Array[Byte] = { n =>
        if (n != lvalNum) {
          lvalPage = readPage(in, n, PageSize); lvalNum = n
        }
        lvalPage
      }
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, Any)]
      var pn = 1
      while (pn < pageCount) {
        val page = readPage(in, pn, PageSize)
        dataRowExtents(page, flatPage).foreach { case (s0, e0) =>
          val r = decodeRow(page, s0, e0, flatT, lval)
          if (r(fkIdx) != null) {
            val vs = new Array[Any](payloadIdx.length)
            var i = 0
            while (i < payloadIdx.length) {
              vs(i) = toCatalystValue(r(payloadIdx(i)), payloadT(i))
              i += 1
            }
            // Sort key: file order for the WHOLE table when it has
            // no AutoNumber pk; the pk otherwise. A null pk in a
            // table that HAS one (corrupt bookkeeping — must not NPE
            // the scan, the payload is still readable) sorts AFTER
            // every real pk in its fk group, stable by file order:
            // keying it at the global scan position would interleave
            // it arbitrarily with real pks of the same group (r14
            // ADVICE). Real pks are u32-ranged, so 1L<<32 + pos is
            // strictly above all of them.
            val pk: Long =
              if (pkIdx < 0) rows.length.toLong
              else if (r(pkIdx) == null) (1L << 32) + rows.length
              else r(pkIdx).asInstanceOf[Integer].longValue()
            rows += ((r(fkIdx).asInstanceOf[Integer].intValue(), pk,
              if (unwrap) vs(0) else new GenericInternalRow(vs)))
          }
        }
        pn += 1
      }
      rows.groupBy(_._1).map { case (fk, grp) =>
        fk -> new org.apache.spark.sql.catalyst.util.GenericArrayData(
          grp.sortBy(_._2).map(_._3).toArray[Any])
      }
    } finally in.close()
  }

  /** Resolve `table` → (tdef, Spark schema, pageCount, jet3?,
    * COMPLEX column name → flat side-table TDEF page). The last map
    * is empty for every table without ACE COMPLEX columns; when one
    * exists, its `ComplexValues(Nil)` placeholder from the format
    * layer is resolved here into the flat table's value-column
    * schema via the MSysComplexColumns catalog (r13). */
  def tableDefFull(path: String, table: String)
      : (JetTableDef, Seq[(String, JetTypes.JetType)], StructType, Int,
        Boolean, Map[String, Int], Int) = {
    val (cat, count, jet3, dbKey) = catalogOf(path)
    val entry = cat.find(e => e.name.equalsIgnoreCase(table) && !e.isSystem)
      .getOrElse(throw new IllegalArgumentException(
        s"jetmdb: no user table '$table' in $path " +
          s"(have: ${cat.filter(!_.isSystem).map(_.name).mkString(", ")})"))
    val in = openDb(path, jet3, dbKey)
    val ps = if (jet3) Jet3Format.PageSize else PageSize
    try {
      // chained (r12): wide tables spill their TDEF across pages
      val tdef =
        if (jet3)
          Jet3Format.parseTdefChained(
            entry.tdefPage, readPage(in, _, ps))
        else parseTdefChained(entry.tdefPage, readPage(in, _, ps))
      val (types, flatPages) =
        if (!tdef.columns.exists(_.typeCode == T_COMPLEX))
          (tdef.jetTypes, Map.empty[String, Int])
        else {
          // COMPLEX postdates Jet3 by a decade; a 0x12 code in a Jet3
          // TDEF is corruption, and the catalog walk below assumes
          // Jet4 page geometry — fail before reading garbage
          require(!jet3, s"jetmdb: COMPLEX column type 0x12 in a " +
            s"Jet3 (Access 97) file — corrupt TDEF for '$table'")
          val links = complexCatalogOf(path, cat, count, dbKey)
          val fp = scala.collection.mutable.LinkedHashMap[String, Int]()
          val resolved = tdef.columns.map { c =>
            if (c.typeCode != T_COMPLEX)
              c.name -> toJetType(c.typeCode, c.length, c.prec, c.scale)
            else {
              val flat = links.getOrElse((tdef.tdefPage, c.colNum),
                throw new UnsupportedOperationException(
                  s"jetmdb: COMPLEX column '${c.name}' of '$table' " +
                    s"has no MSysComplexColumns row (ConceptualTableID" +
                    s"=${tdef.tdefPage}, ColumnID=${c.colNum}) — the " +
                    "hidden flat side table cannot be located; " +
                    "flatten the field in Access or export to CSV"))
              val flatT = parseTdefChained(flat, readPage(in, _, ps))
              require(flatT.columns.exists(_.typeCode == T_COMPLEX),
                s"jetmdb: flat table at page $flat for COMPLEX " +
                  s"column '${c.name}' lacks the type-0x12 key column")
              fp(c.name) = flat
              c.name -> JetTypes.ComplexValues(
                complexPayloadCols(flatT).map(pc =>
                  pc.name -> toJetType(pc.typeCode, pc.length,
                    pc.prec, pc.scale)))
            }
          }
          (resolved, fp.toMap)
        }
      val schema = StructType(types.map { case (n, t) =>
        StructField(n, JetTypes.toSpark(t), nullable = true)
      })
      (tdef, types, schema, count, jet3, flatPages, dbKey)
    } finally in.close()
  }

  /** Resolve `table` → (tdef, Spark schema, pageCount, jet3?). */
  def tableDefV(path: String, table: String)
      : (JetTableDef, StructType, Int, Boolean) = {
    val (tdef, _, schema, count, jet3, _, _) = tableDefFull(path, table)
    (tdef, schema, count, jet3)
  }

  /** MSysComplexColumns walk: (ConceptualTableID, ColumnID) →
    * FlatTableID, i.e. (main TDEF page, column number) → the hidden
    * flat table's TDEF page — the column names the public format
    * notes document for the complex-column catalog. Requires the
    * catalog table to exist (callers guard). Cached per
    * (path, len, mtime): the walk reads every page of the file, the
    * same full-scan cost [[relationships]] pays, but this one sits on
    * the READ path of every complex table. */
  private val complexCatalogCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long, Long), Map[(Int, Int), Int]]()

  private def complexCatalogOf(
      path: String, cat: Seq[CatalogEntry], count: Int, dbKey: Int)
      : Map[(Int, Int), Int] = {
    val h = fs(path)
    val st = h.getFileStatus(new Path(path))
    val key = (path, st.getLen, st.getModificationTime)
    val hit = complexCatalogCache.get(key)
    if (hit != null) return hit
    val sysE = cat.find(_.name.equalsIgnoreCase("MSysComplexColumns"))
      .getOrElse(throw new UnsupportedOperationException(
        "jetmdb: the database declares a COMPLEX column but has no " +
          "MSysComplexColumns catalog table — the flat side tables " +
          "cannot be located; flatten the field in Access or export " +
          "to CSV (jetcsv)"))
    val in = openDb(path, jet3 = false, dbKey)
    try {
      val sysT = parseTdefChained(sysE.tdefPage, readPage(in, _, PageSize))
      def idxOf(n: String): Int = {
        val i = sysT.columns.indexWhere(_.name.equalsIgnoreCase(n))
        require(i >= 0, s"jetmdb: MSysComplexColumns lacks column '$n'")
        i
      }
      val (iTab, iCol, iFlat) =
        (idxOf("ConceptualTableID"), idxOf("ColumnID"),
          idxOf("FlatTableID"))
      def asInt(v: Any): Int = v match {
        case i: Integer => i.intValue()
        case s: java.lang.Short => s.intValue()
        case other => String.valueOf(other).toInt
      }
      // table IDs carry the TDEF page in their low 3 bytes, exactly
      // like MSysObjects Id (readCatalog applies the same mask)
      val links = (1 until count).flatMap { pn =>
        val page = readPage(in, pn, PageSize)
        dataRowExtents(page, sysE.tdefPage).map { case (s0, e0) =>
          val r = decodeRow(page, s0, e0, sysT)
          (asInt(r(iTab)) & 0x00FFFFFF, asInt(r(iCol))) ->
            (asInt(r(iFlat)) & 0x00FFFFFF)
        }
      }.toMap
      if (complexCatalogCache.size > 256) complexCatalogCache.clear()
      complexCatalogCache.put(key, links)
      links
    } finally in.close()
  }

  /** Resolve `table` → (tdef, Spark schema, pageCount). */
  def tableDef(path: String, table: String)
      : (JetTableDef, StructType, Int) = {
    val (tdef, schema, count, _) = tableDefV(path, table)
    (tdef, schema, count)
  }

  /** Indexes declared on `table`'s TDEF (primary key, unique, plain)
    * — the post-load constraint surface of `mdb-schema`. */
  def indexes(path: String, table: String): Seq[JetIndex] =
    tableDef(path, table)._1.indexes

  /** One MSysRelationships row — one COLUMN PAIR of a relationship
    * (Access stores an n-column relationship as n rows sharing
    * `szRelationship`, ordered by `icolumn`, with `ccolumn` = n).
    * `grbit` uses the public DAO dbRelation* bits. */
  final case class JetRelationshipRow(
      name: String,
      table: String,
      column: String,
      refTable: String,
      refColumn: String,
      icolumn: Int,
      ccolumn: Int,
      grbit: Int) {
    def updateCascade: Boolean = (grbit & 0x100) != 0 // dbRelationUpdateCascade
    def deleteCascade: Boolean = (grbit & 0x1000) != 0 // dbRelationDeleteCascade
    def enforced: Boolean = (grbit & 0x2) == 0 // !dbRelationDontEnforce
  }

  /** The database's referential-integrity catalog: every
    * MSysRelationships row, or empty when the system table is absent
    * (a database with no relationships). Driver-side: the table holds
    * one row per FK column pair — catalog-sized, never data-sized. */
  def relationships(path: String): Seq[JetRelationshipRow] = {
    val (cat, count, jet3, dbKey) = catalogOf(path)
    // Jet3 text columns decode fine through Jet3Format, but this
    // repo's writer emits relationships only into Jet4 files; the
    // dispatch below keeps the read honest for both
    cat.find(e => e.name.equalsIgnoreCase("MSysRelationships")) match {
      case None => Nil
      case Some(entry) =>
        val in = openDb(path, jet3, dbKey)
        val ps = if (jet3) Jet3Format.PageSize else PageSize
        try {
          val tdef =
            if (jet3)
              Jet3Format.parseTdefChained(
                entry.tdefPage, readPage(in, _, ps))
            else parseTdefChained(
              entry.tdefPage, readPage(in, _, ps))
          def idx(n: String): Int = {
            val i = tdef.columns.indexWhere(_.name.equalsIgnoreCase(n))
            require(i >= 0,
              s"jetmdb: MSysRelationships lacks column '$n'")
            i
          }
          val (iName, iObj, iCol, iRefObj, iRefCol, iIc, iCc, iGr) =
            (idx("szRelationship"), idx("szObject"), idx("szColumn"),
              idx("szReferencedObject"), idx("szReferencedColumn"),
              idx("icolumn"), idx("ccolumn"), idx("grbit"))
          var lvalNum = -1
          var lvalPage: Array[Byte] = null
          val lval: Int => Array[Byte] = { n =>
            if (n != lvalNum) { lvalPage = readPage(in, n, ps); lvalNum = n }
            lvalPage
          }
          def asInt(v: Any): Int = v match {
            case i: Integer => i.intValue()
            case s: java.lang.Short => s.intValue()
            case other => String.valueOf(other).toInt
          }
          (1 until count).flatMap { pn =>
            val page = readPage(in, pn, ps)
            val extents =
              if (jet3) Jet3Format.dataRowExtents(page, entry.tdefPage)
              else dataRowExtents(page, entry.tdefPage)
            extents.map { case (s, e) =>
              val row =
                if (jet3) Jet3Format.decodeRow(page, s, e, tdef, lval)
                else decodeRow(page, s, e, tdef, lval)
              JetRelationshipRow(
                String.valueOf(row(iName)), String.valueOf(row(iObj)),
                String.valueOf(row(iCol)), String.valueOf(row(iRefObj)),
                String.valueOf(row(iRefCol)),
                asInt(row(iIc)), asInt(row(iCc)), asInt(row(iGr)))
            }
          }.sortBy(r => (r.name, r.icolumn))
        } finally in.close()
    }
  }
}

private[jetmdb] final case class JetMdbTable(
    path: String, table: String, tableSchema: StructType)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"jetmdb:$path#$table"
  override def schema(): StructType = tableSchema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new JetMdbScanBuilder(path, table, tableSchema)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new JetMdbWriteBuilder(path, info)
}

private[jetmdb] final class JetMdbScanBuilder(
    path: String, table: String, fullSchema: StructType)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(fullSchema.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(JetCsvFilters.supported)
    filters // all residual: reader evaluation is an optimization only
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    JetMdbScan(path, table, fullSchema, required, pushed)
}

private[jetmdb] final case class JetMdbScan(
    path: String,
    table: String,
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter]) extends Scan with Batch {

  /** Pages per input partition: 1024 pages = 4 MiB of Jet file — big
    * enough to amortize the open, small enough to split a full-size
    * (2 GB = 512k page) file across ~512 tasks. */
  private val PagesPerSplit = 1024

  override def readSchema(): StructType = required

  override def description(): String =
    s"jetmdb $path#$table, PushedFilters: " +
      filters.mkString("[", ", ", "]")

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val (tdef, _, _, pageCount, jet3, complexFlat, dbKey) =
      JetMdbSource.tableDefFull(path, table)
    // partition 0 starts at page 1 (page 0 is the header)
    (1 until pageCount by PagesPerSplit).map { start =>
      JetMdbInputPartition(
        start, math.min(start + PagesPerSplit, pageCount),
        tdef.tdefPage, jet3, pageCount, complexFlat,
        dbKey): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    JetMdbReaderFactory(path, table, required, filters,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration))
}

private[jetmdb] final case class JetMdbInputPartition(
    fromPage: Int, untilPage: Int, tdefPage: Int,
    jet3: Boolean,
    // whole-file page count + COMPLEX column → flat TDEF page: the
    // flat side table's rows live anywhere in the file, not inside
    // this partition's page range, so the index build needs both
    pageCount: Int,
    complexFlat: Map[String, Int],
    // RC4 page-scramble key (r14); 0 = plaintext. Carried in the
    // partition so executors never re-derive it from the header
    dbKey: Int) extends InputPartition

private[jetmdb] final case class JetMdbReaderFactory(
    path: String,
    table: String,
    required: StructType,
    filters: Array[Filter],
    conf: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[JetMdbInputPartition]
    new JetMdbPartitionReader(path, p, required, filters, conf.value)
  }
}

private[jetmdb] final class JetMdbPartitionReader(
    path: String,
    part: JetMdbInputPartition,
    required: StructType,
    filters: Array[Filter],
    hconf: org.apache.hadoop.conf.Configuration)
  extends PartitionReader[InternalRow] {

  private val pageSize =
    if (part.jet3) Jet3Format.PageSize else PageSize

  private val in = JetCrypt.open(
    new Path(path).getFileSystem(hconf), path, part.dbKey, pageSize)

  // TDEF re-read on the executor (one page) — keeps the partition
  // descriptor serializable-trivial, mirroring jetcsv's sidecar.
  // Initialization after the stream is open must not LEAK it: a
  // corrupt TDEF would throw before Spark ever holds a reader to
  // close(), and each failed task attempt would strand a descriptor.
  private val (tdef, colIdx, colType, wanted, complexMaps) =
    try {
      val t =
        if (part.jet3)
          Jet3Format.parseTdefChained(part.tdefPage,
            JetMdbSource.readPage(in, _, pageSize))
        else parseTdefChained(part.tdefPage,
          JetMdbSource.readPage(in, _, pageSize))
      val jetTypes = t.jetTypes.toMap
      val idx: Array[Int] =
        required.fieldNames.map(n => t.columns.indexWhere(_.name == n))
      val typ: Array[JetTypes.JetType] = required.fieldNames.map(jetTypes)
      // decode-time pruning mask: unwanted columns are never decoded
      // (for MEMO/OLE that skips their LVAL page I/O entirely)
      val w = new Array[Boolean](t.columns.length)
      idx.foreach(i => if (i >= 0) w(i) = true)
      // COMPLEX columns (r13): a REQUIRED complex column gets its
      // flat-table index (complex-value key → array of payload
      // structs) — executor-cached, so the per-partition cost is one
      // map lookup. Pruned-away complex columns cost nothing.
      val cm = new Array[Map[Int,
        org.apache.spark.sql.catalyst.util.GenericArrayData]](idx.length)
      var ci = 0
      while (ci < idx.length) {
        val name = required.fieldNames(ci)
        if (idx(ci) >= 0 && part.complexFlat.contains(name))
          cm(ci) = JetMdbSource.complexIndexOf(
            path, hconf, part.complexFlat(name), part.pageCount,
            part.dbKey)
        ci += 1
      }
      (t, idx, typ, w, cm)
    } catch {
      case e: Throwable =>
        try in.close() catch { case _: Throwable => () }
        throw e
    }
  private val evals = filters.map(JetCsvFilters.compile(_, required))

  private var pageNum = part.fromPage
  private var rows: Iterator[(Int, Int)] = Iterator.empty
  private var page: Array[Byte] = _
  private var current: GenericInternalRow = _

  // memo/OLE LVAL indirection: payload pages cluster near the rows
  // that point at them, so a tiny most-recent cache absorbs the
  // repeated fetches without holding the file in memory
  private var lvalCachedNum = -1
  private var lvalCachedPage: Array[Byte] = _
  private val lvalFetch: Int => Array[Byte] = { n =>
    if (n != lvalCachedNum) {
      lvalCachedPage = JetMdbSource.readPage(in, n, pageSize)
      lvalCachedNum = n
    }
    lvalCachedPage
  }

  override def next(): Boolean = {
    current = null
    while (current == null) {
      if (!rows.hasNext) {
        if (pageNum >= part.untilPage) return false
        page = JetMdbSource.readPage(in, pageNum, pageSize)
        rows =
          (if (part.jet3) Jet3Format.dataRowExtents(page, part.tdefPage)
           else dataRowExtents(page, part.tdefPage)).iterator
        pageNum += 1
      } else {
        val (s, e) = rows.next()
        val decoded =
          if (part.jet3)
            Jet3Format.decodeRow(page, s, e, tdef, lvalFetch, wanted)
          else decodeRow(page, s, e, tdef, lvalFetch, wanted)
        val values = new Array[Any](colIdx.length)
        var i = 0
        while (i < colIdx.length) {
          values(i) =
            if (complexMaps(i) != null) {
              // complex column: the decoded value is the u32 key;
              // a NULL key is a null column, a key with no child
              // rows is an EMPTY array (an attachment field whose
              // attachments were all removed keeps its key)
              val fk = decoded(colIdx(i))
              if (fk == null) null
              else complexMaps(i).getOrElse(
                fk.asInstanceOf[Integer].intValue(),
                JetMdbPartitionReader.EmptyArray)
            } else
              JetMdbSource.toCatalystValue(decoded(colIdx(i)), colType(i))
          i += 1
        }
        if (evals.forall(_(values)))
          current = new GenericInternalRow(values)
      }
    }
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = in.close()
}

private[jetmdb] object JetMdbPartitionReader {
  /** Shared empty array value for complex keys with no child rows. */
  val EmptyArray =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.empty[Any])
}
