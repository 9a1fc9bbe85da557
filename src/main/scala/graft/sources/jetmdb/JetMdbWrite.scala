package graft.sources.jetmdb

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.sources.jetmdb.JetMdbFormat._

/** Write side of the jetmdb source: `df.write.format("jetmdb")
  * .option("table", "t").save("/out/db.mdb")` produces a valid Jet4
  * database; `mode("append")` ADDS a table to an existing database
  * (catalog page rebuilt, relationships folded into the existing
  * MSysRelationships), so multi-table `.mdb` files — real FK pairs
  * included — build incrementally, one table per write.
  * `.option("version", "jet3")` writes the Access-97 format instead
  * through the same code over [[JetLayout.Jet3]] (2048-byte pages,
  * CP1252 text, 255-byte rows; [[Jet3Write]] holds its type profile
  * and honest scope rejections); a version/file mismatch on append
  * fails loudly in either direction.
  *
  * Topology: a `.mdb` is a SINGLE file with an internal catalog, so
  * the two-phase commit stages per-task ROW BLOBS (a trivial
  * `[u16 len][encoded row]*` stream — encoding is the parallel part),
  * and the driver's commit streams the staged blobs into pages and
  * writes `<file>.staging-<uuid>` before an atomic rename. Driver
  * memory stays O(page); driver I/O is O(data), which is the format's
  * own constraint — Jet caps a database at 2 GB, so this sink is for
  * interchange/export of bounded tables (the Access side of a
  * migration), never the 100 TB path (that's parquet/JDBC).
  *
  * Pages follow the same public layout notes as [[JetMdbFormat]], at
  * the offsets of the target's [[JetLayout]]: header, usage
  * placeholder, MSysObjects TDEF + data, table TDEF, data pages.
  * Rows must fit one page (Jet's own rule) — oversize
  * rows fail with the column to shorten; BIGINT fails at plan time
  * for Jet4 targets (Jet has no 64-bit integer) and writes as the
  * ACE Large Number under `.option("version", "ace")`, which emits
  * an `.accdb` header (ACE magic, version 0x02) over the same page
  * layout (r12).
  */
object JetMdbWrite {

  /** Spark type → Jet column code (plan-time total-or-throw).
    * `memoCols` routes named string columns to MEMO instead of TEXT
    * (the write is inline-only: payloads share the row's page, so a
    * value caps at ~4000 bytes — the READER additionally understands
    * single-page LVAL indirection produced by real Jet writers). */
  def jetCode(
      f: StructField, memoCols: Set[String] = Set.empty,
      ace: Boolean = false,
      datextCols: Set[String] = Set.empty): Int =
    f.dataType match {
      case BooleanType => T_BOOL
      case ShortType => T_INT
      case IntegerType => T_LONG
      case FloatType => T_FLOAT
      case DoubleType => T_DOUBLE
      case d: DecimalType if d.precision == 19 && d.scale == 4 => T_MONEY
      case d: DecimalType if d.precision <= 28 => T_NUMERIC
      case d: DecimalType => throw new IllegalArgumentException(
        s"jetmdb: column ${f.name}: DECIMAL(${d.precision},${d.scale}) " +
          "exceeds Jet NUMERIC's 28-digit precision")
      case TimestampType | TimestampNTZType =>
        // datextColumns routes named timestamp columns to ACE
        // Date/Time Extended (r13): 100 ns field, year 1-9999 — the
        // classic OLE double loses sub-ms precision far from 1899
        if (datextCols.contains(f.name)) T_DATEXT else T_DATETIME
      case StringType =>
        if (memoCols.contains(f.name)) T_MEMO else T_TEXT
      case BinaryType => T_OLE
      // ACE 2016 Large Number: a plain le int64 column (r12) — only
      // the .accdb header family carries the type, so Jet4 writes
      // keep the loud rejection below
      case LongType if ace => T_BIGINT
      case LongType => throw new IllegalArgumentException(
        s"jetmdb: column ${f.name}: Jet4 has no 64-bit integer — " +
          "cast BIGINT to INT or DOUBLE, or write an ACE file with " +
          ".option(\"version\", \"ace\") (Large Number)")
      // ACE COMPLEX write (r13): an array<struct<...>> column becomes
      // an attachment/multi-valued field — the main table stores a
      // u32 complex-value key, the elements land in a hidden flat
      // side table linked through MSysComplexColumns (the exact
      // layout the r13 reader resolves). ACE files only: the complex
      // machinery postdates Jet4.
      case at: ArrayType if at.elementType.isInstanceOf[StructType] =>
        if (ace) T_COMPLEX
        else throw new IllegalArgumentException(
          s"jetmdb: column ${f.name}: array<struct> is an ACE " +
            "complex (attachment/multi-valued) column — write an " +
            ".accdb with .option(\"version\", \"ace\"); Jet4 has no " +
            "rendering")
      // a SIMPLE multi-valued field (array<scalar>) is the same ACE
      // complex machinery with a one-column payload the writer wraps
      // AUTOMATICALLY as the single "Value" column Access itself
      // uses (r14 — the r13 writer instructed users to named_struct
      // it by hand); the reader unwraps single-Value payloads back
      // to array<scalar>, so the round trip is identity
      case at: ArrayType if !at.elementType.isInstanceOf[ArrayType] &&
          !at.elementType.isInstanceOf[MapType] =>
        if (ace) T_COMPLEX
        else throw new IllegalArgumentException(
          s"jetmdb: column ${f.name}: " +
            s"array<${at.elementType.simpleString}> is an ACE " +
            "multi-valued column — write an .accdb with " +
            ".option(\"version\", \"ace\"); Jet4 has no rendering")
      case at: ArrayType => throw new IllegalArgumentException(
        s"jetmdb: column ${f.name}: " +
          s"array<${at.elementType.simpleString}> has no Jet " +
          "rendering (complex payloads are flat scalar columns — " +
          "nested arrays/maps need the parquet sink)")
      case other => throw new IllegalArgumentException(
        s"jetmdb: column ${f.name}: $other has no Jet rendering " +
          "(map/struct need the parquet sink; array<struct> of " +
          "scalars writes as an ACE complex column)")
    }

  /** Hidden flat side table behind an ACE COMPLEX column: name,
    * schema and codes — `pk` (AutoNumber bookkeeping, preserves
    * element order on read), `fk` (the type-0x12 complex-value key),
    * then the element struct's fields as the payload. Mirrors what
    * [[graft.sources.jetmdb.JetMdbFormat.complexPayloadCols]]
    * reconstructs on read. */
  def complexFlatSpec(table: String, f: StructField, ace: Boolean)
      : (String, StructType, Array[Int]) = {
    val elem = f.dataType.asInstanceOf[ArrayType].elementType match {
      case st: StructType => st
      // array<scalar> (r14): Access's simple multi-valued field IS a
      // one-column complex table whose payload column is literally
      // named "Value" — wrap automatically; the reader unwraps the
      // same shape back to array<scalar>
      case scalar => StructType(Seq(
        StructField("Value", scalar, nullable = true)))
    }
    require(!elem.fieldNames.exists(n => n == "pk" || n == "fk"),
      s"jetmdb: complex column ${f.name}: element fields named " +
        "pk/fk collide with the flat table's bookkeeping columns")
    val codes = Array(T_LONG, T_COMPLEX) ++
      elem.fields.map(jetCode(_, Set.empty, ace))
    require(!codes.drop(2).contains(T_COMPLEX),
      s"jetmdb: complex column ${f.name}: nested complex elements " +
        "have no Jet rendering — flatten the inner array first")
    val flatSchema = StructType(
      StructField("pk", IntegerType) +: StructField("fk", IntegerType)
        +: elem.fields.toSeq)
    (s"${table}_${f.name}_flat", flatSchema, codes)
  }

  private def isVarCode(c: Int): Boolean =
    c == T_TEXT || c == T_MEMO || c == T_OLE

  /** Little-endian unsigned `v` in `width` (1 or 2) bytes at `off`. */
  private def putUw(p: Array[Byte], off: Int, v: Int, width: Int): Unit = {
    p(off) = v.toByte
    if (width == 2) p(off + 1) = (v >> 8).toByte
  }

  /** The (Id, Type, Name) MSysObjects profile this writer maintains. */
  private[jetmdb] val SysSchema = StructType(Seq(
    StructField("Id", IntegerType), StructField("Type", ShortType),
    StructField("Name", StringType)))
  private[jetmdb] val SysCodes = Array(T_LONG, T_INT, T_TEXT)

  /** Text value bytes: plain UTF-16LE — EXCEPT strings whose first
    * char is U+FEFF (a BOM lifted from UTF-8-with-BOM sources), whose
    * plain encoding would START with FF FE, the Jet Unicode-compression
    * marker, and read back corrupted. Those strings are written in the
    * compressed representation instead, which expresses every char
    * (wide runs toggle via 00 / 00 00) except NUL — a NUL in such a
    * string is rejected, never misparsed. */
  private[jetmdb] def encodeText(s: String): Array[Byte] = {
    if (s.isEmpty || s.charAt(0) != '\uFEFF')
      s.getBytes(StandardCharsets.UTF_16LE)
    else {
      require(s.indexOf('\u0000') < 0,
        "jetmdb: NUL inside a compression-marker-prefixed text value " +
          "has no Jet rendering")
      val out = new java.io.ByteArrayOutputStream(2 * s.length + 2)
      out.write(0xFF); out.write(0xFE)
      var wide = false
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c >= 1 && c <= 0xFF) {
          if (wide) { out.write(0); out.write(0); wide = false }
          out.write(c & 0xFF)
        } else {
          if (!wide) { out.write(0); wide = true }
          out.write(c & 0xFF); out.write((c >> 8) & 0xFF)
        }
        i += 1
      }
      out.toByteArray
    }
  }

  /** Inline memo/OLE rendering: 12-byte header (low 24 bits length,
    * byte 3 = inline flag) followed by the payload. */
  private def inlineMemo(payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](12 + payload.length)
    val b = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(0, payload.length | (JetMdbFormat.MemoInline << 24))
    System.arraycopy(payload, 0, out, 12, payload.length)
    out
  }

  def fixedLen(code: Int): Int = code match {
    case T_BOOL => 0
    case T_INT => 2
    case T_LONG => 4
    case T_MONEY => 8
    case T_FLOAT => 4
    case T_DOUBLE => 8
    case T_DATETIME => 8
    case T_BIGINT => 8 // ACE Large Number (r12)
    case T_COMPLEX => 4 // ACE complex-value key (r13)
    case T_DATEXT => JetMdbFormat.ExtDateLen // 42-byte ASCII (r13)
    case T_NUMERIC => 17
    case _ => 0
  }

  /** Encode one InternalRow per `l`'s row layout (the inverse of
    * [[JetMdbFormat.decodeRow]]): column count, fixed region in
    * declaration order, var data, ascending var-offset table + var
    * count, null bitmask last. */
  def encodeRow(
      l: JetLayout, row: InternalRow, schema: StructType,
      codes: Array[Int]): Array[Byte] = {
    val w = l.rowIntWidth
    val nCols = codes.length
    val bitmaskSz = (nCols + 7) / 8
    val fixedTotal = codes.map(fixedLen).sum
    val varIdxs = codes.indices.filter(i => isVarCode(codes(i)))
    def text(i: Int) =
      l.encodeText(row.getUTF8String(i).toString, schema(i).name)
    val varBytes: Seq[Array[Byte]] = varIdxs.map { i =>
      if (row.isNullAt(i)) Array.emptyByteArray
      else codes(i) match {
        case T_TEXT => text(i)
        case T_MEMO => inlineMemo(text(i))
        case T_OLE => inlineMemo(row.getBinary(i))
      }
    }
    val varTotal = varBytes.map(_.length).sum
    val hasVar = varIdxs.nonEmpty
    val total = w + fixedTotal + varTotal +
      (if (hasVar) w * (varIdxs.length + 2) else 0) + bitmaskSz
    if (total > l.maxRowBytes)
      throw new java.io.IOException(
        s"${l.prefix}: row of $total bytes exceeds the $l page " +
          s"capacity for one row (${l.maxRowBytes}); shorten text " +
          "columns " + varIdxs.map(schema(_).name).mkString("(", ", ", ")"))
    val r = new Array[Byte](total)
    val b = ByteBuffer.wrap(r).order(ByteOrder.LITTLE_ENDIAN)
    putUw(r, 0, nCols, w)
    val mask = new Array[Byte](bitmaskSz)
    def setBit(i: Int): Unit =
      mask(i / 8) = (mask(i / 8) | (1 << (i % 8))).toByte
    var off = w
    var i = 0
    while (i < nCols) {
      val code = codes(i)
      if (code == T_BOOL) {
        // bool can't be null in Jet: null writes as false
        if (!row.isNullAt(i) && row.getBoolean(i)) setBit(i)
      } else if (!isVarCode(code)) {
        if (!row.isNullAt(i)) {
          setBit(i)
          code match {
            case T_INT => b.putShort(off, row.getShort(i))
            case T_LONG => b.putInt(off, row.getInt(i))
            // the writer substitutes the assigned u32 key for the
            // array value before encoding (r13)
            case T_COMPLEX => b.putInt(off, row.getInt(i))
            case T_BIGINT => b.putLong(off, row.getLong(i))
            case T_MONEY => b.putLong(off,
              row.getDecimal(i, 19, 4).toJavaBigDecimal
                .movePointRight(4).longValueExact())
            case T_NUMERIC =>
              // the read profile's inverse: sign 0x80 = negative,
              // 16-byte big-endian mantissa right-aligned
              val dt = schema(i).dataType.asInstanceOf[DecimalType]
              val bd = row.getDecimal(i, dt.precision, dt.scale)
                .toJavaBigDecimal.setScale(dt.scale)
              val unscaled = bd.unscaledValue
              val mag = unscaled.abs.toByteArray
              val magOff = if (mag.length > 0 && mag(0) == 0) 1 else 0
              val magLen = mag.length - magOff
              if (magLen > 16)
                throw new java.io.IOException(
                  s"jetmdb: NUMERIC value $bd exceeds the 16-byte " +
                    "mantissa")
              r(off) = if (unscaled.signum < 0) 0x80.toByte else 0x00
              System.arraycopy(mag, magOff, r,
                off + 1 + (16 - magLen), magLen)
            case T_FLOAT => b.putFloat(off, row.getFloat(i))
            case T_DOUBLE => b.putDouble(off, row.getDouble(i))
            case T_DATETIME =>
              b.putDouble(off, microsToOleDate(row.getLong(i)))
            case T_DATEXT =>
              // the read profile's inverse (JetMdbFormat
              // .extDateToMicros): 9-digit days since 0001-01-01,
              // ':', 5-digit seconds-in-day, ':', 7 digits of 100 ns
              // units, 19 zero bytes of undecoded tail
              val micros = row.getLong(i)
              val epochDay = Math.floorDiv(micros, 86400000000L)
              val rem = Math.floorMod(micros, 86400000000L)
              val s42 = f"${epochDay + 719162L}%09d:" +
                f"${rem / 1000000L}%05d:${(rem % 1000000L) * 10L}%07d"
              val ab = s42.getBytes(StandardCharsets.US_ASCII)
              System.arraycopy(ab, 0, r, off, ab.length)
          }
        }
        off += fixedLen(code)
      }
      i += 1
    }
    // var data + ascending offset table + count
    var vOff = w + fixedTotal
    val varOffsets = new Array[Int](varIdxs.length + 1)
    varIdxs.zipWithIndex.foreach { case (ci, vi) =>
      varOffsets(vi) = vOff
      val bytes = varBytes(vi)
      System.arraycopy(bytes, 0, r, vOff, bytes.length)
      vOff += bytes.length
      if (!row.isNullAt(ci)) setBit(ci)
    }
    val tail = total - bitmaskSz
    if (hasVar) {
      varOffsets(varIdxs.length) = vOff
      putUw(r, tail - w, varIdxs.length, w)
      val tabOff = tail - w * (varIdxs.length + 2)
      varOffsets.zipWithIndex.foreach { case (o, k) =>
        putUw(r, tabOff + w * k, o, w)
      }
    }
    System.arraycopy(mask, 0, r, tail, bitmaskSz)
    r
  }

  /** TDEF page for `schema` at `tdefPage` (same layout the reader
    * parses; colNum = declaration index, offset_F by declaration
    * order over fixed columns, offset_V over var columns).
    * `indexes` adds the TDEF index section — one physical + one
    * logical entry per index, names last — per the public layout the
    * reader's parseTdef documents. No B-tree pages are emitted (first
    * index page = 0): the section carries the SCHEMA surface (`mdb-
    * schema`'s PRIMARY KEY / CREATE INDEX output), which is what a
    * migration consumes; Jet itself rebuilds trees on compact. */
  /** Single-page TDEF (callers that must stay single-page: the
      system tables). Wide schemas spill via [[tdefPages]]. */
  def tdefPage(
      l: JetLayout, schema: StructType, codes: Array[Int], numRows: Int,
      system: Boolean): Array[Byte] = {
    val buf = tdefBuffer(l, schema, codes, numRows, system, Nil, Set.empty)
    require(buf.length <= l.pageSize,
      s"${l.prefix}: schema too wide for a single TDEF page")
    buf
  }

  /** TDEF as head + continuation pages starting at `headPage` — the
    * multi-page chain the (r12) reader reassembles: head keeps its
    * first 4096 bytes with the next pointer patched at @4; each
    * continuation carries an 8-byte header (type 0x02, next @4) and
    * the following buffer slice. Single-page schemas come back as one
    * unmodified page. Wide DataFrames (Access allows 255 columns;
    * 25-byte descriptors + UCS-2 names overflow 4096 past ~110
    * columns) need this — the r11 writer rejected them. */
  def tdefPages(
      l: JetLayout, schema: StructType, codes: Array[Int], numRows: Int,
      system: Boolean, indexes: Seq[JetMdbFormat.JetIndex],
      autoNumbers: Set[String], headPage: Int): Seq[Array[Byte]] = {
    val ps = l.pageSize
    val buf = tdefBuffer(l, schema, codes, numRows, system, indexes,
      autoNumbers)
    if (buf.length <= ps) Seq(buf)
    else {
      val chunk = ps - 8
      val nCont = (buf.length - ps + chunk - 1) / chunk
      val head = java.util.Arrays.copyOfRange(buf, 0, ps)
      ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(4, headPage + 1)
      head +: (0 until nCont).map { k =>
        val pg = new Array[Byte](ps)
        pg(0) = 0x02; pg(1) = 0x01
        ByteBuffer.wrap(pg).order(ByteOrder.LITTLE_ENDIAN)
          .putInt(4, if (k == nCont - 1) 0 else headPage + 2 + k)
        val from = ps + k * chunk
        System.arraycopy(buf, from, pg, 8,
          math.min(chunk, buf.length - from))
        pg
      }
    }
  }

  private def tdefBuffer(
      l: JetLayout, schema: StructType, codes: Array[Int], numRows: Int,
      system: Boolean,
      indexes: Seq[JetMdbFormat.JetIndex],
      autoNumbers: Set[String]): Array[Byte] =
    try tdefBuffer0(l, schema, codes, numRows, system, indexes,
      autoNumbers)
    catch {
      // name/descriptor writes bound-check before the final require
      // can fire — surface the budget, not a raw AIOOBE (r12 review)
      case _: IndexOutOfBoundsException =>
        throw new IllegalArgumentException(
          s"${l.prefix}: TDEF (descriptors + column/index names) " +
            "exceeds the writer's 8-page budget — shorten column/index " +
            "names")
    }

  private def tdefBuffer0(
      l: JetLayout, schema: StructType, codes: Array[Int], numRows: Int,
      system: Boolean,
      indexes: Seq[JetMdbFormat.JetIndex],
      autoNumbers: Set[String]): Array[Byte] = {
    val p = new Array[Byte](l.pageSize * 8)
    val b = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
    p(0) = 0x02; p(1) = 0x01
    b.putInt(l.numRowsOff, numRows)
    p(l.tableTypeOff) = if (system) 0x53.toByte else 0x4e.toByte
    val nVar = codes.count(isVarCode)
    b.putShort(l.maxColsOff, codes.length.toShort)
    b.putShort(l.numVarColsOff, nVar.toShort)
    b.putShort(l.numColsOff, codes.length.toShort)
    b.putInt(l.numIdxOff, indexes.length) // logical
    b.putInt(l.numRealIdxOff, indexes.length) // physical
    // 8-byte per-real-index headers (zero) before the descriptors
    var off = l.colStart + indexes.length * 8
    var fOff = 0
    var vIdx = 0
    codes.zipWithIndex.foreach { case (code, i) =>
      p(off) = code.toByte
      b.putShort(off + l.descColNum, i.toShort)
      if (isVarCode(code)) {
        b.putShort(off + l.descOffV, vIdx.toShort); vIdx += 1
      }
      b.putShort(off + l.descColNum2, i.toShort)
      if (code == T_NUMERIC) {
        val dt = schema(i).dataType.asInstanceOf[DecimalType]
        p(off + l.descPrec) = dt.precision.toByte
        p(off + l.descPrec + 1) = dt.scale.toByte
      }
      val fixed = !isVarCode(code)
      val auto =
        if (autoNumbers.contains(schema(i).name)) 0x04 else 0x00
      p(off + l.descFlags) =
        ((if (fixed) 0x01 else 0x00) | 0x02 | auto).toByte
      if (fixed && code != T_BOOL) {
        b.putShort(off + l.descOffF, fOff.toShort)
        fOff += fixedLen(code)
      }
      b.putShort(off + l.descLen, fixedLen(code).toShort)
      off += l.descSize
    }
    // names: length prefix + the layout's name bytes
    val maxName = (1 << (8 * l.nameLenWidth)) - 1
    def putName(name: String): Unit = {
      val nb = l.encodeName(name)
      require(nb.length <= maxName,
        s"${l.prefix}: name '$name' longer than $maxName bytes")
      putUw(p, off, nb.length, l.nameLenWidth)
      System.arraycopy(nb, 0, p, off + l.nameLenWidth, nb.length)
      off += l.nameLenWidth + nb.length
    }
    schema.fieldNames.foreach(putName)
    // index section (the reader's parseTdef documents the layout):
    // physical entries, then logical entries, then names
    val colNumOf = schema.fieldNames.zipWithIndex.toMap
    indexes.foreach { ix =>
      require(ix.columns.nonEmpty && ix.columns.size <= 10,
        s"jetmdb: index '${ix.name}' must name 1..10 columns " +
          "(Jet's own slot limit)")
      off += 4 // unknown
      (0 until 10).foreach { slot =>
        if (slot < ix.columns.size) {
          val cn = colNumOf.getOrElse(ix.columns(slot),
            throw new IllegalArgumentException(
              s"jetmdb: index '${ix.name}' names unknown column " +
                s"'${ix.columns(slot)}'"))
          b.putShort(off + 3 * slot, cn.toShort)
          p(off + 3 * slot + 2) = 0x01 // ascending
        } else b.putShort(off + 3 * slot, 0xFFFF.toShort)
      }
      off += 30
      off += 4 // usage-map ptr (none)
      off += 4 // first index page (none — schema surface only)
      p(off) = (if (ix.unique || ix.primary) 0x01 else 0x00).toByte
      off += 1 + 9
    }
    indexes.zipWithIndex.foreach { case (ix, k) =>
      off += 4 // unknown
      b.putInt(off, k); off += 4 // index_num
      b.putInt(off, k); off += 4 // backing physical index
      off += 15 // relationship bookkeeping
      p(off) = (if (ix.primary) 0x01 else 0x00).toByte
      off += 1
    }
    indexes.foreach(ix => putName(ix.name))
    require(off <= p.length,
      s"${l.prefix}: TDEF exceeds ${p.length / l.pageSize} pages")
    // tdef_len @8: the documented logical length — external tooling
    // sizes multi-page TDEFs by it (r12 review; the reader follows
    // next pointers and checks it nowhere)
    b.putInt(8, off)
    // trim to the logical length (never below one page)
    java.util.Arrays.copyOfRange(p, 0, math.max(off, l.pageSize))
  }

  /** Parse the writer's `.option("indexes", …)` spec:
    * `name:col1+col2:pu;…` — flag chars `p` (primary) and `u`
    * (unique); the trailing flag field may be empty for a plain
    * index. */
  def parseIndexSpec(spec: String): Seq[JetMdbFormat.JetIndex] =
    spec.split(';').map(_.trim).filter(_.nonEmpty).toSeq.map { entry =>
      val parts = entry.split(':')
      require(parts.length == 2 || parts.length == 3,
        s"jetmdb: bad index spec '$entry' (want name:cols[:flags])")
      val flags = if (parts.length == 3) parts(2) else ""
      flags.foreach(c => require(c == 'p' || c == 'u',
        s"jetmdb: unknown index flag '$c' in '$entry'"))
      JetMdbFormat.JetIndex(
        parts(0),
        parts(1).split('+').map(_.trim).filter(_.nonEmpty).toSeq,
        unique = flags.contains('u') || flags.contains('p'),
        primary = flags.contains('p'))
    }

  /** Parse the writer's `.option("relationships", …)` spec:
    * `relName:colA+colB>RefTable.refA+refB:grbit;…` (grbit optional,
    * default 0 = enforced, no cascades). Yields MSysRelationships
    * rows — one per column pair, `icolumn` in declaration order. */
  def parseRelationshipSpec(spec: String)
      : Seq[(String, String, String, String, Int, Int, Int)] =
    spec.split(';').map(_.trim).filter(_.nonEmpty).toSeq.flatMap { entry =>
      val parts = entry.split(':')
      require(parts.length == 2 || parts.length == 3,
        s"jetmdb: bad relationship spec '$entry' " +
          "(want name:cols>RefTable.refCols[:grbit])")
      val grbit = if (parts.length == 3) parts(2).trim.toInt else 0
      val sides = parts(1).split('>')
      require(sides.length == 2,
        s"jetmdb: relationship '$entry' needs exactly one '>'")
      val (lhs, rhs) = (sides(0), sides(1))
      val cols = lhs.split('+').map(_.trim).filter(_.nonEmpty)
      val dot = rhs.lastIndexOf('.')
      require(dot > 0, s"jetmdb: relationship '$entry' needs RefTable.col")
      val refTable = rhs.substring(0, dot).trim
      val refCols =
        rhs.substring(dot + 1).split('+').map(_.trim).filter(_.nonEmpty)
      require(cols.length == refCols.length && cols.nonEmpty,
        s"jetmdb: relationship '$entry' column lists differ in length")
      cols.indices.map { i =>
        (parts(0), cols(i), refTable, refCols(i), i, cols.length, grbit)
      }
    }
}

private[jetmdb] final class JetMdbWriteBuilder(
    path: String, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {

  // Overwrite recreates the whole single-file database (Spark signals
  // it via truncate()); a plain append instead ADDS a user table to an
  // existing database — the multi-table construction path.
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val schema = info.schema()
      // version: jet4 (default), jet3 (Access 97), or ace (.accdb,
      // Access 2007+ — same page geometry as Jet4, ACE magic +
      // version byte 0x02, BIGINT Large Number columns allowed; r12)
      val version = Option(info.options.get("version"))
        .map(_.toLowerCase).getOrElse("jet4")
      require(version == "jet4" || version == "jet3" ||
        version == "ace",
        s"jetmdb: unknown version '$version' (jet4 | jet3 | ace)")
      val ace = version == "ace"
      val memoCols = Option(info.options.get("memocolumns"))
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty[String])
      memoCols.foreach(c => require(schema.fieldNames.contains(c),
        s"jetmdb: memoColumns names unknown column '$c'"))
      // datextColumns (r13): named TIMESTAMP columns write as ACE
      // Date/Time Extended (0x14) instead of the classic OLE double
      val datextCols = Option(info.options.get("datextcolumns"))
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty[String])
      datextCols.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"jetmdb: datextColumns names unknown column '$c'")
        require(ace,
          "jetmdb: datextColumns — Date/Time Extended is an ACE " +
            "(2019) type; write .option(\"version\", \"ace\")")
        val dt = schema(c).dataType
        require(dt == TimestampType || dt == TimestampNTZType,
          s"jetmdb: datextColumns column '$c' is not a timestamp")
      }
      // plan-time validation: the column codes, checked once here and
      // carried to every task and the commit
      val (layout, codes) =
        if (version == "jet3")
          (JetLayout.Jet3, Jet3Write.codes(schema, info.options, memoCols))
        else (JetLayout.Jet4, schema.fields.map(
          JetMdbWrite.jetCode(_, memoCols, ace, datextCols)))
      val table = info.options.getOrDefault("table", null)
      require(table != null,
        "jetmdb: .option(\"table\", <name>) is required to write")
      // Jet's own hard limit: 255 fields per table (all versions) —
      // without this the chained-TDEF writer would happily emit a
      // wide file real Access cannot open (r12 review)
      require(schema.fields.length <= 255,
        s"jetmdb: ${schema.fields.length} columns exceed Jet's " +
          "255-fields-per-table limit — split the table or use the " +
          "parquet/JDBC sink")
      // index/relationship metadata: parsed (and so validated) at
      // plan time, carried to the driver-side commit
      val indexes = Option(info.options.get("indexes"))
        .map(JetMdbWrite.parseIndexSpec).getOrElse(Nil)
      indexes.foreach(_.columns.foreach(c =>
        require(schema.fieldNames.contains(c),
          s"jetmdb: index names unknown column '$c'")))
      require(indexes.count(_.primary) <= 1,
        "jetmdb: a table has at most one primary key")
      val rels = Option(info.options.get("relationships"))
        .map(JetMdbWrite.parseRelationshipSpec).getOrElse(Nil)
      rels.foreach { case (_, c, _, _, _, _, _) =>
        require(schema.fieldNames.contains(c),
          s"jetmdb: relationship names unknown column '$c'")
      }
      val autoNums = Option(info.options.get("autonumber"))
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty[String])
      autoNums.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"jetmdb: autonumber names unknown column '$c'")
        require(schema(c).dataType == IntegerType,
          s"jetmdb: autonumber column '$c' must be LONG (IntegerType)")
      }
      JetMdbBatchWrite(path, table, schema, codes, indexes, rels,
        autoNums, overwrite, layout, ace,
        new SerializableConfiguration(SparkSession.active
          .sparkContext.hadoopConfiguration))
    }
  }
}

private[jetmdb] final case class JetMdbBatchWrite(
    path: String,
    table: String,
    schema: StructType,
    codes: Array[Int],
    indexes: Seq[JetMdbFormat.JetIndex],
    relationships: Seq[(String, String, String, String, Int, Int, Int)],
    autoNumbers: Set[String],
    overwrite: Boolean,
    layout: JetLayout,
    ace: Boolean,
    conf: SerializableConfiguration) extends BatchWrite {

  import JetMdbWrite.{SysCodes, SysSchema}

  private val stagingName = s".staging-${UUID.randomUUID().toString}"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    JetMdbWriterFactory(path, stagingName, schema, codes, layout, ace,
      conf)

  private val relSchema = StructType(Seq(
    StructField("ccolumn", IntegerType),
    StructField("grbit", IntegerType),
    StructField("icolumn", IntegerType),
    StructField("szColumn", StringType),
    StructField("szObject", StringType),
    StructField("szReferencedColumn", StringType),
    StructField("szReferencedObject", StringType),
    StructField("szRelationship", StringType)))
  private val relCodes =
    Array(T_LONG, T_LONG, T_LONG, T_TEXT, T_TEXT, T_TEXT, T_TEXT, T_TEXT)

  private def relRowBytes(): Seq[Array[Byte]] = {
    import org.apache.spark.sql.catalyst.{InternalRow => IRow}
    import org.apache.spark.unsafe.types.UTF8String
    relationships.map {
      case (name, col, refTable, refCol, icol, ccol, grbit) =>
        JetMdbWrite.encodeRow(layout,
          IRow(ccol, grbit, icol, UTF8String.fromString(col),
            UTF8String.fromString(table),
            UTF8String.fromString(refCol),
            UTF8String.fromString(refTable),
            UTF8String.fromString(name)),
          relSchema, relCodes)
    }
  }

  private def pack(rows: Iterator[Array[Byte]], owner: Int) =
    JetMdbPagePacker.pack(layout, rows, owner)

  /** Stream staged row blobs into Jet pages; O(page) memory for the
    * fresh (overwrite) path; the append path additionally holds the
    * EXISTING file's pages (bounded by Jet's own 2 GB format cap —
    * this sink is interchange-scale by contract). */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    val parent = new Path(path).getParent
    val staging = new Path(parent, stagingName)
    val parts = messages.collect {
      case m: JetMdbCommit if m.file != null => m
    }
    val numRows = parts.map(_.rows).sum
    val tmpOut = new Path(parent, s"$stagingName.mdb")
    val out = fs.create(tmpOut, true)
    var pageCount = 0
    def writePage(p: Array[Byte]): Unit = {
      if (pageCount >= layout.maxPages)
        throw new java.io.IOException(
          s"${layout.prefix}: output exceeds $layout's " +
            s"${layout.maxFileBytes >> 30} GB database cap — this sink " +
            "is for bounded interchange tables (use parquet/JDBC)")
      out.write(p); pageCount += 1
    }
    val appending = !overwrite && fs.exists(new Path(path))
    try {
      if (appending)
        appendPages(fs, staging, parts, numRows, writePage)
      else freshPages(fs, staging, parts, numRows, writePage)
    } finally out.close()
    if (fs.exists(new Path(path)) && !fs.delete(new Path(path), false))
      throw new java.io.IOException(s"jetmdb: cannot replace $path")
    if (!fs.rename(tmpOut, new Path(path)))
      throw new java.io.IOException(
        s"jetmdb commit: failed to move $tmpOut to $path")
    fs.delete(staging, true)
  }

  /** APPEND path — multi-table `.mdb` construction: copy the existing
    * database's pages (read in order through one open stream), add
    * the new table's TDEF (+ index section) and data pages, rebuild
    * the single catalog data page with the new entries, and fold any
    * declared relationships into the existing MSysRelationships (new
    * data pages under its existing TDEF owner — the reader's extent
    * walk discovers them by owner, so nothing already on disk moves).
    * The file must be of the requested version; a same-named table is
    * rejected, never replaced. */
  private def appendPages(
      fs: org.apache.hadoop.fs.FileSystem, staging: Path,
      parts: Array[JetMdbCommit], numRows: Long,
      writePage: Array[Byte] => Unit): Unit = {
    import org.apache.spark.sql.catalyst.{InternalRow => IRow}
    import org.apache.spark.unsafe.types.UTF8String
    val pre = s"${layout.prefix} append"
    // complex columns write fresh files only (r13): appending would
    // have to fold flat tables into an existing MSysComplexColumns
    // and re-home its data page — honest rejection over a half-built
    // catalog
    require(!codes.contains(JetMdbFormat.T_COMPLEX),
      "jetmdb: append with an ACE complex (array<struct>) column is " +
        "unsupported — write the table to a fresh .accdb " +
        "(mode(\"overwrite\"))")
    val st = fs.getFileStatus(new Path(path))
    require(st.getLen % layout.pageSize == 0,
      s"$pre: $path is not ${layout.pageSize}-byte-page-aligned " +
        s"(${st.getLen} bytes)")
    val pages = {
      val in = fs.open(new Path(path))
      try Array.tabulate((st.getLen / layout.pageSize).toInt)(
        JetMdbSource.readPage(in, _, layout.pageSize))
      finally in.close()
    }
    val oldCount = pages.length
    // the requested version must MATCH the file on disk: appending
    // Jet4-declared tables into an .accdb (or vice versa) would leave
    // a file whose new columns lie about their format family (r12)
    val onDisk = JetLayout.of(pages(0))
    require(onDisk == layout,
      s"$pre: target is not a $layout database (it is $onDisk) — " +
        "append with the version the file was written with")
    require(JetMdbFormat.isAce(pages(0)) == ace,
      if (ace)
        "jetmdb append: .option(\"version\", \"ace\") targets a " +
          "Jet4 file — drop the option, or overwrite"
      else
        "jetmdb append: target is an ACE (.accdb) file — append " +
          "with .option(\"version\", \"ace\")")
    // an RC4-scrambled target (r14: readable since JetCrypt) must
    // reject HERE: this path copies and splices pages in the clear,
    // so appending would interleave plaintext pages into a scrambled
    // file — corrupt for every other reader. Named rejection, not
    // the misleading noise-parse diagnostic (r14 review: the read
    // path's "retried automatically" hint is false for appends).
    val sysTdef =
      try parseTdefChained(layout, 2, pages(_))
      catch {
        case e: RuntimeException
            if JetCrypt.candidateKey(pages(0), layout) != 0 =>
          throw new UnsupportedOperationException(
            s"$pre: the target file is RC4-page-scrambled " +
              "(encrypted) — appending would interleave plaintext " +
              "pages; read it and overwrite to a fresh file instead",
            e)
      }
    require(sysTdef.columns.map(c => (c.name, c.typeCode)) == Seq(
      ("Id", T_LONG), ("Type", T_INT), ("Name", T_TEXT)),
      s"$pre: page-2 catalog TDEF is not the (Id, Type, Name) " +
        "profile this writer maintains")
    // existing catalog rows + the single catalog data page they live on
    var catPageNum = -1
    val oldCat = (1 until oldCount).flatMap { pn =>
      val extents = dataRowExtents(layout, pages(pn), 2)
      if (extents.nonEmpty) {
        require(catPageNum == -1 || catPageNum == pn,
          s"$pre: multi-page catalogs are out of this writer's " +
            "single-page discipline")
        catPageNum = pn
      }
      extents.map { case (rs, re) =>
        val row = decodeRow(layout, pages(pn), rs, re, sysTdef)
        (row(0).asInstanceOf[Integer].intValue(),
          row(1).asInstanceOf[Short].toInt,
          String.valueOf(row(2)))
      }
    }
    require(catPageNum > 0, s"$pre: no catalog data page found")
    require(!oldCat.exists(_._3.equalsIgnoreCase(table)),
      s"$pre: table '$table' already exists in $path " +
        "(append adds tables, never replaces — overwrite mode rewrites " +
        "the database)")
    val existingRelTdef = oldCat
      .find(_._3.equalsIgnoreCase("MSysRelationships")).map(_._1)
    val newTdefPage = oldCount
    // wide schemas chain TDEF continuation pages behind the head
    // (r12) — the rel TDEF page shifts past the whole chain
    val newTableTdef = JetMdbWrite.tdefPages(layout, schema, codes,
      math.min(numRows, Int.MaxValue.toLong).toInt, system = false,
      indexes, autoNumbers, headPage = newTdefPage)
    // a fresh MSysRelationships TDEF lands right after the new table's
    // TDEF chain when relationships are declared and none exists yet
    val newRelTdefPage =
      if (relationships.nonEmpty && existingRelTdef.isEmpty)
        Some(newTdefPage + newTableTdef.length)
      else None
    val catRows = (oldCat.map { case (id, tp, nm) =>
      IRow(id, tp.toShort, UTF8String.fromString(nm))
    } :+ IRow(newTdefPage, 1.toShort, UTF8String.fromString(table))) ++
      newRelTdefPage.map(rp =>
        IRow(rp, 3.toShort, UTF8String.fromString("MSysRelationships")))
    val newCatPages = pack(catRows.map(
      JetMdbWrite.encodeRow(layout, _, SysSchema, SysCodes)).iterator,
      2).toSeq
    require(newCatPages.size == 1,
      s"$pre: catalog no longer fits its single page — the database " +
        "has reached this writer's table-count capacity")
    // MSysObjects TDEF row count goes stale on page 2 — patch it, and
    // the existing MSysRelationships TDEF's count when rows fold in
    def patchRows(pn: Int, rows: Int): Unit = {
      val pg = pages(pn).clone()
      ByteBuffer.wrap(pg).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(layout.numRowsOff, rows)
      pages(pn) = pg
    }
    patchRows(2, catRows.size)
    if (relationships.nonEmpty)
      existingRelTdef.foreach(rp => patchRows(rp,
        i32(pages(rp), layout.numRowsOff) + relationships.size))
    // emit: existing pages (catalog page swapped), new table TDEF,
    // optional new rel TDEF, new rel data pages, new table data pages
    pages(catPageNum) = newCatPages.head
    pages.foreach(writePage)
    newTableTdef.foreach(writePage)
    newRelTdefPage.foreach { _ =>
      writePage(JetMdbWrite.tdefPage(layout, relSchema, relCodes,
        relationships.size, system = true))
    }
    if (relationships.nonEmpty) {
      val owner = existingRelTdef.orElse(newRelTdefPage).get
      pack(relRowBytes().iterator, owner).foreach(writePage)
    }
    val blobIter = parts.iterator.flatMap { m =>
      JetMdbBlobIO.readBlobs(fs, new Path(staging, m.file))
    }
    pack(blobIter, newTdefPage).foreach(writePage)
  }

  private def freshPages(
      fs: org.apache.hadoop.fs.FileSystem, staging: Path,
      parts: Array[JetMdbCommit], numRows: Long,
      writePage: Array[Byte] => Unit): Unit = {
    // pages 0-1: header + usage placeholder (ACE: its magic +
    // version 0x02 — everything past page 0 is the Jet4 layout)
    val hdr = new Array[Byte](layout.pageSize)
    hdr(0) = 0x00; hdr(1) = 0x01
    val magic = (if (ace) MagicAce else Magic)
      .getBytes(StandardCharsets.US_ASCII)
    System.arraycopy(magic, 0, hdr, 4, magic.length)
    hdr(0x14) = (if (ace) 0x02 else layout.versionByte).toByte
    writePage(hdr)
    val usage = new Array[Byte](layout.pageSize)
    usage(0) = 0x05; usage(1) = 0x01
    writePage(usage)
    // pages 2-3: catalog (MSysObjects at page 2; user TDEF at 4;
    // MSysRelationships TDEF at 5 when relationships were declared)
    import org.apache.spark.sql.catalyst.{InternalRow => IRow}
    import org.apache.spark.unsafe.types.UTF8String
    writePage(JetMdbWrite.tdefPage(layout, SysSchema, SysCodes, 2,
      system = true))
    // page 4: user TDEF head (wide schemas chain continuation
    // pages right behind it — r12), so the rel TDEF page number
    // must be computed from the chain length BEFORE the catalog
    // row that names it is written
    val userTdef = JetMdbWrite.tdefPages(layout, schema, codes,
      math.min(numRows, Int.MaxValue.toLong).toInt, system = false,
      indexes, autoNumbers, headPage = 4)
    val relTdefPage = 4 + userTdef.length
    // relationships data pages materialize up front (catalog-sized)
    // so every later TDEF page number is known before the catalog
    // page is written
    val relDataPages =
      if (relationships.isEmpty) Nil
      else pack(relRowBytes().iterator, relTdefPage).toSeq
    // ACE COMPLEX columns (r13): one hidden flat table per complex
    // column (TDEF chain + data pages owned by its head), then the
    // MSysComplexColumns catalog table linking (main TDEF page 4,
    // column ordinal) → flat head — exactly what the reader's
    // resolveComplex walk expects
    val complexCols = codes.indices.filter(
      codes(_) == JetMdbFormat.T_COMPLEX)
    var cursor = relTdefPage +
      (if (relationships.isEmpty) 0 else 1 + relDataPages.size)
    val flats = complexCols.map { ci =>
      val (fname, fschema, fcodes) =
        JetMdbWrite.complexFlatSpec(table, schema(ci), ace)
      val nFlat = parts.map(
        _.complex.get(ci).map(_._2).getOrElse(0L)).sum
      val pages = JetMdbWrite.tdefPages(layout, fschema, fcodes,
        math.min(nFlat, Int.MaxValue.toLong).toInt, system = true,
        Nil, Set("pk"), headPage = cursor)
      val head = cursor
      cursor += pages.length
      (ci, fname, pages, head)
    }
    val ccTdefPage = cursor
    val ccSchema = StructType(Seq(
      StructField("ConceptualTableID", IntegerType),
      StructField("ColumnID", IntegerType),
      StructField("FlatTableID", IntegerType),
      StructField("ComplexTypeObjectID", IntegerType)))
    val ccCodes = Array(T_LONG, T_LONG, T_LONG, T_LONG)
    val ccDataPages =
      if (flats.isEmpty) Nil
      else pack(flats.map { case (ci, _, _, head) =>
        JetMdbWrite.encodeRow(layout, IRow(4, ci, head, 0), ccSchema,
          ccCodes)
      }.iterator, ccTdefPage).toSeq
    val catRows = (Seq(
      IRow(2, 3.toShort, UTF8String.fromString("MSysObjects")),
      IRow(4, 1.toShort, UTF8String.fromString(table))) ++
      (if (relationships.nonEmpty)
        Seq(IRow(relTdefPage, 3.toShort,
          UTF8String.fromString("MSysRelationships")))
      else Nil) ++
      flats.map { case (_, fname, _, head) =>
        IRow(head, 3.toShort, UTF8String.fromString(fname))
      } ++
      (if (flats.nonEmpty)
        Seq(IRow(ccTdefPage, 3.toShort,
          UTF8String.fromString("MSysComplexColumns")))
      else Nil))
      .map(JetMdbWrite.encodeRow(layout, _, SysSchema, SysCodes))
    val catPages = pack(catRows.iterator, 2).toSeq
    require(catPages.size == 1,
      s"${layout.prefix}: catalog must fit one page")
    catPages.foreach(writePage)
    // user TDEF chain, then — if declared — the MSysRelationships
    // TDEF + data, then the complex flat TDEFs + MSysComplexColumns
    // + flat data, then the user data pages (owner = 4, the chain
    // HEAD). Owners make page order irrelevant to the extent walk.
    userTdef.foreach(writePage)
    if (relationships.nonEmpty) {
      writePage(JetMdbWrite.tdefPage(layout, relSchema, relCodes,
        relationships.size, system = true))
      relDataPages.foreach(writePage)
    }
    flats.foreach { case (_, _, pages, _) => pages.foreach(writePage) }
    if (flats.nonEmpty) {
      writePage(JetMdbWrite.tdefPage(layout, ccSchema, ccCodes,
        flats.size, system = true))
      ccDataPages.foreach(writePage)
    }
    flats.foreach { case (ci, _, _, head) =>
      val flatBlobs = parts.iterator.flatMap { m =>
        m.complex.get(ci) match {
          case Some((fname, n)) if n > 0 =>
            JetMdbBlobIO.readBlobs(fs, new Path(staging, fname))
          case _ => Iterator.empty
        }
      }
      pack(flatBlobs, head).foreach(writePage)
    }
    val blobIter = parts.iterator.flatMap { m =>
      JetMdbBlobIO.readBlobs(fs, new Path(staging, m.file))
    }
    pack(blobIter, 4).foreach(writePage)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    val parent = new Path(path).getParent
    fs.delete(new Path(parent, stagingName), true)
    fs.delete(new Path(parent, s"$stagingName.mdb"), false)
  }
}

/** Greedy packer: encoded rows → data pages of layout `l` owned by
  * `tdefPage` (same fit rule the reader's extent walk implies): owner
  * u32 @4, free space u16 @2, the layout's row count and offsets. */
private[jetmdb] object JetMdbPagePacker {
  def pack(
      l: JetLayout, rows: Iterator[Array[Byte]],
      tdefPage: Int): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private val it = rows.buffered
      override def hasNext: Boolean = it.hasNext
      override def next(): Array[Byte] = {
        val p = new Array[Byte](l.pageSize)
        val b = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
        p(0) = 0x01; p(1) = 0x01
        b.putInt(4, tdefPage)
        var dataTop = l.pageSize
        var n = 0
        var fits = true
        while (it.hasNext && fits) {
          val r = it.head
          if (l.rowDirOff + 2 * (n + 1) <= dataTop - r.length) {
            it.next()
            dataTop -= r.length
            System.arraycopy(r, 0, p, dataTop, r.length)
            b.putShort(l.rowDirOff + 2 * n, dataTop.toShort)
            n += 1
          } else fits = false
        }
        b.putShort(l.rowCountOff, n.toShort)
        b.putShort(2, (dataTop - (l.rowDirOff + 2 * n)).toShort)
        p
      }
    }
}

/** Staged row-blob stream: `[u16 len][bytes]*` per part file. */
private[jetmdb] object JetMdbBlobIO {
  def readBlobs(
      fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Iterator[Array[Byte]] = {
    val in = fs.open(p)
    new Iterator[Array[Byte]] {
      private var nextLen = readLen()
      private def readLen(): Int =
        try {
          val hi = in.read(); val lo = in.read()
          if (hi < 0 || lo < 0) { in.close(); -1 }
          else (hi << 8) | lo
        } catch { case e: java.io.IOException => in.close(); throw e }
      override def hasNext: Boolean = nextLen >= 0
      override def next(): Array[Byte] = {
        val buf = new Array[Byte](nextLen)
        in.readFully(buf)
        nextLen = readLen()
        buf
      }
    }
  }
}

/** Per-task staging manifest. `complex` maps a complex column's
  * ordinal in the main schema to its flat-row staging file and
  * element count (r13 — empty for schemas without complex columns). */
private[jetmdb] final case class JetMdbCommit(
    file: String, rows: Long,
    complex: Map[Int, (String, Long)] = Map.empty)
  extends WriterCommitMessage

private[jetmdb] final case class JetMdbWriterFactory(
    path: String,
    stagingName: String,
    schema: StructType,
    codes: Array[Int],
    layout: JetLayout,
    ace: Boolean,
    conf: SerializableConfiguration) extends DataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new JetMdbDataWriter(path, stagingName, schema, codes, layout, ace,
      conf.value, partitionId, taskId)
}

private[jetmdb] final class JetMdbDataWriter(
    path: String,
    stagingName: String,
    schema: StructType,
    codes: Array[Int],
    layout: JetLayout,
    ace: Boolean,
    hconf: Configuration,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val fileName = f"rows-$partitionId%05d-$taskId.bin"
  private val parent = new Path(path).getParent
  private val part = new Path(new Path(parent, stagingName), fileName)
  private val fs = part.getFileSystem(hconf)
  private val out = fs.create(part, true)

  // ACE COMPLEX columns (r13): each complex column stages its flat
  // rows in a sibling blob file; the main row is encoded with the
  // assigned u32 key substituted for the array value. Keys are
  // partitionId-scoped ((partitionId << 20) | counter) so parallel
  // tasks never collide without coordination; the bounds below are
  // generous against the format's own 2 GB cap.
  private val complexIdx: Array[Int] =
    codes.indices.filter(codes(_) == JetMdbFormat.T_COMPLEX).toArray
  // array<scalar> columns auto-wrap as the single "Value" payload
  // (r14); their elements are read with the SCALAR accessor below
  private val scalarElem: Set[Int] = complexIdx.filter { ci =>
    !schema(ci).dataType.asInstanceOf[ArrayType]
      .elementType.isInstanceOf[StructType]
  }.toSet
  private val elemTypes: Map[Int, StructType] = complexIdx.map { ci =>
    ci -> (schema(ci).dataType.asInstanceOf[ArrayType].elementType match {
      case st: StructType => st
      case scalar => StructType(Seq(
        StructField("Value", scalar, nullable = true)))
    })
  }.toMap
  private val flatState
      : Map[Int, (String, org.apache.hadoop.fs.FSDataOutputStream,
        StructType, Array[Int])] =
    complexIdx.map { ci =>
      val (_, fschema, fcodes) =
        JetMdbWrite.complexFlatSpec("", schema(ci), ace)
      val fname = f"rows-$partitionId%05d-$taskId.c$ci.bin"
      val fout = fs.create(
        new Path(new Path(parent, stagingName), fname), true)
      ci -> ((fname, fout, fschema, fcodes))
    }.toMap
  private val flatCounts =
    scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private var keyCounter = 0
  if (complexIdx.nonEmpty)
    require(partitionId < (1 << 11),
      "jetmdb: complex write caps at 2048 partitions (key space) — " +
        "coalesce the interchange-scale DataFrame")

  private def writeBlob(
      o: org.apache.hadoop.fs.FSDataOutputStream,
      bytes: Array[Byte]): Unit = {
    o.write((bytes.length >> 8) & 0xFF)
    o.write(bytes.length & 0xFF)
    o.write(bytes)
  }

  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val bytes =
      if (complexIdx.isEmpty)
        JetMdbWrite.encodeRow(layout, row, schema, codes)
      else {
        require(keyCounter < (1 << 20),
          "jetmdb: complex write caps at 2^20 rows per partition " +
            "(key space)")
        val key = (partitionId << 20) | keyCounter
        keyCounter += 1
        val vals = new Array[Any](schema.length)
        var i = 0
        while (i < schema.length) {
          vals(i) =
            if (!complexIdx.contains(i))
              (if (row.isNullAt(i)) null
               else row.get(i, schema(i).dataType))
            else if (row.isNullAt(i)) null
            else {
              // stage one flat row per array element; pk (declared
              // AutoNumber) comes from the SAME partition-scoped key
              // space as fk — (partitionId << 20) | counter — so a
              // multi-partition write never emits duplicate pk values
              // in one flat table (r14 ADVICE: a bare per-task
              // counter restarted at 0 every task, which our reader
              // tolerated but violates the AutoNumber uniqueness real
              // Access assumes). Read-side element order within a key
              // is preserved: one fk group is written by one task, so
              // its pks share a partition prefix and sort by counter.
              val (_, fout, fschema, fcodes) = flatState(i)
              val elem = elemTypes(i)
              val arr = row.getArray(i)
              var k = 0
              while (k < arr.numElements()) {
                // a null STRUCT element is ambiguous (all-null-struct
                // vs no-element, and the array<struct> read schema is
                // containsNull=false) — reject loudly. A null SCALAR
                // element is NOT: it is a flat row whose single Value
                // column is null, reads back as a null element under
                // the containsNull=true unwrap (r14 review wave 2 —
                // the r14.0 rejection cited a schema this round
                // changed), so it writes through below.
                if (arr.isNullAt(k) && !scalarElem.contains(i))
                  throw new IllegalArgumentException(
                    s"jetmdb: column ${schema(i).name}: NULL array " +
                      "element — an ACE complex (attachment) table " +
                      "stores one flat row per element, and a null " +
                      "struct has no rendering distinct from a " +
                      "struct of nulls (the array<struct> read " +
                      "schema is containsNull=false); filter(col, " +
                      "x -> x IS NOT NULL) before writing")
                // documented bound, not an oversight (r14 review):
                // AutoNumber pk is a signed int32 shared as
                // (partitionId[11 bits] << 20) | counter[20 bits],
                // so one partition holds at most ~1M elements per
                // complex column. The escape route is MORE
                // partitions, not fewer: repartition so each holds
                // under 2^20 elements (r13 "passed" beyond this only
                // by emitting duplicate pks).
                require(flatCounts(i) < (1 << 20),
                  "jetmdb: complex write caps at 2^20 flat elements " +
                    s"per partition per column (${schema(i).name}) — " +
                    "AutoNumber pk key space; repartition the " +
                    "DataFrame into more (up to 2048) partitions so " +
                    "each holds fewer elements")
                val fvals = new Array[Any](fschema.length)
                fvals(0) = // pk
                  (partitionId << 20) | flatCounts(i).toInt
                fvals(1) = key // fk
                if (scalarElem.contains(i))
                  fvals(2) = // "Value"; null element = null Value row
                    if (arr.isNullAt(k)) null
                    else arr.get(k, elem(0).dataType)
                else {
                  val st = arr.getStruct(k, elem.length)
                  var j = 0
                  while (j < elem.length) {
                    fvals(2 + j) =
                      if (st.isNullAt(j)) null
                      else st.get(j, elem(j).dataType)
                    j += 1
                  }
                }
                writeBlob(fout, JetMdbWrite.encodeRow(layout,
                  new org.apache.spark.sql.catalyst.expressions
                    .GenericInternalRow(fvals), fschema, fcodes))
                flatCounts(i) += 1
                k += 1
              }
              key: java.lang.Integer
            }
          i += 1
        }
        JetMdbWrite.encodeRow(layout,
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(vals), schema, codes)
      }
    writeBlob(out, bytes)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    flatState.values.foreach(_._2.close())
    if (rows > 0)
      JetMdbCommit(fileName, rows,
        flatState.map { case (ci, (fname, _, _, _)) =>
          ci -> ((fname, flatCounts(ci)))
        })
    else {
      fs.delete(part, false)
      flatState.values.foreach { case (fname, _, _, _) =>
        fs.delete(new Path(new Path(parent, stagingName), fname), false)
      }
      JetMdbCommit(null, 0)
    }
  }

  override def abort(): Unit = {
    out.close()
    flatState.values.foreach(_._2.close())
    fs.delete(part, false)
    flatState.values.foreach { case (fname, _, _, _) =>
      fs.delete(new Path(new Path(parent, stagingName), fname), false)
    }
  }

  override def close(): Unit = ()
}
