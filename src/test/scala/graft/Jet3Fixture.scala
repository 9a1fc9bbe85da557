package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** Test-side Jet3 (Access 97) `.mdb` fixture writer — the independent
  * byte-layout sibling of [[JetMdbFixture]], emitting the SAME
  * documented profile the production reader parses (`JetLayout.Jet3`)
  * (2048-byte pages, version byte 0x00, 18-byte column descriptors,
  * u8-length CP1252 names, u8 row column count and var offsets) while
  * sharing no code with the production reader: a shared
  * misunderstanding of an offset shows up as a spec failure, not
  * silent agreement.
  *
  * Values per column code: Boolean, Short (BYTE/INT), Int (LONG),
  * java.math.BigDecimal (MONEY), Float, Double, Long epoch-micros
  * (DATETIME), String (TEXT, CP1252), or null.
  */
object Jet3Fixture {

  val PageSize = 2048
  private val cp1252: Charset = Charset.forName("windows-1252")

  final case class Col(name: String, code: Int, fixedLen: Int = 0)

  final case class Table(name: String, cols: Seq[Col], rows: Seq[Seq[Any]],
      deleted: Set[Int] = Set.empty)

  /** Memo (0x0C) cell values: a bare String emits the INLINE form
    * (payload after the 12-byte header, inside the row); these two
    * force the LVAL forms the reader must also cover. */
  final case class MemoLval(text: String)
  final case class MemoChain(text: String, chunk: Int)

  /** OLE (0x0B) cell values (r12): a bare Array[Byte] emits the
    * INLINE form; these two force the LVAL forms — same 12-byte
    * header + storage shapes as memo, binary payload. */
  final case class OleLval(bytes: Array[Byte])
  final case class OleChain(bytes: Array[Byte], chunk: Int)

  /** Pre-encoded var cell (internal): memo cells are resolved to
    * header(+pointer) bytes before row encoding, once their LVAL rows
    * have page numbers. */
  private final case class RawVar(bytes: Array[Byte])

  /** Packs LVAL rows into Jet3-geometry pages (type 0x01, owner
    * "LVAL" at @4, row count @8, u16 offsets from @10) and hands back
    * (page, row) pointers; pages are appended AFTER the fixture knows
    * its own start page, so pointers are exact with no patch pass. */
  private final class LvalAlloc(startPage: Int) {
    private val pageRows = ArrayBuffer(ArrayBuffer.empty[Array[Byte]])
    private var used = 10

    def addRow(bytes: Array[Byte]): (Int, Int) = {
      require(bytes.length <= PageSize - 12, "jet3 fixture: LVAL row too big")
      if (used + 2 + bytes.length > PageSize) {
        pageRows += ArrayBuffer.empty[Array[Byte]]
        used = 10
      }
      used += 2 + bytes.length
      val rows = pageRows.last
      rows += bytes
      (startPage + pageRows.length - 1, rows.length - 1)
    }

    def render(): Seq[Array[Byte]] =
      pageRows.filter(_.nonEmpty).map { rows =>
        val p = new Array[Byte](PageSize)
        val b = le(p)
        p(0) = 0x01; p(1) = 0x01
        b.putInt(4, 'L' | ('V' << 8) | ('A' << 16) | ('L' << 24))
        b.putShort(8, rows.length.toShort)
        var top = PageSize
        rows.zipWithIndex.foreach { case (r, i) =>
          top -= r.length
          System.arraycopy(r, 0, p, top, r.length)
          b.putShort(10 + 2 * i, top.toShort)
        }
        b.putShort(2, (top - (10 + 2 * rows.length)).toShort)
        p
      }.toSeq
  }

  private def ptr(page: Int, row: Int): Int = (row << 24) | page

  /** Resolve one memo/OLE cell to its in-row bytes (12-byte header,
    * plus the payload for the inline form), allocating LVAL rows as
    * needed. Memo payloads are CP1252 text; OLE payloads are raw
    * bytes — the header and LVAL shapes are identical. */
  private def memoCell(v: Any, alloc: LvalAlloc): Array[Byte] = v match {
    case s: String => inlineCell(s.getBytes(cp1252))
    case bs: Array[Byte] => inlineCell(bs)
    case MemoLval(text) => lvalCell(text.getBytes(cp1252), alloc)
    case OleLval(bytes) => lvalCell(bytes, alloc)
    case MemoChain(text, chunk) =>
      chainCell(text.getBytes(cp1252), chunk, alloc)
    case OleChain(bytes, chunk) => chainCell(bytes, chunk, alloc)
    case other => sys.error(s"jet3 fixture: bad memo/OLE value $other")
  }

  private def inlineCell(payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](12 + payload.length)
    le(out).putInt(0, payload.length | (0x80 << 24))
    System.arraycopy(payload, 0, out, 12, payload.length)
    out
  }

  private def lvalCell(
      payload: Array[Byte], alloc: LvalAlloc): Array[Byte] = {
    val (pg, row) = alloc.addRow(payload)
    val out = new Array[Byte](12)
    val b = le(out)
    b.putInt(0, payload.length | (0x40 << 24))
    b.putInt(4, ptr(pg, row))
    out
  }

  private def chainCell(
      payload: Array[Byte], chunk: Int, alloc: LvalAlloc): Array[Byte] = {
    require(chunk > 0, "jet3 fixture: chain chunk must be positive")
    // allocate chunk rows first, then write each row's next pointer
    // (rows are shared arrays, so the patch lands in the page render)
    val chunks = payload.grouped(chunk).toSeq
    val rows = chunks.map { c =>
      val r = new Array[Byte](4 + c.length)
      System.arraycopy(c, 0, r, 4, c.length)
      r
    }
    val ptrs = rows.map(alloc.addRow)
    rows.zipWithIndex.foreach { case (r, i) =>
      val next =
        if (i + 1 < ptrs.length) ptr(ptrs(i + 1)._1, ptrs(i + 1)._2)
        else 0
      le(r).putInt(0, next)
    }
    val out = new Array[Byte](12)
    val b = le(out)
    b.putInt(0, payload.length) // flags 0x00 = chained
    b.putInt(4, ptr(ptrs.head._1, ptrs.head._2))
    out
  }

  private def le(bytes: Array[Byte]) =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  private def fixedLenOf(c: Col): Int = c.code match {
    case 0x01 => 0
    case 0x02 => 1
    case 0x03 => 2
    case 0x04 => 4
    case 0x05 => 8
    case 0x06 => 4
    case 0x07 => 8
    case 0x08 => 8
    case 0x0A => c.fixedLen
    case other => sys.error(f"jet3 fixture: no fixed length for 0x$other%02x")
  }

  private def isVar(c: Col): Boolean =
    (c.code == 0x0A && c.fixedLen == 0) || c.code == 0x0C ||
      c.code == 0x0B
  private def isBool(c: Col): Boolean = c.code == 0x01

  private def tdefPageBytes(
      t: Table, numRows: Int, system: Boolean): Array[Byte] = {
    val p = new Array[Byte](PageSize * 8)
    val b = le(p)
    p(0) = 0x02; p(1) = 0x01
    b.putInt(4, 0) // single-page TDEF
    b.putInt(12, numRows)
    p(20) = if (system) 0x53 else 0x4e
    b.putShort(21, t.cols.length.toShort) // max_cols
    b.putShort(23, t.cols.count(isVar).toShort)
    b.putShort(25, t.cols.length.toShort)
    b.putInt(27, 0) // num_idx
    b.putInt(31, 0) // num_real_idx
    var off = 43
    var fixedOff = 0
    var varIdx = 0
    t.cols.zipWithIndex.foreach { case (c, i) =>
      p(off) = c.code.toByte
      b.putShort(off + 1, i.toShort) // col_num
      if (isVar(c)) { b.putShort(off + 3, varIdx.toShort); varIdx += 1 }
      b.putShort(off + 5, i.toShort)
      p(off + 13) = ((if (isVar(c)) 0x00 else 0x01) | 0x02).toByte
      if (!isVar(c) && !isBool(c)) {
        b.putShort(off + 14, fixedOff.toShort)
        fixedOff += fixedLenOf(c)
      }
      b.putShort(off + 16,
        (if (isVar(c)) 0 else fixedLenOf(c)).toShort)
      off += 18
    }
    t.cols.foreach { c =>
      val nb = c.name.getBytes(cp1252)
      require(nb.length <= 255, "jet3 fixture: name too long")
      p(off) = nb.length.toByte
      System.arraycopy(nb, 0, p, off + 1, nb.length)
      off += 1 + nb.length
    }
    require(off <= p.length,
      s"jet3 fixture: TDEF overflow for ${t.name}")
    b.putInt(8, off) // tdef_len: documented logical length (r12)
    java.util.Arrays.copyOfRange(p, 0, math.max(off, PageSize))
  }

  /** Split a logical TDEF buffer into head + continuation pages (8-byte
    * header, next pointer @4) from `headPage` — the same concatenation
    * profile the production Jet3 reader reassembles (r12). */
  private def tdefPagesChained(
      t: Table, numRows: Int, system: Boolean,
      headPage: Int): Seq[Array[Byte]] = {
    val buf = tdefPageBytes(t, numRows, system)
    if (buf.length <= PageSize) Seq(buf)
    else {
      val chunk = PageSize - 8
      val nCont = (buf.length - PageSize + chunk - 1) / chunk
      val head = java.util.Arrays.copyOfRange(buf, 0, PageSize)
      le(head).putInt(4, headPage + 1)
      head +: (0 until nCont).map { k =>
        val pg = new Array[Byte](PageSize)
        pg(0) = 0x02; pg(1) = 0x01
        le(pg).putInt(4, if (k == nCont - 1) 0 else headPage + 2 + k)
        val from = PageSize + k * chunk
        System.arraycopy(buf, from, pg, 8,
          math.min(chunk, buf.length - from))
        pg
      }
    }
  }

  private def encodeRow(t: Table, row: Seq[Any]): Array[Byte] = {
    val cols = t.cols
    val bitmaskSz = (cols.length + 7) / 8
    val fixedTotal = cols.filterNot(isBool).filterNot(isVar)
      .map(fixedLenOf).sum
    val varIdxs = cols.indices.filter(i => isVar(cols(i)))
    val varBytes = varIdxs.map { i =>
      row(i) match {
        case null => Array.emptyByteArray
        case RawVar(b) => b
        case s: String => s.getBytes(cp1252)
        case other => sys.error(s"jet3 fixture: bad var value $other")
      }
    }
    val hasVar = varIdxs.nonEmpty
    val total = 1 + fixedTotal + varBytes.map(_.length).sum +
      (if (hasVar) (varIdxs.length + 1) + 1 else 0) + bitmaskSz
    require(total <= 255,
      s"jet3 fixture: row of $total bytes exceeds the u8-offset form")
    val r = new Array[Byte](total)
    val b = le(r)
    r(0) = cols.length.toByte
    val mask = new Array[Byte](bitmaskSz)
    def setBit(i: Int): Unit =
      mask(i / 8) = (mask(i / 8) | (1 << (i % 8))).toByte
    var off = 1
    cols.zipWithIndex.foreach { case (c, i) =>
      if (isBool(c)) {
        if (row(i) != null && row(i).asInstanceOf[Boolean]) setBit(i)
      } else if (!isVar(c)) {
        if (row(i) != null) {
          setBit(i)
          c.code match {
            case 0x02 => r(off) = row(i).asInstanceOf[Short].toByte
            case 0x03 => b.putShort(off, row(i).asInstanceOf[Short])
            case 0x04 => b.putInt(off, row(i).asInstanceOf[Int])
            case 0x05 => b.putLong(off,
              row(i).asInstanceOf[java.math.BigDecimal]
                .movePointRight(4).longValueExact())
            case 0x06 => b.putFloat(off, row(i).asInstanceOf[Float])
            case 0x07 => b.putDouble(off, row(i).asInstanceOf[Double])
            case 0x08 =>
              // micros → OLE date (inverse of the reader's linear
              // post-1899 decode; fixtures stay post-1970)
              b.putDouble(off,
                row(i).asInstanceOf[Long] / 86400.0 / 1e6 + 25569.0)
            case 0x0A =>
              val tb = row(i).asInstanceOf[String].getBytes(cp1252)
              require(tb.length <= c.fixedLen, "fixed text overflow")
              System.arraycopy(tb, 0, r, off, tb.length)
          }
        }
        off += fixedLenOf(c)
      }
    }
    var vOff = 1 + fixedTotal
    val varOffsets = new Array[Int](varIdxs.length + 1)
    varIdxs.zipWithIndex.foreach { case (ci, vi) =>
      varOffsets(vi) = vOff
      val bytes = varBytes(vi)
      System.arraycopy(bytes, 0, r, vOff, bytes.length)
      vOff += bytes.length
      if (row(ci) != null) setBit(ci)
    }
    val tail = total - bitmaskSz
    if (hasVar) {
      varOffsets(varIdxs.length) = vOff
      r(tail - 1) = varIdxs.length.toByte
      val tabOff = tail - 1 - (varIdxs.length + 1)
      varOffsets.zipWithIndex.foreach { case (o, k) =>
        r(tabOff + k) = o.toByte
      }
    }
    System.arraycopy(mask, 0, r, tail, bitmaskSz)
    r
  }

  private def dataPages(
      tdefPage: Int, rows: Seq[Array[Byte]],
      deleted: Set[Int]): Seq[Array[Byte]] = {
    val pages = ArrayBuffer.empty[Array[Byte]]
    var i = 0
    while (i < rows.length) {
      val p = new Array[Byte](PageSize)
      val b = le(p)
      p(0) = 0x01; p(1) = 0x01
      b.putInt(4, tdefPage)
      var dataTop = PageSize
      var n = 0
      var fits = true
      while (i < rows.length && fits) {
        val r = rows(i)
        if (10 + 2 * (n + 1) <= dataTop - r.length) {
          dataTop -= r.length
          System.arraycopy(r, 0, p, dataTop, r.length)
          val flag = if (deleted.contains(i)) 0x8000 else 0
          b.putShort(10 + 2 * n, (dataTop | flag).toShort)
          n += 1
          i += 1
        } else fits = false
      }
      b.putShort(8, n.toShort)
      b.putShort(2, (dataTop - (10 + 2 * n)).toShort)
      pages += p
    }
    pages.toSeq
  }

  /** Write a Jet3 database file holding `tables`. */
  def write(path: String, tables: Seq[Table]): Unit = {
    val pages = ArrayBuffer.empty[Array[Byte]]
    val hdr = new Array[Byte](PageSize)
    hdr(0) = 0x00; hdr(1) = 0x01
    val magic = "Standard Jet DB".getBytes(
      java.nio.charset.StandardCharsets.US_ASCII)
    System.arraycopy(magic, 0, hdr, 4, magic.length)
    hdr(0x14) = 0x00 // Jet3
    pages += hdr
    val usage = new Array[Byte](PageSize)
    usage(0) = 0x05; usage(1) = 0x01
    pages += usage
    pages += null; pages += null // catalog TDEF + data, patched below
    val catalogRows = ArrayBuffer[Seq[Any]](
      Seq(Integer.valueOf(2), 3.toShort, "MSysObjects"))
    tables.foreach { t =>
      // LVAL pages first (their numbers are known before row
      // encoding, so memo pointers need no patch pass), then TDEF,
      // then data pages
      val memoIdxs = t.cols.indices.filter(i =>
        t.cols(i).code == 0x0C || t.cols(i).code == 0x0B)
      val alloc = new LvalAlloc(pages.length)
      val rows =
        if (memoIdxs.isEmpty) t.rows
        else t.rows.map { r =>
          r.zipWithIndex.map { case (v, i) =>
            if (memoIdxs.contains(i) && v != null) RawVar(memoCell(v, alloc))
            else v
          }
        }
      alloc.render().foreach(pages += _)
      val tdefPage = pages.length
      tdefPagesChained(t, t.rows.length, system = false,
        headPage = tdefPage).foreach(pages += _)
      dataPages(tdefPage, rows.map(encodeRow(t, _)), t.deleted)
        .foreach(pages += _)
      catalogRows += Seq(Integer.valueOf(tdefPage), 1.toShort, t.name)
    }
    val sysTable = Table(
      "MSysObjects",
      Seq(Col("Id", 0x04), Col("Type", 0x03), Col("Name", 0x0A)),
      catalogRows.toSeq)
    val catTdef = tdefPagesChained(sysTable, catalogRows.length,
      system = true, headPage = 2)
    require(catTdef.length == 1,
      "jet3 fixture: catalog TDEF must fit one page")
    pages(2) = catTdef.head
    val catData = dataPages(2, catalogRows.toSeq.map(encodeRow(sysTable, _)),
      Set.empty)
    require(catData.length == 1, "jet3 fixture: catalog must fit one page")
    pages(3) = catData.head
    val out = new java.io.ByteArrayOutputStream(pages.length * PageSize)
    pages.foreach(out.write)
    Files.write(Paths.get(path), out.toByteArray)
  }
}
