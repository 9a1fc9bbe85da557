package graft.sources.jetmdb

import java.nio.charset.{CharacterCodingException, Charset}

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.jetmdb.JetMdbFormat._

/** Jet3 (Access 97) WRITE policy — `df.write.format("jetmdb")
  * .option("table", t).option("version", "jet3").save(path)` emits a
  * 2048-byte-page Jet3 database through the shared writer
  * ([[JetMdbWrite]]) over [[JetLayout.Jet3]], in exactly the profile
  * the reader parses (and the independent test-side fixture writer
  * emits), closing the round-9 asymmetry of a migration tool that
  * READS Access 97 but could only re-export Jet4. This object holds
  * only what is Jet3 policy rather than geometry: the type profile,
  * the CP1252 text check and the scope rejections.
  *
  * Honest scope rejections (each names its escape route): MEMO/OLE
  * columns (this writer emits no long-value pages; the Jet3 READER
  * accepts both), NUMERIC (postdates Jet3), index/relationship/
  * autonumber metadata (the Jet3 reader skips index sections, so
  * round-tripping them is unverifiable — write Jet4 for
  * metadata-bearing exports), BIGINT as in Jet4 (Jet has no 64-bit
  * integer), text outside CP1252, rows over the 255-byte row form,
  * and schemas whose TDEF does not fit one 2048-byte page.
  */
object Jet3Write {

  private val cp1252: Charset = Charset.forName("windows-1252")

  /** Spark type → Jet3 column code (plan-time total-or-throw; the
    * Jet3 profile has no MEMO/OLE/NUMERIC/GUID). */
  def jetCode3(f: StructField): Int = f.dataType match {
    case BooleanType => T_BOOL
    case ShortType => T_INT
    case IntegerType => T_LONG
    case FloatType => T_FLOAT
    case DoubleType => T_DOUBLE
    case d: DecimalType if d.precision == 19 && d.scale == 4 => T_MONEY
    case _: DecimalType => throw new IllegalArgumentException(
      s"jetmdb/jet3: column ${f.name}: Jet3 has no NUMERIC type — " +
        "only Currency DECIMAL(19,4); cast, or write Jet4")
    case TimestampType | TimestampNTZType => T_DATETIME
    case StringType => T_TEXT
    case BinaryType => throw new IllegalArgumentException(
      s"jetmdb/jet3: column ${f.name}: this writer does not emit " +
        "Jet3 long-value (LVAL) pages, so OLE columns cannot be " +
        "written (the Jet3 READER accepts them since r12) — " +
        "write Jet4, or export binary columns separately")
    case other => throw new IllegalArgumentException(
      s"jetmdb/jet3: column ${f.name}: $other has no Jet3 rendering " +
        "(Jet has no 64-bit integer — cast BIGINT to INT or DOUBLE; " +
        "array/struct need the parquet sink)")
  }

  /** The column codes of a Jet3 write, after its plan-time scope
    * checks: no MEMO columns, no index/relationship/autonumber
    * metadata (the reader skips those sections, so a write could not
    * be verified), the Jet3 type profile, and a TDEF that fits one
    * page (the names are checked against CP1252 on the way). */
  def codes(
      schema: StructType, options: CaseInsensitiveStringMap,
      memoCols: Set[String]): Array[Int] = {
    require(memoCols.isEmpty,
      "jetmdb/jet3: memoColumns — Jet3 MEMO uses long-value " +
        "pointer forms outside the documented profile; write Jet4")
    Seq("indexes", "relationships", "autonumber").foreach { opt =>
      require(options.get(opt) == null,
        s"jetmdb/jet3: .option(\"$opt\", …) — the Jet3 profile " +
          "carries no index/relationship metadata (its reader " +
          "skips those sections, so a write could not be " +
          "verified); write Jet4 for metadata-bearing exports")
    }
    val codes = schema.fields.map(jetCode3)
    JetMdbWrite.tdefPage(JetLayout.Jet3, schema, codes, 0, system = false)
    codes
  }

  /** CP1252 bytes, or a LOUD rejection — Jet3 text is single-byte and
    * silently transcoding '�' into a migration corrupts it. */
  def encodeText3(s: String, colName: String): Array[Byte] =
    try {
      val bb = cp1252.newEncoder().encode(java.nio.CharBuffer.wrap(s))
      val out = new Array[Byte](bb.remaining())
      bb.get(out)
      out
    } catch {
      case _: CharacterCodingException =>
        throw new java.io.IOException(
          s"jetmdb/jet3: column $colName: text value contains " +
            "characters outside CP1252 (Jet3 text is single-byte) — " +
            "write Jet4 for Unicode text")
    }
}
