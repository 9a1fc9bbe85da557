package graft.sources.jetmdb

import java.nio.charset.{Charset, StandardCharsets}

import graft.sources.jetmdb.JetMdbFormat._

/** The per-version page geometry of a Jet database — the one place a
  * Jet3/Jet4 difference is written down, in the spirit of mdbtools'
  * per-version `MdbFormatConstants` table. The reader
  * ([[JetMdbFormat]]), the writer ([[JetMdbWrite]]) and the page
  * decryptor ([[JetCrypt]]) take a layout and read its fields; none of
  * them branches on a version. ACE (`.accdb`) shares [[JetLayout.Jet4]]:
  * it differs from Jet4 only in its page-0 magic and version byte and
  * in the column types it adds (see [[JetMdbFormat.toJetType]]).
  *
  * Offsets are relative to the page (or row) start, sizes in bytes,
  * all integers little-endian. */
sealed abstract class JetLayout extends Serializable {

  /** Prefix of this version's diagnostics. */
  def prefix: String

  def pageSize: Int
  /** The format's own database size cap. */
  def maxFileBytes: Long
  def maxPages: Int = (maxFileBytes / pageSize).toInt
  /** Header byte 0x14 of a file this layout writes. */
  def versionByte: Int
  /** Page 0 stores the RC4 database key under the fixed header mask
    * ([[JetCrypt.candidateKey]]) rather than in the clear. */
  def maskedHeaderKey: Boolean

  // data page: u16 row count, then u16 row offsets
  def rowCountOff: Int
  def rowDirOff: Int

  // TDEF header
  def numRowsOff: Int
  def tableTypeOff: Int
  def maxColsOff: Int
  def numVarColsOff: Int
  def numColsOff: Int
  def numIdxOff: Int
  def numRealIdxOff: Int
  /** First column descriptor, before the 8-byte real-index entries. */
  def colStart: Int
  /** Whether the reader parses the TDEF index section. */
  def indexSection: Boolean
  /** Column type codes a TDEF of this version may not declare. */
  def outOfProfileTypes: Set[Int]

  // column descriptor
  def descSize: Int
  def descColNum: Int
  def descOffV: Int
  /** The second copy of the column number. */
  def descColNum2: Int
  /** NUMERIC precision; the scale byte follows it. */
  def descPrec: Int
  def descFlags: Int
  def descOffF: Int
  def descLen: Int

  /** Width of a name's length prefix (u8 or u16). */
  def nameLenWidth: Int
  def nameCharset: Charset

  /** Width of a row's column count, var-column count and var offsets
    * (u8 or u16). */
  def rowIntWidth: Int
  /** Largest row this version's row form can address. */
  def maxRowBytes: Int

  /** Text field bytes → string (TEXT, fixed TEXT and MEMO payloads). */
  def decodeText(p: Array[Byte], s: Int, e: Int): String
  /** String → text field bytes; `column` names the value in errors. */
  def encodeText(s: String, column: String): Array[Byte]
  def encodeName(name: String): Array[Byte]

  /** Rejection text for anything outside this version's profile. */
  def outOfProfile(what: String): String =
    s"$prefix: $what is outside the $this reader's profile — export " +
      "the table to CSV (mdb-export) and read it with " +
      "format(\"jetcsv\") instead"
}

object JetLayout {

  private val Cp1252: Charset = Charset.forName("windows-1252")

  /** Jet3 (Access 97). Public sources vary in detail and no real
    * Access-97 file exists offline, so this is a DOCUMENTED PROFILE;
    * the independent test-side fixture writer emits the same profile,
    * so round trips are byte-exact, and `RealFixtureSpec` is the
    * env-gated hook for proving a genuine `.mdb` the day one exists:
    *   - 2048-byte pages, header version byte 0x00, 1 GB cap;
    *   - TDEF: u32 num_rows @12, u8 table_type @20, u16 max_cols @21,
    *     num_var_cols @23, num_cols @25, u32 num_idx @27,
    *     num_real_idx @31, descriptors @43; 18-byte column
    *     descriptors (type @0, col_num @1, offset_V @3, col_num @5,
    *     sort @7, misc @9, flags @13, offset_F @14, len @16), then
    *     u8-length-prefixed CP1252 column names;
    *   - data page: row count @8, row offsets from @10;
    *   - row: u8 column count, u8 var count and u8 var offsets — the
    *     ≤255-byte row form (longer rows use Jet3's jump table, out of
    *     profile);
    *   - text, memo payloads and names are single-byte CP1252 (Jet3
    *     predates the UCS-2 switch and its compression flag).
    *
    * SCOPE (rejected, never misparsed): rows over 255 bytes, the
    * column types that postdate Jet3 (GUID arrived with replication,
    * NUMERIC and the ACE types later), and the index section (skipped,
    * not parsed). MEMO and OLE are in profile, with the same 12-byte
    * header and three LVAL storage forms as Jet4. Every rejection
    * names the jetcsv escape route: `mdb-export` the table to CSV and
    * read it with `spark.read.format("jetcsv")`. */
  case object Jet3 extends JetLayout {
    val prefix = "jetmdb/jet3"
    val pageSize = 2048
    val maxFileBytes = 1L << 30
    val versionByte = 0x00
    val maskedHeaderKey = false
    val rowCountOff = 8
    val rowDirOff = 10
    val numRowsOff = 12
    val tableTypeOff = 20
    val maxColsOff = 21
    val numVarColsOff = 23
    val numColsOff = 25
    val numIdxOff = 27
    val numRealIdxOff = 31
    val colStart = 43
    val indexSection = false
    val outOfProfileTypes =
      Set(T_GUID, T_NUMERIC, T_COMPLEX, T_BIGINT, T_DATEXT)
    val descSize = 18
    val descColNum = 1
    val descOffV = 3
    val descColNum2 = 5
    val descPrec = 9 // the misc field; NUMERIC is out of profile
    val descFlags = 13
    val descOffF = 14
    val descLen = 16
    val nameLenWidth = 1
    def nameCharset: Charset = Cp1252
    val rowIntWidth = 1
    val maxRowBytes = 255
    def decodeText(p: Array[Byte], s: Int, e: Int): String =
      new String(p, s, e - s, Cp1252)
    def encodeText(s: String, column: String): Array[Byte] =
      Jet3Write.encodeText3(s, column)
    def encodeName(name: String): Array[Byte] =
      Jet3Write.encodeText3(name, s"(column name '$name')")
  }

  /** Jet4 (Access 2000+) and ACE: 4096-byte pages, 2 GB cap, UCS-2LE
    * text with the 0xFF 0xFE compression marker, u16 row fields; the
    * full layout is described on [[JetMdbFormat]]. */
  case object Jet4 extends JetLayout {
    val prefix = "jetmdb"
    val pageSize = 4096
    val maxFileBytes = 2L << 30
    val versionByte = 0x01
    val maskedHeaderKey = true
    val rowCountOff = 12
    val rowDirOff = 14
    val numRowsOff = 16
    val tableTypeOff = 40
    val maxColsOff = 41
    val numVarColsOff = 43
    val numColsOff = 45
    val numIdxOff = 47
    val numRealIdxOff = 51
    val colStart = 63
    val indexSection = true
    val outOfProfileTypes = Set.empty[Int]
    val descSize = 25
    val descColNum = 5
    val descOffV = 7
    val descColNum2 = 9
    val descPrec = 11
    val descFlags = 17
    val descOffF = 19
    val descLen = 21
    val nameLenWidth = 2
    def nameCharset: Charset = StandardCharsets.UTF_16LE
    val rowIntWidth = 2
    val maxRowBytes = pageSize - 16 // one row with its u16 slot
    def decodeText(p: Array[Byte], s: Int, e: Int): String =
      JetMdbFormat.decodeText(p, s, e)
    def encodeText(s: String, column: String): Array[Byte] =
      JetMdbWrite.encodeText(s)
    def encodeName(name: String): Array[Byte] =
      name.getBytes(StandardCharsets.UTF_16LE)
  }

  /** Bytes of page 0 [[of]] needs: the header fits the smallest page. */
  val HeaderBytes: Int = Jet3.pageSize

  /** The layout of a database, sniffed from its page 0 (at least
    * [[HeaderBytes]] long) after [[JetMdbFormat.checkHeader]]
    * validates it: version byte 0x00 is Jet3, every other accepted
    * version (Jet4 and the ACE family) is Jet4. */
  def of(page0: Array[Byte]): JetLayout = {
    checkHeader(page0)
    if (u8(page0, 0x14) == Jet3.versionByte) Jet3 else Jet4
  }
}
