package graft.sources.jetmdb

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileSystem, Path}

/** Jet "database encryption" (r14): the public RC4 page-scramble
  * profile the whole mdb tooling ecosystem documents.
  *
  * Profile (the same one mdbtools' `mdb_read_pg` and jackcess's
  * `JetCryptCodecHandler` implement — both public OSS):
  *   - the 4-byte database key lives at header offset 0x3e of
  *     page 0. Jet3 stores it in the clear; Jet4/ACE headers XOR a
  *     126-byte region starting at offset 0x18 with a FIXED RC4
  *     keystream (key bytes C7 DA 39 6B), so the stored bytes there
  *     are `plaintext XOR mask` — an UNENCRYPTED Jet4 file stores
  *     exactly the mask bytes and unmasks to key 0;
  *   - every page EXCEPT page 0 is RC4-encrypted with the 4-byte
  *     little-endian key `dbKey XOR pageNumber`;
  *   - a key of 0 means not encrypted.
  *
  * This module only ever runs AFTER a plaintext catalog walk has
  * failed (JetMdbSource.catalogOf tries unencrypted first), so a
  * mistaken key derivation can never garble a readable database —
  * the worst case is the same loud diagnostic the r13 reader
  * already raised. Access PASSWORD protection (ACE RC4-with-
  * password / AES) derives its key from user secrets and stays a
  * documented descope; this profile covers the Tools→Security→
  * "Encrypt Database" scramble, which is keyed by the file itself.
  *
  * Scale note: decryption is a per-page in-place pass on the
  * executor that reads the page — no driver work, no extra I/O, and
  * the 2 GB-per-file format cap bounds per-task state exactly as in
  * the plaintext path.
  */
object JetCrypt {

  /** RC4 keystream XORed over `buf` in place. Textbook KSA + PRGA —
    * RC4 is public-domain-described since 1994. */
  def rc4(key: Array[Byte], buf: Array[Byte], off: Int,
      len: Int): Unit = {
    val s = Array.tabulate(256)(identity)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + (key(i % key.length) & 0xFF)) & 0xFF
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    i = 0; j = 0
    var k = 0
    while (k < len) {
      i = (i + 1) & 0xFF
      j = (j + s(i)) & 0xFF
      val t = s(i); s(i) = s(j); s(j) = t
      buf(off + k) = (buf(off + k) ^ s((s(i) + s(j)) & 0xFF)).toByte
      k += 1
    }
  }

  /** The fixed Jet4 header keystream over the 126-byte region at
    * offset 0x18 (key C7 DA 39 6B — the constant both mdbtools and
    * jackcess carry). */
  private val HeaderMaskStart = 0x18
  private val HeaderMaskLen = 126
  private lazy val headerMask: Array[Byte] = {
    val zeros = new Array[Byte](HeaderMaskLen)
    rc4(Array(0xC7.toByte, 0xDA.toByte, 0x39.toByte, 0x6B.toByte),
      zeros, 0, HeaderMaskLen)
    zeros
  }

  private val KeyOffset = 0x3e

  /** The database key at header offset 0x3e, unmasked with the fixed
    * header keystream where the layout stores it masked. */
  def candidateKey(page0: Array[Byte], l: JetLayout): Int = {
    def b(o: Int): Int = {
      val raw = page0(o) & 0xFF
      if (l.maskedHeaderKey)
        raw ^ (headerMask(o - HeaderMaskStart) & 0xFF)
      else raw
    }
    b(KeyOffset) | (b(KeyOffset + 1) << 8) |
      (b(KeyOffset + 2) << 16) | (b(KeyOffset + 3) << 24)
  }

  /** Per-page RC4 key: `dbKey XOR pageNumber`, little-endian. */
  def pageKey(dbKey: Int, page: Int): Array[Byte] = {
    val k = dbKey ^ page
    Array((k & 0xFF).toByte, ((k >> 8) & 0xFF).toByte,
      ((k >> 16) & 0xFF).toByte, ((k >> 24) & 0xFF).toByte)
  }

  /** Open `path` for page reads: a plain stream when `dbKey` is 0, a
    * decrypting wrapper otherwise. The wrapper only serves the
    * page-aligned `seek` + whole-page `readFully(buf)` shape
    * `JetMdbSource.readPage` uses — anything else fails loudly rather
    * than returning bytes of ambiguous cleartext state. */
  def open(h: FileSystem, path: String, dbKey: Int,
      pageSize: Int): FSDataInputStream = {
    val under = h.open(new Path(path))
    if (dbKey == 0) under
    else new FSDataInputStream(
      new Rc4PageStream(under, dbKey, pageSize))
  }
}

/** Page-aligned decrypting view over an open database stream: page 0
  * passes through (the header is never page-encrypted), every other
  * page is RC4'd with `dbKey XOR pageNumber`, the page number taken
  * from the stream position. Reads go through the one underlying
  * stream, so a checksummed FS keeps verifying every chunk. */
private[jetmdb] final class Rc4PageStream(
    under: FSDataInputStream, dbKey: Int, pageSize: Int)
  extends FSInputStream {

  override def read(buffer: Array[Byte], offset: Int,
      length: Int): Int = {
    val position = under.getPos
    require(position % pageSize == 0 && length == pageSize,
      s"jetmdb: encrypted read must be one whole page (pos=$position " +
        s"len=$length pageSize=$pageSize)")
    under.readFully(buffer, offset, length)
    val page = (position / pageSize).toInt
    if (page != 0)
      JetCrypt.rc4(JetCrypt.pageKey(dbKey, page), buffer, offset, length)
    length
  }

  override def read(): Int = throw new UnsupportedOperationException(
    "jetmdb: encrypted stream serves whole-page reads only")
  override def seek(pos: Long): Unit = {
    require(pos % pageSize == 0,
      s"jetmdb: encrypted seek must be page-aligned (pos=$pos " +
        s"pageSize=$pageSize)")
    under.seek(pos)
  }
  override def getPos: Long = under.getPos
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def close(): Unit = under.close()
}
