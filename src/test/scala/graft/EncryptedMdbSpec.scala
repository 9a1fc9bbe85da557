package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.JetMdbFixture.{Col, Table}

/** Encrypted-database READ (r14): the public Jet RC4 page-scramble
  * profile — 4-byte key at header offset 0x3e (masked by the fixed
  * C7 DA 39 6B header keystream in Jet4/ACE, clear in Jet3), every
  * page but page 0 RC4'd with `key XOR pageNumber` little-endian.
  *
  * Fixtures are written by the INDEPENDENT test-side encoder
  * ([[JetMdbFixture.writeEncrypted]] / a spec-local Jet3 encryptor —
  * the exact validation pattern the Jet3/Jet4/ACE layouts already
  * use), then read through the production path: catalog walk, TDEF,
  * data pages, LVAL payloads, the MSysComplexColumns catalog, and
  * the complex flat-table index all route page reads through the
  * decrypting stream. Decryption is only ever ATTEMPTED after a
  * plaintext walk fails, so the profile can never garble a readable
  * database; a file neither readable in the clear nor under the
  * file-keyed profile (password-derived ACE keys — the remaining
  * documented descope) fails with a diagnostic naming both
  * failures. */
class EncryptedMdbSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private def tmpDb(name: String): String =
    Files.createTempDirectory("encdb").resolve(name).toString

  private val longText = "memo crossing the row budget — " + ("y" * 700)

  private def tables = Seq(
    Table("t",
      Seq(Col("id", 0x04), Col("name", 0x0A), Col("body", 0x0C)),
      Seq(
        Seq(Integer.valueOf(1), "alice", longText),
        Seq(Integer.valueOf(2), "bob", null)),
      lvalCols = Set("body")))

  test("encrypted Jet4 .mdb: catalog, rows and LVAL memo decrypt " +
    "transparently; the same bytes are noise without the key") {
    val enc = tmpDb("e.mdb")
    JetMdbFixture.writeEncrypted(enc, tables, aceVersion = 0,
      dbKey = 0x5EC2E7A1)
    // the file on disk is genuinely scrambled: a plaintext twin's
    // data pages differ from the encrypted file's
    val plain = tmpDb("p.mdb")
    JetMdbFixture.write(plain, tables)
    val eb = Files.readAllBytes(Paths.get(enc))
    val pb = Files.readAllBytes(Paths.get(plain))
    assert(eb.length == pb.length)
    assert(!java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(eb, 4096, 8192),
      java.util.Arrays.copyOfRange(pb, 4096, 8192)))
    // production read: identical result from both files
    for (p <- Seq(enc, plain)) {
      val rows = spark.read.format("jetmdb").option("table", "t")
        .load(p).orderBy(col("id")).collect()
      assert(rows.length == 2)
      assert(rows(0).getInt(0) == 1 && rows(0).getString(1) == "alice")
      assert(rows(0).getString(2) == longText) // LVAL page decrypted
      assert(rows(1).isNullAt(2))
    }
    assert(graft.sources.jetmdb.JetMdbSource.listTables(enc)
      .map(_._1) == Seq("t"))
    // a ~1 MB scrambled table still streams each page once
    val big = tmpDb("big.mdb")
    JetMdbFixture.writeEncrypted(big, Seq(Table("big",
      Seq(Col("k", 0x04), Col("pad", 0x0A)),
      (0 until 20000).map(i =>
        Seq(Integer.valueOf(i), "z" * (i % 40 + 1)): Seq[Any]))),
      aceVersion = 0, dbKey = 0x5EC2E7A1)
    TestSpark.assertJetScanReadsOnce(big, "big")
  }

  test("encrypted ACE .accdb with a multi-valued COMPLEX column: the " +
    "MSysComplexColumns walk and the flat-table index decrypt too") {
    val enc = tmpDb("e.accdb")
    JetMdbFixture.writeEncrypted(enc, Seq(
      Table("tagged",
        Seq(Col("id", 0x04), Col("tags", 0x12)),
        Seq(
          Seq(Integer.valueOf(1), Integer.valueOf(100)),
          Seq(Integer.valueOf(2), null)),
        complexCols = Map("tags" -> "tagged_tags_flat")),
      Table("tagged_tags_flat",
        Seq(Col("pk", 0x04, auto = true), Col("fk", 0x12),
          Col("Value", 0x0A)),
        Seq(
          Seq(Integer.valueOf(1), Integer.valueOf(100), "red"),
          Seq(Integer.valueOf(2), Integer.valueOf(100), "blue")),
        system = true)),
      aceVersion = 0x02, dbKey = 0x00C0FFEE)
    val rows = spark.read.format("jetmdb").option("table", "tagged")
      .load(enc).orderBy(col("id")).collect()
    assert(rows(0).getSeq[String](1) == Seq("red", "blue"))
    assert(rows(1).isNullAt(1))
  }

  test("encrypted Jet3 (Access 97): the key is stored in the CLEAR " +
    "at 0x3e (no Jet4 header mask) and 2048-byte pages decrypt") {
    val path = tmpDb("e97.mdb")
    Jet3Fixture.write(path, Seq(
      Jet3Fixture.Table("t97",
        Seq(Jet3Fixture.Col("id", 0x04), Jet3Fixture.Col("nm", 0x0A)),
        Seq(Seq(Integer.valueOf(7), "legacy"),
          Seq(Integer.valueOf(8), "data")))))
    // spec-local Jet3 encryptor: raw key at 0x3e, RC4(key XOR page)
    // over every 2048-byte page but page 0
    val dbKey = 0x1A2B3C4D
    val bytes = Files.readAllBytes(Paths.get(path))
    def le(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def rc4x(key: Array[Byte], off: Int, len: Int): Unit = {
      val s = (0 until 256).toArray
      var j = 0
      for (i <- 0 until 256) {
        j = (j + s(i) + (key(i % 4) & 0xFF)) & 0xFF
        val t = s(i); s(i) = s(j); s(j) = t
      }
      var i = 0; j = 0
      var k = 0
      while (k < len) {
        i = (i + 1) & 0xFF
        j = (j + s(i)) & 0xFF
        val t = s(i); s(i) = s(j); s(j) = t
        bytes(off + k) =
          (bytes(off + k) ^ s((s(i) + s(j)) & 0xFF)).toByte
        k += 1
      }
    }
    System.arraycopy(le(dbKey), 0, bytes, 0x3e, 4)
    val ps = Jet3Fixture.PageSize
    for (pn <- 1 until bytes.length / ps)
      rc4x(le(dbKey ^ pn), pn * ps, ps)
    Files.write(Paths.get(path), bytes)
    val rows = spark.read.format("jetmdb").option("table", "t97")
      .load(path).orderBy(col("id")).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((7, "legacy"), (8, "data")))
  }

  test("append to an encrypted file rejects with a NAMED error, " +
    "never interleaves plaintext pages (r14 review)") {
    val spark2 = spark
    import spark2.implicits._
    val path = tmpDb("app.mdb")
    JetMdbFixture.writeEncrypted(path, tables, aceVersion = 0,
      dbKey = 0x0BADCAFE)
    val before = Files.readAllBytes(Paths.get(path))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      Seq((9, "x")).toDF("k", "v").write.format("jetmdb")
        .option("table", "t2").mode("append").save(path)
    }
    assert(msgs(e).exists(_.contains("RC4-page-scrambled")),
      msgs(e).mkString(" | "))
    // and the file is untouched
    assert(java.util.Arrays.equals(
      before, Files.readAllBytes(Paths.get(path))))
  }

  test("a file that is neither plaintext nor file-key decryptable " +
    "fails with a diagnostic naming BOTH failures (password descope)") {
    val path = tmpDb("bad.mdb")
    JetMdbFixture.writeEncrypted(path, tables, aceVersion = 0,
      dbKey = 0x12345678)
    // garble the stored key so the derived key is wrong: decryption
    // produces noise, exactly what a password-derived key looks like
    val bytes = Files.readAllBytes(Paths.get(path))
    bytes(0x3e) = (bytes(0x3e) ^ 0x55).toByte
    Files.write(Paths.get(path), bytes)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      spark.read.format("jetmdb").option("table", "t").load(path)
        .collect()
    }
    val all = msgs(e).mkString(" | ")
    assert(all.contains("RC4 page-scramble"), all)
    assert(all.contains("original failure"), all)
  }
}
