package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JetSql.translate

/** Jet-SQL → ANSI translation: every rewrite the translator claims,
  * its quoting discipline, and the honest rejections. The translated
  * output EXECUTING correctly sits under the driver hash gate as
  * q_jetsql_saved. */
class JetSqlSpec extends AnyFunSuite {

  test("bracketed identifiers sanitize like the migration does") {
    assert(translate("SELECT [Order ID], [2nd Col] FROM [Order Log]") ==
      "SELECT order_id, c_2nd_col FROM order_log")
  }

  test("double-quoted strings become single-quoted with escapes") {
    assert(translate("SELECT \"it's \"\"x\"\"\" FROM t") ==
      "SELECT 'it''s \"x\"' FROM t")
  }

  test("date literals: Jet US order and ISO, date and timestamp") {
    assert(translate("WHERE d >= #1/31/2024#") ==
      "WHERE d >= DATE '2024-01-31'")
    assert(translate("WHERE d >= #2024-01-31#") ==
      "WHERE d >= DATE '2024-01-31'")
    assert(translate("WHERE t < #12/25/2023 14:30#") ==
      "WHERE t < TIMESTAMP '2023-12-25 14:30:00'")
  }

  test("IIF nests; NZ 2-arg translates; NZ 1-arg rejects") {
    assert(translate("SELECT IIf(a > 1, IIf(b = 2, x, y), Nz(c, 0))") ==
      "SELECT CASE WHEN a > 1 THEN CASE WHEN b = 2 THEN x ELSE y END " +
        "ELSE COALESCE(c, 0) END")
    val e = intercept[IllegalArgumentException] {
      translate("SELECT Nz(a) FROM t")
    }
    assert(e.getMessage.contains("context-dependent"))
  }

  test("plain TOP n is tie-aware by default (RANK windowed form); a " +
    "declared unique ORDER BY key or no ORDER BY keeps the LIMIT " +
    "fast path") {
    val uk = Map("t" -> Seq(Set("a")))
    assert(graft.sources.JetSql.translate(
      "SELECT TOP 5 a FROM t ORDER BY a", Map.empty, uk) ==
      "SELECT a FROM t ORDER BY a LIMIT 5")
    assert(graft.sources.JetSql.translate(
      "SELECT DISTINCT TOP 5 a FROM t ORDER BY a", Map.empty, uk) ==
      "SELECT DISTINCT a FROM t ORDER BY a LIMIT 5")
    // qualified and aliased key references still prove unique
    assert(graft.sources.JetSql.translate(
      "SELECT TOP 5 a FROM t ORDER BY t.a DESC", Map.empty, uk) ==
      "SELECT a FROM t ORDER BY t.a DESC LIMIT 5")
    assert(graft.sources.JetSql.translate(
      "SELECT TOP 5 a FROM t AS x ORDER BY x.a, b", Map.empty, uk) ==
      "SELECT a FROM t AS x ORDER BY x.a, b LIMIT 5")
    // no ORDER BY: an arbitrary slice either way — LIMIT stays
    assert(translate("SELECT TOP 5 a FROM t") ==
      "SELECT a FROM t LIMIT 5")
    // no declaration → Access keeps the whole boundary tie group →
    // the same RANK machinery as TOP n PERCENT
    assert(translate("SELECT TOP 5 a FROM t ORDER BY a") ==
      "SELECT * EXCEPT (__jet_rk) FROM (SELECT *, RANK() OVER " +
        "(ORDER BY a) AS __jet_rk FROM (SELECT a FROM t)) " +
        "WHERE __jet_rk <= 5 ORDER BY a")
    // a unique key of the WRONG table, a multi-table FROM, or a key
    // set not covered by the ORDER BY all stay tie-aware
    assert(graft.sources.JetSql.translate(
      "SELECT TOP 5 a FROM t ORDER BY b", Map.empty, uk)
      .contains("__jet_rk"))
    assert(graft.sources.JetSql.translate(
      "SELECT TOP 2 t.a FROM t INNER JOIN u ON t.k = u.k " +
        "ORDER BY t.a", Map.empty, uk).contains("__jet_rk"))
    // EXECUTES with Access tie semantics: TOP 2 over (1,2,2,3) is 3
    // rows — the boundary tie group comes along
    val spark = TestSpark.session
    spark.sql("SELECT * FROM VALUES (1),(2),(2),(3) AS top_ties(a)")
      .createOrReplaceTempView("top_ties")
    val got = spark.sql(translate(
      "SELECT TOP 2 a FROM top_ties ORDER BY a"))
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(1, 2, 2))
  }

  test("TOP n PERCENT translates to the tie-aware windowed form and " +
    "executes with Access's boundary-tie semantics") {
    val sql = translate("SELECT TOP 25 PERCENT a FROM t ORDER BY a")
    assert(sql.contains("RANK() OVER (ORDER BY a)"))
    assert(sql.contains("CEILING(__jet_n * 25 / 100.0)"))
    assert(sql.contains("SELECT * EXCEPT (__jet_rk, __jet_n)"))
    val spark = TestSpark.session
    // 8 rows, 25% → ceil(2) = 2 rows; the value at the boundary (2)
    // TIES with a third row — Access includes it, LIMIT would not
    spark.sql("SELECT * FROM VALUES (1),(2),(2),(3),(4),(5),(6),(7) " +
      "AS t(a)").createOrReplaceTempView("t")
    val got = spark.sql(sql).collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 2, 2), got)
    // the helper columns must not leak into the output schema
    assert(spark.sql(sql).columns.toSeq == Seq("a"))
    // DISTINCT composes: duplicates collapse BEFORE the percentage
    val d = spark.sql(translate(
      "SELECT DISTINCT TOP 50 PERCENT a FROM t ORDER BY a"))
      .collect().map(_.getInt(0)).toSeq
    assert(d == Seq(1, 2, 3, 4), d) // 7 distinct → ceil(3.5) = 4
    // guard rails: no ORDER BY / positional key / JDBC target reject
    intercept[IllegalArgumentException] {
      translate("SELECT TOP 10 PERCENT a FROM t")
    }
    intercept[IllegalArgumentException] {
      translate("SELECT TOP 10 PERCENT a FROM t ORDER BY 1")
    }
    intercept[IllegalArgumentException] {
      graft.sources.JetSql.translateForJdbc(
        "SELECT TOP 10 PERCENT [a] FROM t ORDER BY [a]")
    }
  }

  test("concat operator, LIKE wildcards (only inside the pattern), " +
    "function renames, cast functions") {
    assert(translate(
      "SELECT a & \"-\" & b WHERE nm LIKE \"Sm*th?\"") ==
      "SELECT concat_ws('', a, '-', b) WHERE nm LIKE 'Sm%th_'")
    // a * outside LIKE stays multiplication; a * inside an ordinary
    // string stays a star
    assert(translate("""SELECT a * 2, "lit*eral" FROM t""") ==
      "SELECT a * 2, 'lit*eral' FROM t")
    assert(translate("SELECT UCase(Mid(nm, 2, 3)), Len(nm), " +
      "CDbl(qty), CLng(qty), Now(), Date()") ==
      "SELECT upper(substr(nm, 2, 3)), length(nm), " +
        "CAST(qty AS DOUBLE), CAST(BROUND(qty) AS BIGINT), " +
        "current_timestamp, current_date")
    // CLng is Access banker's rounding, not a truncating cast:
    // CLng(2.5) = 2, CLng(3.5) = 4 — BROUND matches both
    val spark = TestSpark.session
    val r = spark.sql(translate("SELECT CLng(2.5) AS a, CLng(3.5) AS b"))
      .collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 4L)
  }

  test("& treats Null as empty string like Jet (ANSI || would " +
    "propagate the null); JDBC mode renders the portable COALESCE " +
    "form; LIKE patterns built by & reject") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT Null & \"x\" AS a, \"y\" & Null & \"z\" AS b, " +
        "Nz(Null, \"n\") & (1 + 2) AS c")).collect()(0)
    assert(r.getString(0) == "x")
    assert(r.getString(1) == "yz")
    assert(r.getString(2) == "n3") // numbers coerce to text like Jet
    assert(graft.sources.JetSql.translateForJdbc(
      "SELECT [a] & \"-\" & [b] FROM t") ==
      "SELECT (COALESCE(\"a\", '') || COALESCE('-', '') || " +
        "COALESCE(\"b\", '')) FROM t")
    val e = intercept[IllegalArgumentException] {
      translate("WHERE nm LIKE \"Sm\" & \"ith\"")
    }
    assert(e.getMessage.contains("concatenation"))
    // LEFT/RIGHT are join keywords AND functions: a call's tokens must
    // stay inside the & operand, while LEFT JOIN still bounds runs
    assert(translate("SELECT Left([a], 2) & Right([b], 1) FROM t") ==
      "SELECT concat_ws('', Left(a, 2), Right(b, 1)) FROM t")
    assert(translate(
      "SELECT [t].[x] & [u].[y] FROM t LEFT JOIN u ON [t].[k] = [u].[k]") ==
      "SELECT concat_ws('', t.x, u.y) " +
        "FROM t LEFT JOIN u ON t.k = u.k")
    // a bracketed column NAMED like a keyword stays inside the chain
    assert(translate("SELECT [Order] & [End] FROM t") ==
      "SELECT concat_ws('', order, end) FROM t")
  }

  test("multi-space runs inside string literals survive (spacing is " +
    "token-level, never a regex over the output)") {
    assert(translate("SELECT \"two  spaces   here\" FROM t") ==
      "SELECT 'two  spaces   here' FROM t")
  }

  test("UNION saved queries pass through with per-branch rewrites; " +
    "3-arg InStr maps to locate, 4-arg compare 0/1 translate (r12), " +
    "database/option compare rejects") {
    assert(translate(
      "SELECT [a], UCase([b]) FROM t WHERE [a] > 1 " +
        "UNION ALL SELECT [a], Nz([b], \"?\") FROM u") ==
      "SELECT a, upper(b) FROM t WHERE a > 1 " +
        "UNION ALL SELECT a, COALESCE(b, '?') FROM u")
    assert(translate("SELECT InStr(3, nm, \"-\") FROM t") ==
      "SELECT locate('-', nm, 3) FROM t")
    assert(translate("SELECT InStr(3, nm, \"-\", 0) FROM t") ==
      "SELECT locate('-', nm, 3) FROM t")
    assert(translate("SELECT InStr(3, nm, \"X\", 1) FROM t") ==
      "SELECT locate(lower('X'), lower(nm), 3) FROM t")
    intercept[IllegalArgumentException] {
      translate("SELECT InStr(3, nm, \"-\", 2) FROM t")
    }
    intercept[IllegalArgumentException] {
      translate("SELECT InStr(3, nm, \"-\", -1) FROM t")
    }
  }

  test("a column merely NAMED [Top] is not the TOP keyword") {
    assert(translate("SELECT [Top], a FROM t WHERE [Top] > 3") ==
      "SELECT top, a FROM t WHERE top > 3")
  }

  test("bracketed reserved words are identifiers EVERYWHERE — " +
    "[Order]/[Group] in a TOP query must not read as keywords") {
    // r11 review: depth0Word matched the ident [Order] as the ORDER
    // keyword and the TOP pre-pass then failed 'ORDER without BY'
    assert(translate("SELECT TOP 5 a FROM t WHERE [Order] > 3") ==
      "SELECT a FROM t WHERE order > 3 LIMIT 5")
    assert(graft.sources.JetSql.translate(
      "SELECT TOP 2 [Order] FROM t ORDER BY [Order]", Map.empty,
      Map("t" -> Seq(Set("Order")))) ==
      "SELECT order FROM t ORDER BY order LIMIT 2")
    assert(translate("SELECT a, [Group] FROM t WHERE [Group] = 1") ==
      "SELECT a, group FROM t WHERE group = 1")
  }

  test("INSERT INTO … SELECT TOP n gets the same tie-aware treatment " +
    "as a standalone SELECT (the Access append-query form)") {
    val uk = Map("t" -> Seq(Set("a")))
    // provably-unique key → LIMIT fast path, INSERT header intact
    assert(graft.sources.JetSql.translate(
      "INSERT INTO x SELECT TOP 2 a FROM t ORDER BY a", Map.empty, uk)
      == "INSERT INTO x SELECT a FROM t ORDER BY a LIMIT 2")
    // not provably unique → the windowed form, behind the header
    assert(translate(
      "INSERT INTO x SELECT TOP 2 a FROM t ORDER BY a") ==
      "INSERT INTO x SELECT * EXCEPT (__jet_rk) FROM (SELECT *, " +
        "RANK() OVER (ORDER BY a) AS __jet_rk FROM (SELECT a FROM " +
        "t)) WHERE __jet_rk <= 2 ORDER BY a")
    // JDBC target without a declared key → the loud uniqueness
    // rejection, no longer bypassed by the INSERT header
    val e = intercept[IllegalArgumentException] {
      graft.sources.JetSql.translateForJdbc(
        "INSERT INTO x SELECT TOP 2 a FROM t ORDER BY a")
    }
    assert(e.getMessage.contains("uniqueKeys"), e.getMessage)
    // DISTINCTROW subset rides behind an INSERT header too
    assert(graft.sources.JetSql.translate(
      "INSERT INTO x SELECT DISTINCTROW t.pk, t.a FROM t INNER " +
        "JOIN u ON t.k = u.k", Map.empty, Map("t" -> Seq(Set("pk"))))
      == "INSERT INTO x SELECT DISTINCT t.pk, t.a FROM t INNER " +
        "JOIN u ON t.k = u.k")
    // INSERT … VALUES is untouched by the pre-passes
    assert(translate("INSERT INTO x (a) VALUES (1)") ==
      "INSERT INTO x (a) VALUES (1)")
  }

  test("a select-list alias SHADOWING a unique-key name voids the " +
    "LIMIT fast path (Access resolves ORDER BY aliases first)") {
    val uk = Map("t" -> Seq(Set("pk")))
    // ORDER BY pk binds to the alias (= region, which can tie) — the
    // r11 review's fake-proof case; must go tie-aware
    assert(graft.sources.JetSql.translate(
      "SELECT TOP 3 region AS pk FROM t ORDER BY pk", Map.empty, uk)
      .contains("__jet_rk"))
    // a QUALIFIED t.pk cannot be shadowed — fast path holds
    assert(graft.sources.JetSql.translate(
      "SELECT TOP 3 region AS pk, t.pk AS realpk FROM t " +
        "ORDER BY t.pk", Map.empty, uk).endsWith("LIMIT 3"))
  }

  test("tie-aware TOP keys resolve IN the original scope: qualified " +
    "refs, non-projected columns, and GROUP BY aliases all execute") {
    val spark = TestSpark.session
    spark.sql("SELECT * FROM VALUES (1, 10), (2, 20), (2, 30), (3, 40)" +
      " AS jt(a, b)").createOrReplaceTempView("jt")
    // qualified key over a single table (designer-emitted style)
    val q1 = spark.sql(translate(
      "SELECT TOP 2 a FROM jt ORDER BY jt.a"))
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(q1 == Seq(1, 2, 2), q1) // boundary tie group included
    // non-projected ORDER BY column (legal in Access outside DISTINCT)
    val q2 = spark.sql(translate(
      "SELECT TOP 1 a FROM jt ORDER BY b DESC"))
    assert(q2.columns.toSeq == Seq("a")) // helper cols must not leak
    assert(q2.collect().map(_.getInt(0)).toSeq == Seq(3))
    // GROUP BY scope ordering on an aggregate alias
    val q3 = spark.sql(translate(
      "SELECT TOP 1 a, Count(*) AS n FROM jt GROUP BY a ORDER BY n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(q3 == Seq((1, 1L), (3, 1L)), q3) // n=1 ties: both kept
    // DISTINCT + single-table-qualified output key: qualifier strips
    val q4 = spark.sql(translate(
      "SELECT DISTINCT TOP 2 a FROM jt ORDER BY jt.a"))
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(q4 == Seq(1, 2), q4)
    // DISTINCT + non-output key rejects loudly (Access requires
    // DISTINCT's ORDER BY fields in the select list)
    intercept[IllegalArgumentException] {
      translate("SELECT DISTINCT TOP 2 a FROM jt ORDER BY b")
    }
  }

  test("DISTINCTROW output qualifier may be a table ALIAS — the " +
    "unique key resolves through the FROM clause") {
    val uk = Map("t" -> Seq(Set("pk")))
    assert(graft.sources.JetSql.translate(
      "SELECT DISTINCTROW x.a FROM t AS x INNER JOIN u ON x.k = u.k",
      Map.empty, uk) ==
      "SELECT x.a FROM t AS x INNER JOIN u ON x.k = u.k " +
        "GROUP BY x.a, x.pk")
    // implicit (no-AS) alias form
    assert(graft.sources.JetSql.translate(
      "SELECT DISTINCTROW x.pk, x.a FROM t x, u WHERE x.k = u.k",
      Map.empty, uk) ==
      "SELECT DISTINCT x.pk, x.a FROM t x, u WHERE x.k = u.k")
  }

  test("a trailing semicolon (the Access saved-query terminator) is " +
    "stripped before any analysis — it must not ride into ORDER BY " +
    "keys or the DISTINCTROW rewrite") {
    val uk = Map("t" -> Seq(Set("pk")))
    // r11 review wave 2: the ';' swept into the key tokens, defeating
    // the unique proof and emitting 'pk; AS __jet_k0'
    assert(graft.sources.JetSql.translate(
      "SELECT TOP 2 a FROM t ORDER BY pk;", Map.empty, uk) ==
      "SELECT a FROM t ORDER BY pk LIMIT 2")
    assert(graft.sources.JetSql.translateForJdbc(
      "SELECT TOP 2 a FROM t ORDER BY pk;", Map.empty, uk) ==
      "SELECT a FROM t ORDER BY pk LIMIT 2")
    assert(graft.sources.JetSql.translate(
      "SELECT DISTINCTROW x.a FROM t AS x INNER JOIN u ON x.k = u.k;",
      Map.empty, uk) ==
      "SELECT x.a FROM t AS x INNER JOIN u ON x.k = u.k " +
        "GROUP BY x.a, x.pk")
    assert(translate("SELECT a FROM t;") == "SELECT a FROM t")
  }

  test("a derived table's alias must NOT inherit the base table's " +
    "unique keys through fromAliases") {
    val uk = Map("t" -> Seq(Set("pk")))
    // r11 review wave 2: the inner 't AS sub' leaked sub->t into the
    // outer map, silently lending t's record identity to a subquery
    // whose records need not be t's — the correct behavior is the
    // loud no-declared-key rejection
    val e = intercept[IllegalArgumentException] {
      graft.sources.JetSql.translate(
        "SELECT DISTINCTROW sub.a FROM (SELECT pk, a, k FROM t AS " +
          "sub) AS sub INNER JOIN u ON sub.k = u.k", Map.empty, uk)
    }
    assert(e.getMessage.contains("unique"), e.getMessage)
    // a parenthesized JOIN GROUP (no leading SELECT) still resolves
    assert(graft.sources.JetSql.translate(
      "SELECT DISTINCTROW x.a FROM (t AS x INNER JOIN u ON x.k = " +
        "u.k) INNER JOIN w ON x.k = w.k", Map.empty, uk) ==
      "SELECT x.a FROM (t AS x INNER JOIN u ON x.k = u.k) INNER " +
        "JOIN w ON x.k = w.k GROUP BY x.a, x.pk")
  }

  test("single-table DISTINCTROW TOP with a non-output ORDER BY key " +
    "translates (Access ignores DISTINCTROW there); multi-table " +
    "DISTINCTROW TOP n without ORDER BY gets LIMIT after GROUP BY") {
    // r11 review wave 2: the tie-aware path treated the ignored
    // DISTINCTROW like DISTINCT and rejected the designer-default
    // shape with a false message
    val tr = translate("SELECT DISTINCTROW TOP 5 a FROM t ORDER BY b")
    assert(tr.contains("__jet_k0"), tr)
    assert(tr.contains("FROM (SELECT a, b AS __jet_k0 FROM t))"), tr)
    // multi-table DISTINCTROW + TOP n (no ORDER BY): the TOP tokens
    // must not poison the select-list parse, and the LIMIT lands
    // after the appended GROUP BY
    assert(graft.sources.JetSql.translate(
      "SELECT DISTINCTROW TOP 5 x.a FROM t AS x INNER JOIN u ON " +
        "x.k = u.k", Map.empty, Map("t" -> Seq(Set("pk")))) ==
      "SELECT x.a FROM t AS x INNER JOIN u ON x.k = u.k " +
        "GROUP BY x.a, x.pk LIMIT 5")
    // ... and on the DISTINCT branch (key in output) em's own LIMIT
    // placement is already right
    assert(graft.sources.JetSql.translate(
      "SELECT DISTINCTROW TOP 5 x.pk, x.a FROM t AS x INNER JOIN u " +
        "ON x.k = u.k", Map.empty, Map("t" -> Seq(Set("pk")))) ==
      "SELECT DISTINCT x.pk, x.a FROM t AS x INNER JOIN u ON " +
        "x.k = u.k LIMIT 5")
  }

  test("translateForJdbc sees through its own quoting: bracketed " +
    "columns still prove TOP uniqueness and drive the DISTINCTROW " +
    "subset") {
    val uk = Map("t" -> Seq(Set("a")), "tt" -> Seq(Set("pk")))
    // r11 review: the quoting pass ran before emit, so [a] became a
    // raw token the uniqueness proof could not see — the documented
    // uniqueKeys remedy could never work on the JDBC path
    assert(graft.sources.JetSql.translateForJdbc(
      "SELECT TOP 5 [a] FROM t ORDER BY [a]", Map.empty, uk) ==
      "SELECT \"a\" FROM t ORDER BY \"a\" LIMIT 5")
    // DISTINCTROW DISTINCT path with bracketed columns on JDBC
    assert(graft.sources.JetSql.translateForJdbc(
      "SELECT DISTINCTROW tt.[pk], tt.[a] FROM tt INNER JOIN u " +
        "ON tt.[k] = u.[k]", Map.empty, uk) ==
      "SELECT DISTINCT tt.\"pk\", tt.\"a\" FROM tt INNER JOIN u " +
        "ON tt.\"k\" = u.\"k\"")
    // GROUP BY path: appended key column is quoted case-exact
    assert(graft.sources.JetSql.translateForJdbc(
      "SELECT DISTINCTROW tt.[a] FROM tt INNER JOIN u ON tt.k = u.k",
      Map.empty, uk) ==
      "SELECT tt.\"a\" FROM tt INNER JOIN u ON tt.k = u.k " +
        "GROUP BY tt.\"a\", tt.\"pk\"")
  }

  test("untranslatable constructs reject loudly, never silently wrong") {
    for (bad <- Seq(
      "TRANSFORM Sum(x) SELECT a FROM t PIVOT b", // no IN list
      "SELECT Format(x) FROM t", // 1-arg general Format
      "SELECT DISTINCTROW a FROM t INNER JOIN u ON t.k = u.k",
      "SELECT DLookUp('x', 't') FROM u")) {
      val e = intercept[IllegalArgumentException] { translate(bad) }
      assert(e.getMessage.contains("jetsql:"), s"$bad → ${e.getMessage}")
    }
  }

  test("single-table DISTINCTROW drops (Access ignores it there); " +
    "multi-table and out-of-position forms reject") {
    assert(translate("SELECT DISTINCTROW a, b FROM t WHERE a > 1") ==
      "SELECT a, b FROM t WHERE a > 1")
    // the designer default composes with TOP (keyword position holds;
    // the undeclared ORDER BY key makes it the tie-aware form, and the
    // single-table DISTINCTROW drops inside the inner scope)
    assert(translate("SELECT DISTINCTROW TOP 3 a FROM t ORDER BY a") ==
      "SELECT * EXCEPT (__jet_rk) FROM (SELECT *, RANK() OVER " +
        "(ORDER BY a) AS __jet_rk FROM (SELECT a FROM t)) " +
        "WHERE __jet_rk <= 3 ORDER BY a")
    assert(graft.sources.JetSql.translate(
      "SELECT DISTINCTROW TOP 3 a FROM t ORDER BY a", Map.empty,
      Map("t" -> Seq(Set("a")))) ==
      "SELECT a FROM t ORDER BY a LIMIT 3")
    // comma-list FROM is multi-table even without a JOIN keyword;
    // without a declared unique key, record identity is unprovable
    intercept[IllegalArgumentException] {
      translate("SELECT DISTINCTROW t.a FROM t, u WHERE t.k = u.k")
    }
    intercept[IllegalArgumentException] {
      translate("SELECT a, DISTINCTROW b FROM t")
    }
    // a UNION's later branch is judged by its OWN FROM clause — a
    // multi-table DISTINCTROW in branch 2 must not slip through
    // because branch 1 was single-table (round-10 review finding)
    intercept[IllegalArgumentException] {
      translate("SELECT a FROM t UNION " +
        "SELECT DISTINCTROW u.b FROM u, w WHERE u.k = w.k")
    }
    assert(translate("SELECT a FROM t UNION SELECT DISTINCTROW b FROM u")
      == "SELECT a FROM t UNION SELECT b FROM u")
  }

  test("multi-table DISTINCTROW with one output table translates to " +
    "record-identity dedup when the unique key is declared") {
    val uk = Map("t" -> Seq(Set("pk")))
    def tr(sql: String) =
      graft.sources.JetSql.translate(sql, Map.empty, uk)
    // key NOT in output: GROUP BY output + key (one row per matched
    // t-record; two records agreeing on a must NOT merge)
    assert(tr("SELECT DISTINCTROW t.a FROM t INNER JOIN u ON t.k = u.k")
      == "SELECT t.a FROM t INNER JOIN u ON t.k = u.k GROUP BY t.a, t.pk")
    // WHERE stays ahead of the appended GROUP BY; ORDER BY stays behind
    assert(tr("SELECT DISTINCTROW t.a, t.b FROM t, u " +
      "WHERE t.k = u.k ORDER BY t.a")
      == "SELECT t.a, t.b FROM t, u WHERE t.k = u.k " +
        "GROUP BY t.a, t.b, t.pk ORDER BY t.a")
    // key IN the output (or t.*): output dedup == record dedup, so
    // plain DISTINCT suffices
    assert(tr("SELECT DISTINCTROW t.pk, t.a FROM t INNER JOIN u " +
      "ON t.k = u.k")
      == "SELECT DISTINCT t.pk, t.a FROM t INNER JOIN u ON t.k = u.k")
    assert(tr("SELECT DISTINCTROW t.* FROM t INNER JOIN u ON t.k = u.k")
      == "SELECT DISTINCT t.* FROM t INNER JOIN u ON t.k = u.k")
    // aliases on output columns group by the underlying column
    assert(tr("SELECT DISTINCTROW t.a AS x FROM t INNER JOIN u " +
      "ON t.k = u.k")
      == "SELECT t.a AS x FROM t INNER JOIN u ON t.k = u.k " +
        "GROUP BY t.a, t.pk")
    // no declared key -> loud rejection pointing at uniqueKeys
    val e = intercept[IllegalArgumentException] {
      translate("SELECT DISTINCTROW t.a FROM t INNER JOIN u ON t.k = u.k")
    }
    assert(e.getMessage.contains("uniqueKeys"), e.getMessage)
    // output fields from SEVERAL tables keep the general rejection
    intercept[IllegalArgumentException] {
      graft.sources.JetSql.translate(
        "SELECT DISTINCTROW t.a, u.b FROM t INNER JOIN u ON t.k = u.k",
        Map.empty, uk)
    }
    // expressions in the select list keep the rejection too
    intercept[IllegalArgumentException] {
      graft.sources.JetSql.translate(
        "SELECT DISTINCTROW t.a + 1 FROM t INNER JOIN u ON t.k = u.k",
        Map.empty, uk)
    }
  }

  test("Jet LIKE charlist and # digit wildcards translate to an " +
    "anchored RLIKE regex on the engine target; JDBC targets reject") {
    assert(translate("WHERE nm LIKE \"Sm[iy]th\"") ==
      "WHERE nm RLIKE '^Sm[iy]th$'")
    assert(translate("WHERE code LIKE \"A#-*\"") ==
      "WHERE code RLIKE '^A[0-9]-.*$'")
    // negated class, range, and regex-special literals all escape
    assert(translate("WHERE x LIKE \"[!a-c].(v)\"") ==
      "WHERE x RLIKE '^[^a-c]\\\\.\\\\(v\\\\)$'")
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT IIf(\"Smith\" LIKE \"Sm[iy]th\", 1, 0) AS a, " +
        "IIf(\"Smyth\" LIKE \"Sm[iy]th\", 1, 0) AS b, " +
        "IIf(\"Smath\" LIKE \"Sm[iy]th\", 1, 0) AS c, " +
        "IIf(\"A7-xy\" LIKE \"A#-*\", 1, 0) AS d, " +
        "IIf(\"Ax-xy\" LIKE \"A#-*\", 1, 0) AS e, " +
        "IIf(\"a.(v)\" LIKE \"[!a-c].(v)\", 1, 0) AS f, " +
        "IIf(\"z.(v)\" LIKE \"[!a-c].(v)\", 1, 0) AS g, " +
        "IIf(\"Smith!\" NOT LIKE \"Sm[iy]th\", 1, 0) AS h, " +
        // ? is exactly one character, on the LIKE and the RLIKE path
        "IIf(\"Smith\" LIKE \"Sm?th\", 1, 0) AS i, " +
        "IIf(\"Smth\" LIKE \"Sm?th\", 1, 0) AS j, " +
        "IIf(\"Snoth\" LIKE \"S[mn]?th\", 1, 0) AS k, " +
        // Switch with no true arm is NULL, not a default
        "Switch(1 > 2, 1, 1 > 3, 2) AS l"))
      .collect()(0)
    assert((0 to 10).map(r.getInt) ==
      Seq(1, 1, 0, 1, 0, 0, 1, 1, 1, 0, 1))
    assert(r.isNullAt(11))
    // JDBC target: regex operators are dialect-specific → still loud
    val e = intercept[IllegalArgumentException] {
      graft.sources.JetSql.translateForJdbc(
        "SELECT [a] FROM t WHERE [nm] LIKE \"Sm[iy]th\"")
    }
    assert(e.getMessage.contains("JDBC"), e.getMessage)
    // the Access trap spellings stay loud rather than frozen wrong
    intercept[IllegalArgumentException] {
      translate("WHERE x LIKE \"a[]b\"")
    }
    intercept[IllegalArgumentException] {
      translate("WHERE x LIKE \"a[!]b\"")
    }
    // a bound Text PARAMETER after LIKE is a pattern too: its Jet
    // wildcards must translate exactly like a literal's (round-10
    // review finding — the raw substituted literal used to pass
    // through and match a literal '*')
    assert(graft.sources.JetSql.translate(
      "PARAMETERS [pat] Text; SELECT a FROM t WHERE nm LIKE [pat]",
      Map("pat" -> "Sm*th's")) ==
      "SELECT a FROM t WHERE nm LIKE 'Sm%th''s'")
    assert(graft.sources.JetSql.translate(
      "PARAMETERS [pat] Text; SELECT a FROM t WHERE nm LIKE [pat]",
      Map("pat" -> "Sm[iy]th")) ==
      "SELECT a FROM t WHERE nm RLIKE '^Sm[iy]th$'")
  }

  test("literal '%' / '_' in a Jet LIKE pattern stay literal: engine " +
    "routes through anchored RLIKE, JDBC rejects loudly") {
    // Jet "100%*" means literal '100%' then anything — ANSI LIKE
    // '100%%' would also match '1001'
    assert(translate("SELECT a FROM t WHERE nm LIKE \"100%*\"") ==
      "SELECT a FROM t WHERE nm RLIKE '^100%.*$'")
    assert(translate("SELECT a FROM t WHERE nm LIKE \"a_b\"") ==
      "SELECT a FROM t WHERE nm RLIKE '^a_b$'")
    val spark = TestSpark.session
    val row = spark.sql(translate(
      "SELECT IIf(\"100%\" LIKE \"100%*\", 1, 0) AS yes, " +
        "IIf(\"1001\" LIKE \"100%*\", 1, 0) AS no")).collect()(0)
    assert(row.getInt(0) == 1 && row.getInt(1) == 0)
    intercept[IllegalArgumentException] {
      graft.sources.JetSql.translateForJdbc(
        "SELECT a FROM t WHERE nm LIKE \"100%*\"")
    }
  }

  test("numeric helpers: Int floors, Fix truncates toward zero, Sgn, " +
    "Sqr, CStr, CCur — and a bare `AS INT` cast target is untouched") {
    assert(translate("SELECT Int(x), Fix(x), Sgn(x), Sqr(x) FROM t") ==
      "SELECT FLOOR(x), CAST(x AS BIGINT), sign(x), sqrt(x) FROM t")
    assert(translate("SELECT CStr(n), CCur(p) FROM t") ==
      "SELECT CAST(n AS STRING), " +
        "CAST(BROUND(p, 4) AS DECIMAL(19,4)) FROM t")
    assert(translate("SELECT CAST(x AS INT) FROM t") ==
      "SELECT CAST(x AS INT) FROM t")
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT Int(-2.5) AS a, Fix(-2.5) AS b, CCur(2.5) AS c")).collect()(0)
    assert(r.getAs[Number]("a").longValue == -3L) // Int floors toward -inf
    assert(r.getLong(1) == -2L) // Fix truncates toward zero
    assert(r.getDecimal(2).toPlainString == "2.5000")
  }

  test("DatePart/Weekday: Jet interval codes; ww translates under " +
    "EVERY documented firstdayofweek/firstweekofyear anchor (r13), " +
    "non-literal anchors reject") {
    assert(translate("SELECT DatePart(\"q\", d), Weekday(d) FROM t") ==
      "SELECT quarter(d), dayofweek(d) FROM t")
    val spark = TestSpark.session
    GraftExtensions.register(spark) // ww emits jet_weeknum (r13)
    val r = spark.sql(translate(
      "SELECT DatePart(\"q\", #5/15/2020#) AS q, " +
        "Weekday(#1/5/2020#) AS wd, " + // 2020-01-05 is a Sunday
        "DatePart(\"y\", #2/1/2020#) AS doy")).collect()(0)
    assert(r.getInt(0) == 2 && r.getInt(1) == 1 && r.getInt(2) == 32)
    // ww: 2020 opens on a Wednesday, so week 1 is Jan 1(Wed)–Jan 4
    // (Sat); Jan 5 (Sunday) starts week 2; Dec 31 lands in week 53
    val w = spark.sql(translate(
      "SELECT DatePart(\"ww\", #1/1/2020#) AS w1, " +
        "DatePart(\"ww\", #1/4/2020#) AS w1b, " +
        "DatePart(\"ww\", #1/5/2020#) AS w2, " +
        "DatePart(\"ww\", #12/31/2020#, 1, 1) AS w53")).collect()(0)
    assert(w.getInt(0) == 1 && w.getInt(1) == 1 &&
      w.getInt(2) == 2 && w.getInt(3) == 53)
    // non-default anchors (r13): Weekday rotates; ww follows VB's
    // anchor rules. 2020-01-05 is a Sunday → under vbMonday(2) it is
    // day 7; Jan 1 2021 is a Friday → under (Monday, FirstFourDays)
    // ISO numbering applies: week 53 of 2020. Dec 28 1998 (Monday)
    // stays 53 under the same anchors — VB never rolls late December
    // forward into next year's week 1 (KB 200299), and matching
    // Access means matching that.
    val nd = spark.sql(translate(
      "SELECT Weekday(#1/5/2020#, 2) AS wd_mon, " +
        "Weekday(#1/5/2020#, 7) AS wd_sat, " +
        "DatePart(\"w\", #1/5/2020#, 3) AS w_tue, " +
        "DatePart(\"ww\", #1/1/2021#, 2, 2) AS iso_jan, " +
        "DatePart(\"ww\", #12/28/1998#, 2, 2) AS kb200299, " +
        "DatePart(\"ww\", #1/1/2020#, 1, 3) AS fullweek, " +
        "DateDiff(\"ww\", #1/5/2020#, #1/6/2020#, 2) AS mon_cross"))
      .collect()(0)
    assert(nd.getInt(0) == 7)   // Sunday is day 7 of a Monday week
    assert(nd.getInt(1) == 2)   // ... and day 2 of a Saturday week
    assert(nd.getInt(2) == 6)   // ... and day 6 of a Tuesday week
    assert(nd.getInt(3) == 53)  // ISO-consistent early-January carry
    assert(nd.getInt(4) == 53)  // VB quirk pinned, not "fixed"
    // vbFirstFullWeek: Jan 1 2020 (Wed) is not a week start → week 1
    // begins Sun Jan 5; Jan 1 carries the PREVIOUS year's numbering
    // (week 1 of 2019 began Sun Jan 6 under the same rule → Jan 1
    // 2020 is in its 52nd week)
    assert(nd.getInt(5) == 52)
    assert(nd.getLong(6) == 1L) // Sun→Mon crosses a Monday week start
    intercept[IllegalArgumentException] {
      translate("SELECT Weekday(d, x) FROM t") // non-literal anchor
    }
    intercept[IllegalArgumentException] {
      translate("SELECT DatePart(\"ww\", d, 8) FROM t") // out of range
    }
    intercept[IllegalArgumentException] {
      translate("SELECT DatePart(\"ww\", d, 1, 4) FROM t")
    }
    // r13 ADVICE pin, r14-scoped: the NON-DEFAULT-anchor ww emissions
    // (jet_weeknum/jet_weekstart) splice each date argument exactly
    // ONCE. Default anchors emit stock Spark SQL (r14 ADVICE — the
    // all-jet_weeknum emission broke plain sessions), where the
    // double splice is safe: the translator's output domain has no
    // per-row non-deterministic function (Now() → Spark's
    // query-constant current_timestamp).
    def count(haystack: String, needle: String): Int =
      haystack.sliding(needle.length).count(_ == needle)
    val once = translate("SELECT DatePart(\"ww\", Now(), 2, 2) FROM t")
    assert(count(once, "current_timestamp") == 1, once)
    val diff = translate(
      "SELECT DateDiff(\"ww\", Now(), [d2], 3) FROM t")
    assert(count(diff, "current_timestamp") == 1 &&
      count(diff, "d2") == 1, diff)
  }

  test("ww DEFAULT anchors emit stock Spark SQL (r14): no jet_* " +
    "function in the translation, and the stock formula equals " +
    "jet_weeknum(d,1,1)/jet_weekstart(d,1) densely over 1998-2035") {
    // plain-session safety is a property of the emitted STRING: no
    // registered-function name may appear for default anchors
    // (explicit defaults included), while non-default anchors keep
    // the jet_* emission
    for (q <- Seq(
      "SELECT DatePart(\"ww\", d) FROM t",
      "SELECT DatePart(\"ww\", d, 1) FROM t",
      "SELECT DatePart(\"ww\", d, 1, 1) FROM t",
      "SELECT DatePart(\"ww\", d, 0, 0) FROM t", // vbUseSystem = defaults
      "SELECT DateDiff(\"ww\", a, b) FROM t",
      "SELECT DateDiff(\"ww\", a, b, 1) FROM t",
      "SELECT DateDiff(\"ww\", a, b, 1, 3) FROM t")) // fwoy ignored
      assert(!translate(q).contains("jet_"), translate(q))
    assert(translate("SELECT DatePart(\"ww\", d, 2) FROM t")
      .contains("jet_weeknum"))
    assert(translate("SELECT DateDiff(\"ww\", a, b, 2) FROM t")
      .contains("jet_weekstart"))
    // value identity, densely: the stock default-anchor formula must
    // agree with jet_weeknum(d, 1, 1) on EVERY day of 1998-01-01 ..
    // 2035-12-31 (covers leap years, Jan-1-on-each-weekday, and the
    // KB 200299 late-December numbering)
    val spark = TestSpark.session
    GraftExtensions.register(spark)
    val stockWw = translate("SELECT DatePart(\"ww\", d) AS w FROM t")
      .stripPrefix("SELECT ").stripSuffix(" FROM t")
      .stripSuffix(" AS w")
    val bad = spark.sql(
      "SELECT d, " + stockWw + " AS stock, " +
        "jet_weeknum(d, 1, 1) AS reg FROM (SELECT " +
        "explode(sequence(DATE '1998-01-01', DATE '2035-12-31')) " +
        "AS d) WHERE " + stockWw + " != jet_weeknum(d, 1, 1)")
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString(", "))
    // same for the DateDiff anchoring: date_sub(d, dayofweek(d)-1)
    // IS jet_weekstart(d, 1) on every day of the range
    val badWs = spark.sql(
      "SELECT d FROM (SELECT explode(sequence(DATE '1998-01-01', " +
        "DATE '2035-12-31')) AS d) " +
        "WHERE date_sub(d, dayofweek(d) - 1) != jet_weekstart(d, 1)")
      .collect()
    assert(badWs.isEmpty, badWs.take(5).mkString(", "))
  }

  test("DateAdd clamps month ends like Access; DateDiff counts " +
    "BOUNDARIES crossed, not elapsed units") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT CAST(DateAdd(\"m\", 1, #1/31/2020#) AS DATE) AS clamp, " +
        "DateDiff(\"m\", #1/31/2020#, #2/1/2020#) AS mb, " +
        "DateDiff(\"d\", #1/1/2020#, #1/10/2020#) AS db, " +
        "DateDiff(\"w\", #1/1/2020#, #1/14/2020#) AS whole_weeks, " +
        "DateDiff(\"ww\", #1/4/2020#, #1/5/2020#) AS sun_cross, " +
        "DateDiff(\"ww\", #1/5/2020#, #1/11/2020#) AS same_week, " +
        "DateDiff(\"h\", #1/1/2020 1:59#, #1/1/2020 2:01#) AS hb, " +
        "DateDiff(\"s\", #1/1/2020 0:0:5#, #1/1/2020 0:1:3#) AS sb"))
      .collect()(0)
    assert(r.getDate(0).toString == "2020-02-29") // Jan 31 + 1m clamps
    assert(r.getInt(1) == 1)   // a month boundary was crossed
    assert(r.getInt(2) == 9)
    assert(r.getLong(3) == 1L) // 13 days = 1 whole 7-day period
    assert(r.getLong(4) == 1L) // Sat→Sun crosses a Sunday week start
    assert(r.getLong(5) == 0L) // Sun→Sat stays inside one Jet week
    assert(r.getLong(6) == 1L) // 1:59→2:01 crosses the 2:00 boundary
    assert(r.getLong(7) == 58L)
  }

  test("PARAMETERS header: typed literal substitution; unbound rejects " +
    "with the name and type") {
    val jet = Seq(
      "PARAMETERS [Start Date] DateTime, [Min Total] Currency,",
      "  [Pri] Text(20), [K] Long;",
      "SELECT a FROM t WHERE d >= [Start Date] AND p >= [Min Total]",
      "  AND priority = [Pri] AND seq > [K]").mkString(" ")
    val got = translate(jet, Map(
      "Start Date" -> java.time.LocalDate.of(1995, 3, 15),
      "min_total" -> BigDecimal("1234.5"),
      "Pri" -> "1-URGENT", "K" -> 42L))
    assert(got ==
      "SELECT a FROM t WHERE d >= DATE '1995-03-15' AND p >= 1234.5000 " +
        "AND priority = '1-URGENT' AND seq > 42")
    val e = intercept[IllegalArgumentException] {
      translate(jet, Map("Pri" -> "x", "K" -> 1,
        "min_total" -> BigDecimal(1)))
    }
    assert(e.getMessage.contains("start_date") &&
      e.getMessage.contains("DATETIME"))
  }

  test("TRANSFORM … PIVOT with an IN list becomes conditional " +
    "aggregation; Count(*) cells count rows") {
    val jet = Seq(
      "TRANSFORM Sum([Unit Price])",
      "SELECT [Region] FROM [Sales Log]",
      "GROUP BY [Region]",
      "PIVOT Year([Sold On]) IN (1995, 1996)").mkString(" ")
    assert(translate(jet) ==
      "SELECT region, " +
        "sum(CASE WHEN (Year(sold_on)) = 1995 THEN unit_price END) " +
        "AS `1995`, " +
        "sum(CASE WHEN (Year(sold_on)) = 1996 THEN unit_price END) " +
        "AS `1996` " +
        "FROM sales_log GROUP BY region")
    // a Count cell with no matching records is NULL in Access (blank),
    // not 0 — the NULLIF restores that over conditional aggregation
    assert(translate(
      "TRANSFORM Count(*) SELECT a FROM t GROUP BY a " +
        "PIVOT b IN (\"x\", \"y\")") ==
      "SELECT a, NULLIF(count(CASE WHEN (b) = 'x' THEN 1 END), 0) " +
        "AS x, NULLIF(count(CASE WHEN (b) = 'y' THEN 1 END), 0) " +
        "AS y FROM t GROUP BY a")
    intercept[IllegalArgumentException] {
      translate("TRANSFORM First(x) SELECT a FROM t GROUP BY a " +
        "PIVOT b IN (1)")
    }
  }

  test("translateCrosstab discovers headings with a bounded DISTINCT " +
    "probe and matches the hand-built pivot") {
    val spark = TestSpark.session
    import spark.implicits._
    Seq(("east", "F", 10), ("east", "O", 5), ("west", "F", 2),
      ("west", "F", 3)).toDF("region", "st", "qty")
      .createOrReplaceTempView("xt_src")
    val sql = graft.sources.JetSql.translateCrosstab(spark,
      "TRANSFORM Sum([qty]) SELECT [region] FROM xt_src " +
        "GROUP BY [region] PIVOT [st]")
    val got = spark.sql(sql).orderBy("region").collect()
    assert(got.map(_.toSeq).toSeq == Seq(
      Seq("east", 10L, 5L), Seq("west", 5L, null)))
    // the probe is bounded
    intercept[IllegalArgumentException] {
      graft.sources.JetSql.translateCrosstab(spark,
        "TRANSFORM Sum([qty]) SELECT [region] FROM xt_src " +
          "GROUP BY [region] PIVOT [qty]", maxHeadings = 2)
    }
  }

  test("Format: deterministic date patterns map to date_format; " +
    "locale-dependent and ambiguous patterns reject") {
    assert(translate("SELECT Format([d], \"yyyy-mm\") FROM t") ==
      "SELECT date_format(d, 'yyyy-MM') FROM t")
    assert(translate("SELECT Format(d, \"q\"), " +
      "Format(t2, \"hh:nn:ss\"), Format(d, \"m/d/yy\")") ==
      "SELECT date_format(d, 'Q'), " +
        "date_format(t2, 'HH:mm:ss'), date_format(d, 'M/d/yy')")
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT Format(#3/7/2020 9:05#, \"yyyy-mm-dd hh:nn\") AS x"))
      .collect()(0)
    assert(r.getString(0) == "2020-03-07 09:05")
    // numeric masks translate since r12 (deterministic subset):
    // ONE %f rendering; grouping is a regex over that same string
    // (format_number would HALF_EVEN exact ties — r12 review). r14
    // adds the explicit NULL guard: Java's Formatter renders a null
    // %f argument as the STRING "null" truncated by the precision
    // ("nu"), so NULL must short-circuit before format_string.
    assert(translate("SELECT Format(n, \"0.00\") FROM t") ==
      "SELECT (CASE WHEN (n) IS NOT NULL THEN " +
        "format_string('%.2f', CAST(n AS DOUBLE)) END) FROM t")
    assert(translate("SELECT Format(n, \"#,##0.0\") FROM t")
      .contains("regexp_replace(format_string('%.1f', " +
        "CAST(n AS DOUBLE))"))
    val nullRender = spark.sql(translate(
      "SELECT Format(IIF(1 = 0, 1, Null), \"0.00\") AS a, " +
        "Format(IIF(1 = 0, 1, Null), \"#,##0\") AS b")).collect()(0)
    assert(nullRender.isNullAt(0) && nullRender.isNullAt(1))
    // exact binary ties round half AWAY FROM ZERO in BOTH families
    val spark2 = TestSpark.session
    val tie = spark2.sql(translate(
      "SELECT Format(2.5, \"#,##0\") AS a, Format(2.5, \"0\") AS b, " +
        "Format(1250.5, \"#,##0\") AS c, " +
        "Format((0 - 2.5), \"0\") AS d")).collect()(0)
    assert(tie.getString(0) == "3" && tie.getString(1) == "3" &&
      tie.getString(2) == "1,251" && tie.getString(3) == "-3")
    // r13: month/day names, AM/PM 12-hour flip, m-after-h minutes
    assert(translate("SELECT Format(d, \"mmm yyyy\") FROM t") ==
      "SELECT date_format(d, 'MMM yyyy') FROM t")
    assert(translate("SELECT Format(d, \"dddd, mmmm d, yyyy\") FROM t")
      == "SELECT date_format(d, 'EEEE, MMMM d, yyyy') FROM t")
    // m directly after h is MINUTES (Jet context rule); a SECOND
    // m-run reverts to month, exactly VB
    assert(translate("SELECT Format(d, \"hh:mm\") FROM t") ==
      "SELECT date_format(d, 'HH:mm') FROM t")
    assert(translate("SELECT Format(d, \"h:m:m\") FROM t") ==
      "SELECT date_format(d, 'H:m:M') FROM t")
    // AM/PM anywhere flips every h-run to 12-hour clock
    assert(translate("SELECT Format(d, \"hh:nn AM/PM\") FROM t") ==
      "SELECT date_format(d, 'hh:mm a') FROM t")
    val amr = spark.sql(translate(
      "SELECT Format(#3/7/2020 14:05#, \"mmm d yyyy hh:mm AM/PM\") " +
        "AS x, Format(#3/7/2020 0:30#, \"h:nn AM/PM\") AS mid, " +
        "Format(#7/4/1995#, \"dddd\") AS dow")).collect()(0)
    assert(amr.getString(0) == "Mar 7 2020 02:05 PM")
    assert(amr.getString(1) == "12:30 AM") // midnight is 12 AM
    assert(amr.getString(2) == "Tuesday")
    for (bad <- Seq(
      "SELECT Format(d, \"am/pm h\")",  // lowercase renders lowercase
      "SELECT Format(d, \"mmmmm\")",    // 5-run: out of subset
      "SELECT Format(d, \"ddddd\")",    // VB short-date shorthand
      "SELECT Format(n, \"#.##\")",     // trimming mask: quirky corner
      "SELECT Format(n, \"00\")",       // zero-pad width vs sign
      "SELECT Format(d, p)"))           // non-literal pattern
      intercept[IllegalArgumentException] { translate(bad) }
  }

  test("Format NAMED formats (r14): Currency/Fixed/Standard/Percent/" +
    "Scientific, Yes/No family, and the six named date/time formats " +
    "render the documented en-US shapes; General Number stays loud") {
    val spark = TestSpark.session
    val num = spark.sql(translate(
      "SELECT Format(1234.567, \"Currency\") AS cur, " +
        "Format((0 - 1234.567), \"Currency\") AS curneg, " +
        "Format(0, \"Currency\") AS curz, " +
        "Format(1234.567, \"Fixed\") AS fx, " +
        "Format(1234.567, \"Standard\") AS std, " +
        "Format(0.125, \"Percent\") AS pct, " +
        "Format(1234.5678, \"Scientific\") AS sci, " +
        "Format((0 - 0.00123), \"scientific\") AS scineg, " +
        "Format(0, \"SCIENTIFIC\") AS sciz")).collect()(0)
    assert(num.getString(0) == "$1,234.57")
    assert(num.getString(1) == "($1,234.57)") // accounting negative
    assert(num.getString(2) == "$0.00")
    assert(num.getString(3) == "1234.57")
    assert(num.getString(4) == "1,234.57")
    assert(num.getString(5) == "12.50%") // x100, two decimals
    assert(num.getString(6) == "1.23E+03")
    assert(num.getString(7) == "-1.23E-03") // case-insensitive name
    assert(num.getString(8) == "0.00E+00")
    val bool = spark.sql(translate(
      "SELECT Format(3, \"Yes/No\") AS y, Format(0, \"Yes/No\") AS n, " +
        "Format((0 - 1), \"True/False\") AS t, " +
        "Format(0, \"On/Off\") AS off")).collect()(0)
    assert(bool.getString(0) == "Yes" && bool.getString(1) == "No")
    assert(bool.getString(2) == "True" && bool.getString(3) == "Off")
    val dt = spark.sql(translate(
      "SELECT Format(#1/5/2020#, \"Long Date\") AS ld, " +
        "Format(#1/5/2020#, \"Medium Date\") AS md, " +
        "Format(#1/5/2020#, \"Short Date\") AS sd, " +
        "Format(#1/5/2020 16:05:06#, \"Long Time\") AS lt, " +
        "Format(#1/5/2020 16:05:06#, \"Medium Time\") AS mt, " +
        "Format(#1/5/2020 16:05:06#, \"Short Time\") AS st"))
      .collect()(0)
    assert(dt.getString(0) == "Sunday, January 5, 2020")
    assert(dt.getString(1) == "05-Jan-20")
    assert(dt.getString(2) == "1/5/2020")
    assert(dt.getString(3) == "4:05:06 PM")
    assert(dt.getString(4) == "04:05 PM")
    assert(dt.getString(5) == "16:05")
    // General Date is CONDITIONAL: date-only at midnight, time-only
    // on Jet's zero day (how Access stores pure times), both else
    val gd = spark.sql(translate(
      "SELECT Format(#1/5/2020#, \"General Date\") AS d0, " +
        "Format(#1/5/2020 16:05:06#, \"General Date\") AS dt0, " +
        "Format(#12/30/1899 14:30:00#, \"General Date\") AS t0, " +
        "Format(#12/30/1899#, \"General Date\") AS zero")).collect()(0)
    assert(gd.getString(0) == "1/5/2020")
    assert(gd.getString(1) == "1/5/2020 4:05:06 PM")
    assert(gd.getString(2) == "2:30:00 PM")
    // CDate(0) — day zero at MIDNIGHT — is a pure time in VB
    // (CStr(CDate(0)) = "12:00:00 AM"); the day-zero branch wins
    // over the midnight branch (r14 review)
    assert(gd.getString(3) == "12:00:00 AM")
    // NULL propagates through every named family (no bare affixes)
    val nu = spark.sql(translate(
      "SELECT Format(IIF(1 = 0, 1, Null), \"Currency\") AS a, " +
        "Format(IIF(1 = 0, 1, Null), \"Yes/No\") AS b")).collect()(0)
    assert(nu.isNullAt(0) && nu.isNullAt(1))
    val e = intercept[IllegalArgumentException] {
      translate("SELECT Format(n, \"General Number\") FROM t")
    }
    assert(e.getMessage.contains("General Number"))
  }

  test("Format multi-section masks (r14): pos;neg;zero;null via CASE " +
    "over the sign; literal affixes $()+- % position verbatim and % " +
    "scales by 100; quirky sections stay loud") {
    val spark = TestSpark.session
    // the Access report staple: accounting parens, neg renders ABS
    val acc = spark.sql(translate(
      "SELECT Format(1234.5, \"$#,##0.00;($#,##0.00)\") AS p, " +
        "Format((0 - 1234.5), \"$#,##0.00;($#,##0.00)\") AS n, " +
        "Format(0, \"$#,##0.00;($#,##0.00)\") AS z")).collect()(0)
    assert(acc.getString(0) == "$1,234.50")
    assert(acc.getString(1) == "($1,234.50)")
    assert(acc.getString(2) == "$0.00") // 2 sections: first covers 0
    // 3 and 4 sections; literal zero/null sections; empty neg section
    // falls back to the positive format on the SIGNED value
    val s34 = spark.sql(translate(
      "SELECT Format((0 - 5), \"0.00;-0.00\") AS a, " +
        "Format(0, \"0.00;(0.00);0\") AS b, " +
        "Format((0 - 5), \"0.00;\") AS c, " +
        "Format(IIF(1 = 0, 1, Null), \"0.00;(0.00);0;-\") AS d, " +
        "Format((0 - 7.25), \"0.00;(0.00);0;-\") AS e")).collect()(0)
    assert(s34.getString(0) == "-5.00")
    assert(s34.getString(1) == "0")
    assert(s34.getString(2) == "-5.00") // empty neg -> pos, signed
    assert(s34.getString(3) == "-")     // null section literal
    assert(s34.getString(4) == "(7.25)")
    // single-section affixes: positional literals, % scaling
    val aff = spark.sql(translate(
      "SELECT Format((0 - 5), \"$0.00\") AS a, " +
        "Format(0.5, \"0%\") AS b, Format(0.125, \"0.00%\") AS c, " +
        "Format(12.3456, \"#,##0.0%\") AS d")).collect()(0)
    assert(aff.getString(0) == "$-5.00") // VB literals are positional
    assert(aff.getString(1) == "50%")
    assert(aff.getString(2) == "12.50%")
    assert(aff.getString(3) == "1,234.6%")
    // rounding model unchanged through sections: exact binary tie
    // rounds half away from zero on the rendered abs value
    val tie = spark.sql(translate(
      "SELECT Format((0 - 2.5), \"0;(0)\") AS t")).collect()(0)
    assert(tie.getString(0) == "(3)")
    for (bad <- Seq(
      "SELECT Format(n, \"0.00;x0.00\") FROM t", // affix outside set
      "SELECT Format(n, \"0.00;0.00;0;0\") FROM t", // digit null sect
      "SELECT Format(n, \"0;0;0;0;0\") FROM t",  // five sections
      "SELECT Format(n, \";0.00\") FROM t"))     // literal-less pos
      intercept[IllegalArgumentException] { translate(bad) }
    // NaN dispatch is CONSISTENT across section counts (r14 review
    // wave 2 asked): Spark comparisons order NaN above every number,
    // so NaN > 0 is TRUE and NaN always takes the POSITIVE section —
    // rendering the string "NaN" with that section's affixes, same
    // as the 1- and 2-section forms. Pinned so a future dispatch
    // rewrite can't silently route NaN to the zero/null arms.
    val nan = spark.sql(translate(
      "SELECT Format(CDbl(\"NaN\"), \"0.00\") AS a, " +
        "Format(CDbl(\"NaN\"), \"$0.00;($0.00)\") AS b, " +
        "Format(CDbl(\"NaN\"), \"0.00;(0.00);0;-\") AS c")).collect()(0)
    assert(nan.getString(0) == "NaN")
    assert(nan.getString(1) == "$NaN")
    assert(nan.getString(2) == "NaN")
  }

  test("FORMAT on a JDBC target rejects at TRANSLATE time (r14 wave " +
    "3): the emission is Spark SQL Derby can't run — failing at the " +
    "target would blame the wrong layer") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.JetSql.translateForJdbc(
        "UPDATE t SET lbl = Format([amt], \"Currency\")")
    }
    assert(e.getMessage.contains("JDBC target"), e.getMessage)
    // the Spark-targeted translation of the same shape still works
    assert(translate("SELECT Format([amt], \"Currency\") FROM t")
      .contains("format_string"))
  }

  test("Format quoted/escaped literal affixes (r14.1): \"...\" runs " +
    "and \\x escapes render verbatim around the digit core; quoted " +
    "; 0 # % are literal text, not structure; ' and \\ content " +
    "reject (three-dialect escape hazard)") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT Format(12.5, \"0.00\"\" kg\"\"\") AS kg, " +
        "Format(1234.5, \"\"\"$\"\"#,##0.00\") AS cur, " +
        "Format(0.5, \"0.00\"\"%\"\"\") AS litpct, " +
        "Format(7, \"0\"\" items; more\"\"\") AS semi, " +
        "Format(3, \"0\\!\") AS bang, " +
        "Format((0 - 9.5), \"$0.00;(\"\"minus \"\"$0.00)\") AS neg"))
      .collect()(0)
    assert(r.getString(0) == "12.50 kg")
    assert(r.getString(1) == "$1,234.50")
    // QUOTED "%" is literal text — no x100 scaling
    assert(r.getString(2) == "0.50%")
    // quoted ";" is not a section split
    assert(r.getString(3) == "7 items; more")
    assert(r.getString(4) == "3!")
    assert(r.getString(5) == "(minus $9.50)")
    // a quoted "0" inside a DATE mask's literal is not a numeric
    // dispatch trigger
    val d = spark.sql(translate(
      "SELECT Format(#1/5/2020#, \"yyyy\") AS y")).collect()(0)
    assert(d.getString(0) == "2020")
    for (bad <- Seq(
      "SELECT Format(n, \"0.00'\") FROM t",       // bare quote char
      "SELECT Format(n, \"0.00\"\"a'b\"\"\") FROM t", // quoted '
      "SELECT Format(n, \"0.00\\\\\") FROM t",   // escaped backslash
      "SELECT Format(n, \"\"\"unterminated\") FROM t",
      "SELECT Format(n, \"0\"\"x\"\"0\") FROM t", // second digit run
      "SELECT Format(n, \"0.00x\") FROM t",       // bare non-affix
      "SELECT Format(n, \"\") FROM t"))           // empty = GeneralNum
      intercept[IllegalArgumentException] { translate(bad) }
  }

  test("Format TEXT masks (r14): > and < case-fold, a pure @ run " +
    "right-aligns without truncating, & passes through; positional " +
    "mixed masks stay loud") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT Format(\"aBc7\", \">\") AS up, " +
        "Format(\"aBc7\", \"<\") AS lo, " +
        "Format(\"Ab\", \">>>>\") AS upr, " +
        "Format(\"ab\", \"@@@@\") AS pad, " +
        "Format(\"abcdef\", \"@@@@\") AS over, " +
        "Format(\"ab\", \"&&\") AS amp")).collect()(0)
    assert(r.getString(0) == "ABC7")
    assert(r.getString(1) == "abc7")
    assert(r.getString(2) == "AB")
    assert(r.getString(3) == "  ab") // right-aligned, space-padded
    assert(r.getString(4) == "abcdef") // @ never truncates (vs lpad)
    assert(r.getString(5) == "ab")
    // 2-section string mask: second section covers Null AND the
    // zero-length string (the designer "(none)" idiom, r14 wave 3)
    val s2 = spark.sql(translate(
      "SELECT Format(\"hi\", \"&;\"\"(none)\"\"\") AS a, " +
        "Format(\"\", \"&;\"\"(none)\"\"\") AS b, " +
        "Format(IIF(1 = 0, \"x\", Null), \"&;\"\"(none)\"\"\") AS c, " +
        "Format(\"ab\", \">;\"\"-\"\"\") AS d")).collect()(0)
    assert(s2.getString(0) == "hi")
    assert(s2.getString(1) == "(none)")
    assert(s2.getString(2) == "(none)")
    assert(s2.getString(3) == "AB")
    // empty second section: VB renders Null/empty as the zero-length
    // string (the trailing `;` is deliberate), NOT as SQL NULL
    val s3 = spark.sql(translate(
      "SELECT Format(IIF(1 = 0, \"x\", Null), \"&;\") AS a, " +
        "Format(\"hi\", \"&;\") AS b")).collect()(0)
    assert(s3.getString(0) == "")
    assert(s3.getString(1) == "hi")
    // positional mixed masks (right-to-left fill machinery) reject
    for (bad <- Seq(
      "SELECT Format(s, \"@@@-@@\") FROM t",
      "SELECT Format(s, \"!@@\") FROM t",
      "SELECT Format(s, \">@\") FROM t"))
      intercept[IllegalArgumentException] { translate(bad) }
  }

  test("FORMAT rejects per-row non-deterministic operands (r14 wave " +
    "4): the numeric/text emissions splice the operand into several " +
    "dispatch branches that would each re-draw rand()") {
    for (bad <- Seq(
      "SELECT Format(rand(), \"0.00;(0.00)\") FROM t",
      "SELECT Format(rand() * 10, \"Currency\") FROM t",
      "SELECT Format(Uuid(), \"&;\"\"(none)\"\"\") FROM t")) {
      val e = intercept[IllegalArgumentException] { translate(bad) }
      assert(e.getMessage.contains("non-deterministic"), e.getMessage)
    }
    // a deterministic unknown-function passthrough still formats
    assert(translate("SELECT Format(Exp(n), \"0.00\") FROM t")
      .contains("format_string"))
  }

  test("Round translates to BROUND (r14 wave 5): VBA/Jet Round is " +
    "banker's — the former passthrough to Spark's HALF_UP round() " +
    "silently diverged on every tie") {
    val spark = TestSpark.session
    val sql = translate(
      "SELECT Round(2.5) AS a, Round(3.5) AS b, Round(-2.5) AS c, " +
        "Round(0.125, 2) AS d")
    assert(sql.toLowerCase.contains("bround"), sql)
    val r = spark.sql(sql).collect()(0)
    // decimal literals keep DECIMAL through BROUND; compare as double
    def d(i: Int): Double = r.get(i) match {
      case b: java.math.BigDecimal => b.doubleValue
      case x: java.lang.Double => x.doubleValue
      case x => x.toString.toDouble
    }
    assert(d(0) == 2.0 && d(1) == 4.0)
    assert(d(2) == -2.0)
    assert(d(3) == 0.12) // 0.125 is binary-exact: half-even
    intercept[IllegalArgumentException] {
      graft.sources.JetSql.translateForJdbc(
        "UPDATE t SET v = Round([v], 2)")
    }
    intercept[IllegalArgumentException] {
      translate("SELECT Round(x, 1, 2) FROM t") // 3-arg
    }
  }

  test("Chr/Asc/String() go through CP1252 — Jet's text codepage " +
    "(r14 wave 5): the old chr→char rename was silently wrong for " +
    "codes 128-159, where CP1252 has punctuation and Unicode has C1 " +
    "controls") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT Chr(65) AS a, Chr(128) AS b, Chr(147) AS c, " +
        "String(3, \"xy\") AS d, String(2, 53) AS e, " +
        "String(2, 128) AS f, Asc(\"Abc\") AS g")).collect()(0)
    assert(r.getString(0) == "A")
    assert(r.getString(1) == "€") // CP1252 0x80 = €, NOT U+0080
    assert(r.getString(2) == "“") // CP1252 0x93 = left curly quote
    assert(r.getString(3) == "xxx") // first char only
    assert(r.getString(4) == "55") // numeric c = char code
    assert(r.getString(5) == "€€")
    assert(r.getInt(6) == 65)
    // non-literal Chr keeps char() behind the divergent-band guard
    val g = translate("SELECT Chr([n]) FROM t")
    assert(g.contains("raise_error") && g.contains("char("), g)
    assert(spark.sql(translate("SELECT Chr(66 + 1)"))
      .collect()(0).getString(0) == "C")
    // VBA coerces with banker's: Chr(65.5) = Chr(66), Chr(64.5) = '@'
    val bk = spark.sql(translate(
      "SELECT Chr(65.5) AS a, Chr(64.5) AS b")).collect()(0)
    assert(bk.getString(0) == "B" && bk.getString(1) == "@")
    intercept[Exception] {
      spark.sql(translate("SELECT Chr(100 + 30)")).collect()
    } // 130 through the runtime guard
    intercept[Exception] {
      spark.sql(translate("SELECT Chr(200 + 100)")).collect()
    } // 300: char() would wrap mod 256 where VBA errors
    intercept[Exception] {
      spark.sql(translate("SELECT Chr(0 - 5)")).collect()
    } // negative: same wrap-class corruption
    intercept[Exception] {
      spark.sql(translate("SELECT Asc(\"€\")")).collect()
    } // non-ASCII Asc is CP1252-divergent: loud
    for (bad <- Seq(
      "SELECT Chr(256) FROM t", // beyond the CP1252 byte range
      "SELECT String(2, [c]) FROM t")) // type-ambiguous non-literal
      intercept[IllegalArgumentException] { translate(bad) }
  }

  test("Hex banker's-rounds and rejects negatives at runtime (r14 " +
    "wave 5): VBA renders two's complement at the operand's TYPE " +
    "width, which a schema-blind translation cannot know") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT Hex(255) AS a, Hex(2.5) AS b, Hex(3.5) AS c")).collect()(0)
    assert(r.getString(0) == "FF")
    assert(r.getString(1) == "2") // banker's: 2.5 → 2
    assert(r.getString(2) == "4") // banker's: 3.5 → 4
    intercept[Exception] {
      spark.sql(translate("SELECT Hex(1 - 2)")).collect()
    }
  }

  test("Val implements VB's parse: strip ALL whitespace, longest " +
    "leading numeric prefix, 0 when none, D/E exponents; &H/&O " +
    "radix prefixes are loud at runtime (r14 wave 5)") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT Val(\" 1 2 3\") AS a, Val(\"12abc\") AS b, " +
        "Val(\"abc\") AS c, Val(\"1e2x\") AS d, Val(\"1d2\") AS e, " +
        "Val(\"-.5x\") AS f, Val(\"+\") AS g, " +
        "Val(IIF(1 = 0, \"x\", Null)) AS h")).collect()(0)
    assert(r.getDouble(0) == 123.0) // interior spaces stripped
    assert(r.getDouble(1) == 12.0)
    assert(r.getDouble(2) == 0.0)
    assert(r.getDouble(3) == 100.0)
    assert(r.getDouble(4) == 100.0) // D is VB's Double exponent
    assert(r.getDouble(5) == -0.5)
    assert(r.getDouble(6) == 0.0)
    assert(r.isNullAt(7)) // Null propagates, like Format
    intercept[Exception] {
      spark.sql(translate("SELECT Val(\"&HFF\")")).collect()
    }
  }

  test("DateSerial/TimeSerial/Time() — rollover arithmetic and the " +
    "two-digit-year pivot, day-zero-anchored times (r14 wave 5)") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT DateSerial(2020, 2, 30) AS a, " +
        "DateSerial(99, 13, 1) AS b, " + // 99→1999, month 13 rolls
        "DateSerial(10, 1, 0) AS c, " +  // 10→2010, day 0 rolls back
        "DateSerial(1985, 11, 20) AS d, " +
        "TimeSerial(12, -15, 0) AS e, " +
        "TimeSerial(25, 0, 0) AS f")).collect()(0)
    assert(r.getDate(0).toString == "2020-03-01")
    assert(r.getDate(1).toString == "2000-01-01")
    assert(r.getDate(2).toString == "2009-12-31")
    assert(r.getDate(3).toString == "1985-11-20")
    assert(r.getTimestamp(4).toString == "1899-12-30 11:45:00.0")
    assert(r.getTimestamp(5).toString == "1899-12-31 01:00:00.0")
    val timeSql = translate("SELECT Time() AS t")
    assert(timeSql.contains("1899-12-30"), timeSql)
    assert(spark.sql(timeSql).collect()(0).getTimestamp(0)
      .toString.startsWith("1899-12-3"))
    for (bad <- Seq(
      "SELECT DateSerial(2020, 1) FROM t", // 2-arg
      "SELECT TimeSerial(1, 2, 3, 4) FROM t"))
      intercept[IllegalArgumentException] { translate(bad) }
  }

  test("MonthName/WeekdayName under the en-US pinning; WeekdayName " +
    "range-guards at runtime; the firstdayofweek form rejects (r14 " +
    "wave 5)") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT MonthName(3) AS a, MonthName(3, True) AS b, " +
        "MonthName(12, 0) AS c, WeekdayName(1) AS d, " +
        "WeekdayName(7) AS e, WeekdayName(2, True) AS f, " +
        "Atn(1) AS g")).collect()(0)
    assert(r.getString(0) == "March")
    assert(r.getString(1) == "Mar")
    assert(r.getString(2) == "December") // numeric falsy flag
    assert(r.getString(3) == "Sunday") // default anchor: Sunday=1
    assert(r.getString(4) == "Saturday")
    assert(r.getString(5) == "Mon")
    assert(math.abs(r.getDouble(6) - math.atan(1.0)) < 1e-12)
    intercept[Exception] {
      spark.sql(translate("SELECT WeekdayName(4 + 4)")).collect()
    } // index 8: loud where VBA errors
    for (bad <- Seq(
      "SELECT WeekdayName(2, True, 3) FROM t", // fdow re-anchor
      "SELECT MonthName(2, [flag]) FROM t"))   // non-literal flag
      intercept[IllegalArgumentException] { translate(bad) }
  }

  test("$-suffixed VBA call forms fold to the bare function (r14 " +
    "wave 5): Chr$/UCase$/Mid$/Format$ are the String-typed " +
    "variants of the same functions; unknown words keep their $ " +
    "and fail loudly downstream") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT Chr$(65) AS a, UCase$(\"ab\") AS b, " +
        "Mid$(\"abcdef\", 2, 3) AS c, Format$(1234.5, \"#,##0.00\")" +
        " AS d, Trim$(\"  x \") AS e")).collect()(0)
    assert(r.getString(0) == "A")
    assert(r.getString(1) == "AB")
    assert(r.getString(2) == "bcd")
    assert(r.getString(3) == "1,234.50")
    assert(r.getString(4) == "x")
    // an unknown $-form keeps its $ — the emission is not valid
    // Spark SQL, so it cannot silently pass through as a function
    val kept = translate("SELECT Foo$(1) FROM t")
    assert(kept.contains("$"), kept)
    // $ anywhere else (not call-form) is untouched
    assert(translate("SELECT [a$b] FROM t").nonEmpty)
  }

  test("Jet ^ is the EXPONENT operator (Spark's ^ is bitwise XOR — " +
    "a silent per-row corruption before r14 wave 6) and \\ is VBA " +
    "integer division (operands banker's-rounded, then truncate " +
    "toward zero); precedence ^ > * / > \\ > Mod, left-associative") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT 2 ^ 10 AS a, 3 ^ 2 ^ 2 AS b, -2 ^ 2 AS c, " +
        "2 ^ -2 AS d, 2 * 3 ^ 2 AS e, Sqr(4) ^ 3 AS f, " +
        "(1 + 1) ^ (1 + 2) AS g")).collect()(0)
    assert(r.getDouble(0) == 1024.0)
    assert(r.getDouble(1) == 81.0) // left-associative: (3^2)^2
    assert(r.getDouble(2) == -4.0) // ^ binds above unary minus
    assert(r.getDouble(3) == 0.25) // signed exponent
    assert(r.getDouble(4) == 18.0) // ^ above *
    assert(r.getDouble(5) == 8.0)  // call operand
    assert(r.getDouble(6) == 8.0)  // grouped operands
    val d = spark.sql(translate(
      "SELECT 7 \\ 2 AS a, 7.5 \\ 2 AS b, 0 - 7 \\ 2 AS c, " +
        "3 * -2 \\ 4 AS d, 9 \\ 2 \\ 2 AS e, 7 - 6 \\ 4 AS f, " +
        "5 Mod 3 \\ 2 AS g, 6 \\ 2 * 3 AS h, 2.5 \\ 1 AS i"))
      .collect()(0)
    assert(d.getLong(0) == 3)
    assert(d.getLong(1) == 4)  // BROUND(7.5) = 8 first, then 8\2
    assert(d.getLong(2) == -3) // truncation toward zero
    assert(d.getLong(3) == -1) // left operand is 3 * -2, not -(2\4)
    assert(d.getLong(4) == 2)  // left-associative
    assert(d.getLong(5) == 6)  // \ binds above binary -
    assert(d.getLong(6) == 0)  // \ binds above Mod: 5 Mod (3\2)
    assert(d.getLong(7) == 1)  // * binds above \: 6 \ (2*3)
    assert(d.getLong(8) == 2)  // banker's: 2.5 rounds to 2
    assert(translate("SELECT [r] ^ 2 FROM t").contains("power"))
    // dot-QUALIFIED refs are one primary: t.a ^ 2 must not sever the
    // qualifier (t. power(a, 2) would be broken SQL)
    val q = translate("SELECT t.a ^ 2, u.[b] \\ 3 FROM t, u")
    assert(q.contains("power(t") && !q.contains(". power"), q)
    assert(q.contains("BROUND(u"), q)
    for (bad <- Seq(
      "UPDATE t SET v = [a] ^ 2",   // Derby has no POWER
      "UPDATE t SET v = [a] \\ 2")) // no banker's pre-round there
      intercept[IllegalArgumentException] {
        graft.sources.JetSql.translateForJdbc(bad)
      }
  }

  test("textOrder opt-in (r14 wave 6): Jet DATABASE-ORDER text " +
    "comparisons — = / <> / LIKE with a string-literal side go " +
    "case-insensitive; welded literals, SET assignments, and the " +
    "binary default stay untouched") {
    val spark = TestSpark.session
    def tr(q: String) = graft.sources.JetSql.translate(
      q, Map.empty[String, Any], Map.empty, textOrder = true)
    val r = spark.sql(tr(
      "SELECT IIF(\"Smith\" = \"smith\", 1, 0) AS a, " +
        "IIF(\"Smith\" <> \"SMITH\", 1, 0) AS b, " +
        "IIF(\"McAdam\" LIKE \"mc*\", 1, 0) AS c, " +
        "IIF(UCase(\"x\") = \"X\", 1, 0) AS d, " +
        "IIF(NOT \"Smith\" LIKE \"sx*\", 1, 0) AS e, " +
        "IIF(\"AB7\" LIKE \"[a-c][A-C]#\", 1, 0) AS f")).collect()(0)
    assert(r.getInt(0) == 1) // case-folded equality
    assert(r.getInt(1) == 0) // <> folds too
    assert(r.getInt(2) == 1) // LIKE folds pattern AND scrutinee
    assert(r.getInt(3) == 1) // call side wrapped in LOWER()
    assert(r.getInt(4) == 1) // NOT LIKE keeps its NOT
    assert(r.getInt(5) == 1) // charlist ranges lowercase soundly
    // the DEFAULT stays binary — pinned oracle behavior
    val b = spark.sql(translate(
      "SELECT IIF(\"Smith\" = \"smith\", 1, 0) AS a")).collect()(0)
    assert(b.getInt(0) == 0)
    // a literal welded into a larger expression stays binary
    // (the literal is not the comparison operand)
    val welded = tr("SELECT x = \"A\" & s FROM t")
    assert(!welded.toLowerCase.contains("lower"), welded)
    // SET assignments never rewrite; the WHERE side does
    val upd = graft.sources.JetSql.translateForJdbc(
      "UPDATE t SET nm = \"Smith\" WHERE [city] = \"paris\"",
      textOrder = true)
    assert(upd.contains("'Smith'"), upd)     // assignment untouched
    assert(upd.contains("LOWER(") && upd.contains("'paris'"), upd)
  }

  test("assessJetQueries: the whole-app port report — classifies " +
    "select/crosstab/action, binds PARAMETERS placeholders, routes " +
    "actions through the JDBC translation, and records every " +
    "rejection verbatim instead of throwing (r14)") {
    import graft.sources.JetSql
    val report = JetSql.assessJetQueries(Seq(
      "PlainSelect" -> "SELECT [a], UCase([b]) FROM t WHERE [a] > 3",
      "WithFormat" -> "SELECT Format([x], \"Currency\") FROM t",
      "UsesDLookup" ->
        "SELECT DLookup(\"x\", \"t\", \"k = 1\") FROM u",
      "CrosstabIn" -> ("TRANSFORM Sum([v]) SELECT [k] FROM t " +
        "GROUP BY [k] PIVOT [p] IN (1, 2)"),
      "CrosstabProbe" -> ("TRANSFORM Sum([v]) SELECT [k] FROM t " +
        "GROUP BY [k] PIVOT [p]"),
      "Param" -> ("PARAMETERS [lo] Long; SELECT [a] FROM t " +
        "WHERE [a] > [lo]"),
      "UpdateJoin" -> ("UPDATE t INNER JOIN s ON t.k = s.k " +
        "SET t.v = s.v"),
      "UpdateCharlist" ->
        "UPDATE t SET v = 1 WHERE nm LIKE \"[abc]*\"",
      "Garbage" -> "SELECT \"unterminated FROM t"))
    val byName = report.map(a => a.name -> a).toMap
    assert(report.length == 9)
    val plain = byName("PlainSelect")
    assert(plain.kind == "select" && plain.engineOk &&
      !plain.parameterized && plain.engineSql.get.contains("upper"))
    assert(byName("WithFormat").engineOk)
    val dl = byName("UsesDLookup")
    assert(!dl.engineOk && dl.engineError.get.contains("DLOOKUP"))
    assert(byName("CrosstabIn").kind == "crosstab" &&
      byName("CrosstabIn").engineOk)
    val probe = byName("CrosstabProbe")
    assert(probe.kind == "crosstab" && !probe.engineOk &&
      probe.engineError.get.contains("DISCOVERED"))
    val par = byName("Param")
    assert(par.parameterized && par.engineOk)
    val uj = byName("UpdateJoin")
    assert(uj.kind == "action" && uj.jdbcOk.contains(true) &&
      uj.jdbcSql.get.contains("MERGE INTO") && !uj.engineOk)
    val uc = byName("UpdateCharlist")
    assert(uc.kind == "action" && uc.jdbcOk.contains(false) &&
      uc.jdbcError.get.contains("JDBC"))
    assert(!byName("Garbage").engineOk)
    // a data-discovered crosstab DOES assess when the tables exist
    val spark = TestSpark.session
    locally {
      import spark.implicits._
      Seq((1, "p1", 10), (2, "p2", 20))
        .toDF("k", "p", "v").createOrReplaceTempView("t")
    }
    val withSpark = JetSql.assessJetQueries(
      Seq("CrosstabProbe" -> ("TRANSFORM Sum([v]) SELECT [k] FROM t " +
        "GROUP BY [k] PIVOT [p]")), spark = Some(spark))
    assert(withSpark.head.engineOk, withSpark.head.engineError)
  }

  test("CSng/CBool/DateValue/TimeValue (r14 wave 5): float cast, " +
    "zero-dispatch boolean, and the literal-only date/time parts " +
    "(non-literal text would hit ISO-only to_date where Access " +
    "parses by locale — loud instead)") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT CSng(1.5) AS a, CBool(0) AS b, CBool(0 - 3) AS c, " +
        "CBool(IIF(1 = 0, 1, Null)) AS d, " +
        "DateValue(\"3/7/2020 14:30\") AS e, " +
        "DateValue(#3/7/2020#) AS f, " +
        "TimeValue(\"14:30\") AS g, " +
        "TimeValue(\"3/7/2020 14:30:09\") AS h, " +
        "TimeValue(\"3/7/2020\") AS i")).collect()(0)
    assert(r.getFloat(0) == 1.5f)
    assert(!r.getBoolean(1) && r.getBoolean(2))
    assert(r.isNullAt(3))
    assert(r.getDate(4).toString == "2020-03-07")
    assert(r.getDate(5).toString == "2020-03-07")
    assert(r.getTimestamp(6).toString == "1899-12-30 14:30:00.0")
    assert(r.getTimestamp(7).toString == "1899-12-30 14:30:09.0")
    assert(r.getTimestamp(8).toString == "1899-12-30 00:00:00.0")
    for (bad <- Seq(
      "SELECT DateValue([txt]) FROM t",  // locale parse
      "SELECT TimeValue(s & \"\") FROM t",
      "SELECT DateValue(\"garbage\") FROM t"))
      intercept[IllegalArgumentException] { translate(bad) }
    // DFirst/DLast: DLookup's storage-order defect, same named
    // rejection (not the cryptic unknown-function passthrough)
    for (bad <- Seq("SELECT DFirst(\"x\", \"t\") FROM t",
      "SELECT DLast(\"x\", \"t\") FROM t")) {
      val e = intercept[IllegalArgumentException] { translate(bad) }
      assert(e.getMessage.toLowerCase.contains("construct"),
        e.getMessage)
    }
  }

  test("InStrRev finds the LAST occurrence via reversed instr; " +
    "StrComp is the -1/0/1 sign with non-ASCII loud (r14 wave 5); " +
    "positional starts and collation compare modes reject") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT InStrRev(\"abcabc\", \"bc\") AS a, " +
        "InStrRev(\"abcabc\", \"bc\", -1) AS b, " +
        "InStrRev(\"abcabc\", \"\") AS c, " +
        "InStrRev(\"\", \"x\") AS d, " +
        "InStrRev(\"abcabc\", \"x\") AS e, " +
        "InStrRev(\"aBcAbC\", \"bC\", -1, 1) AS f, " +
        "StrComp(\"a\", \"b\") AS g, StrComp(\"b\", \"a\") AS h, " +
        "StrComp(\"A\", \"a\") AS i, StrComp(\"A\", \"a\", 1) AS j, " +
        "StrComp(IIF(1 = 0, \"x\", Null), \"a\") AS k")).collect()(0)
    assert(r.getInt(0) == 5)
    assert(r.getInt(1) == 5)
    assert(r.getInt(2) == 6) // empty match -> Len(check)
    assert(r.getInt(3) == 0) // empty check
    assert(r.getInt(4) == 0) // not found
    assert(r.getInt(5) == 5) // text mode, position in the original
    assert(r.getInt(6) == -1 && r.getInt(7) == 1)
    assert(r.getInt(8) == -1) // binary: 'A' < 'a'
    assert(r.getInt(9) == 0)  // text: case-folded equal
    assert(r.isNullAt(10))    // Null propagates, as VBA
    intercept[Exception] {
      spark.sql(translate("SELECT StrComp(\"é\", \"a\")")).collect()
    } // non-ASCII: UTF-16 vs UTF-8 order — loud
    for (bad <- Seq(
      "SELECT InStrRev(s, m, 3) FROM t",     // positional start
      "SELECT InStrRev(s, m, -1, 2) FROM t", // collation compare
      "SELECT StrComp(a, b, 2) FROM t"))
      intercept[IllegalArgumentException] { translate(bad) }
    intercept[IllegalArgumentException] {
      graft.sources.JetSql.translateForJdbc(
        "UPDATE t SET n = InStrRev([s], \"x\")")
    }
  }

  test("CDate/CVDate (r14 wave 5): literal strings parse at " +
    "translate time through the #literal# path; numeric operands " +
    "decode as OLE serial dates with the |fraction|-is-time-of-day " +
    "rule the jetmdb codec uses (CDate(-1.25) is 06:00, not 18:00)") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT CDate(2.5) AS a, CDate(0 - 1.25) AS b, CDate(0) AS c, " +
        "CDate(\"3/7/2020\") AS d, CVDate(\"2020-03-07 14:30\") AS e, " +
        "CDate(#3/7/2020 1:00#) AS f, CDate(0.75) AS g")).collect()(0)
    assert(r.getTimestamp(0).toString == "1900-01-01 12:00:00.0")
    assert(r.getTimestamp(1).toString == "1899-12-29 06:00:00.0")
    assert(r.getTimestamp(2).toString == "1899-12-30 00:00:00.0")
    assert(r.getDate(3).toString == "2020-03-07")
    assert(r.getTimestamp(4).toString == "2020-03-07 14:30:00.0")
    assert(r.getTimestamp(5).toString == "2020-03-07 01:00:00.0")
    assert(r.getTimestamp(6).toString == "1899-12-30 18:00:00.0")
    for (bad <- Seq(
      "SELECT CDate(\"not a date\") FROM t", // un-fixable literal
      "SELECT CDate(a, b) FROM t"))          // arity
      intercept[IllegalArgumentException] { translate(bad) }
    intercept[IllegalArgumentException] {
      graft.sources.JetSql.translateForJdbc(
        "UPDATE t SET d = CDate([n])")
    }
    // literal strings stay PORTABLE on JDBC targets (plain literal)
    assert(graft.sources.JetSql.translateForJdbc(
      "UPDATE t SET d = CDate(\"3/7/2020\")").contains("DATE '2020-03-07'"))
  }

  test("VBA6 Format* wrappers (r14 wave 5): FormatNumber/Currency/" +
    "Percent are sugar over the mask machinery (en-US: 2 decimals, " +
    "grouping, accounting parens for negative currency); " +
    "FormatDateTime's 0-4 codes are the named date/time formats; " +
    "tristate overrides reject") {
    val spark = TestSpark.session
    val r = spark.sql(translate(
      "SELECT FormatNumber(1234.567) AS a, " +
        "FormatNumber(1234.5, 0) AS b, " +
        "FormatCurrency(0 - 1234.5) AS c, " +
        "FormatCurrency(12.3, 1) AS d, " +
        "FormatPercent(0.125) AS e, " +
        "FormatNumber(0 - 1234.567) AS f, " +
        "FormatDateTime(#3/7/2020 14:05:09#) AS g, " +
        "FormatDateTime(#3/7/2020#, 1) AS h, " +
        "FormatDateTime(#3/7/2020 14:05:09#, 3) AS i, " +
        "FormatDateTime(#3/7/2020 14:05:09#, 4) AS j")).collect()(0)
    assert(r.getString(0) == "1,234.57")
    assert(r.getString(1) == "1,235")
    assert(r.getString(2) == "($1,234.50)") // US regional default
    assert(r.getString(3) == "$12.3")
    assert(r.getString(4) == "12.50%") // dyadic-exact x100
    assert(r.getString(5) == "-1,234.57") // number: minus, no parens
    assert(r.getString(6) == "3/7/2020 2:05:09 PM") // General Date
    assert(r.getString(7) == "Saturday, March 7, 2020")
    assert(r.getString(8) == "2:05:09 PM")
    assert(r.getString(9) == "14:05")
    for (bad <- Seq(
      "SELECT FormatNumber(n, 2, -1) FROM t",  // tristate override
      "SELECT FormatCurrency(n, [d]) FROM t",  // non-literal digits
      "SELECT FormatNumber(n, 16) FROM t",     // past double precision
      "SELECT FormatDateTime(d, 5) FROM t",    // unknown code
      "SELECT FormatDateTime(d, [c]) FROM t")) // non-literal code
      intercept[IllegalArgumentException] { translate(bad) }
    intercept[IllegalArgumentException] {
      graft.sources.JetSql.translateForJdbc(
        "UPDATE t SET s = FormatNumber([v])")
    }
  }

  test("stock ww emissions step aside for per-row non-deterministic " +
    "operands (r14 wave 2): an unknown passthrough like rand() would " +
    "be spliced twice, so those fall back to single-splice jet_*") {
    def count(haystack: String, needle: String): Int =
      haystack.sliding(needle.length).count(_ == needle)
    // default anchors + deterministic operand: stock, no jet_*
    assert(!translate("SELECT DatePart(\"ww\", [d]) FROM t")
      .contains("jet_"))
    // default anchors + rand() reaching the operand through the
    // unknown-function passthrough: jet_weeknum, spliced ONCE
    val nd = translate(
      "SELECT DatePart(\"ww\", DateAdd(\"d\", rand() * 30, [d])) FROM t")
    assert(nd.contains("jet_weeknum"), nd)
    assert(count(nd, "rand()") == 1, nd)
    val ndd = translate(
      "SELECT DateDiff(\"ww\", [a], DateAdd(\"d\", rand(), [b])) FROM t")
    assert(ndd.contains("jet_weekstart"), ndd)
    assert(count(ndd, "rand()") == 1, ndd)
  }

  test("Access designer FROM shapes — nested-paren INNER/LEFT JOIN " +
    "chains — pass through and run") {
    val spark = TestSpark.session
    import spark.implicits._
    Seq((1, 10), (2, 20)).toDF("id", "cid")
      .createOrReplaceTempView("aj_o")
    Seq((10, "x"), (20, "y")).toDF("cid", "nm")
      .createOrReplaceTempView("aj_c")
    Seq((1, 5.0)).toDF("oid", "amt").createOrReplaceTempView("aj_d")
    val jet = Seq(
      "SELECT [aj_o].[id], [aj_c].[nm], Nz([aj_d].[amt], 0) AS amt",
      "FROM ((aj_o INNER JOIN aj_c ON [aj_o].[cid] = [aj_c].[cid])",
      "  LEFT JOIN aj_d ON [aj_o].[id] = [aj_d].[oid])",
      "ORDER BY [aj_o].[id]").mkString(" ")
    val got = spark.sql(translate(jet)).collect().map(_.toSeq).toSeq
    assert(got == Seq(Seq(1, "x", 5.0), Seq(2, "y", 0.0)))
  }

  test("domain aggregates translate to scalar subqueries (arguments " +
    "are Jet fragments and recurse); Switch/Choose become CASE") {
    assert(translate("SELECT DSum(\"CCur([amt])\", \"[Order Log]\", " +
      "\"[Sold On] < #1/1/1996#\")") ==
      "SELECT (SELECT SUM(CAST(BROUND(amt, 4) AS DECIMAL(19,4))) " +
        "FROM order_log WHERE sold_on < DATE '1996-01-01')")
    assert(translate("SELECT DCount(\"*\", \"t\") AS n") ==
      "SELECT (SELECT COUNT(*) FROM t) AS n")
    // concatenated criteria embed row values into program text
    intercept[IllegalArgumentException] {
      translate("SELECT DSum(\"x\", \"t\", \"k = \" & [k])")
    }
    // DLookup returns an ORDER-UNDEFINED row's value; stays rejected
    intercept[IllegalArgumentException] {
      translate("SELECT DLookUp(\"x\", \"t\")")
    }
    assert(translate("SELECT Switch(a > 1, \"hi\", a > 0, \"lo\")") ==
      "SELECT CASE WHEN a > 1 THEN 'hi' WHEN a > 0 THEN 'lo' END")
    assert(translate("SELECT Choose(k, \"a\", \"b\")") ==
      "SELECT CASE k WHEN 1 THEN 'a' WHEN 2 THEN 'b' END")
    intercept[IllegalArgumentException] {
      translate("SELECT Switch(a > 1, 1, a > 0)") // unpaired
    }
  }

  test("TOP scoping: a subquery's TOP becomes THAT subquery's LIMIT " +
    "(paren groups are their own emit scope); ANY TOP sharing a " +
    "scope with a depth-0 UNION rejects") {
    val uk = Map("t" -> Seq(Set("b")), "u" -> Seq(Set("z")))
    assert(graft.sources.JetSql.translate("SELECT a FROM t WHERE x = " +
      "(SELECT TOP 1 y FROM u ORDER BY z)", Map.empty, uk) ==
      "SELECT a FROM t WHERE x = (SELECT y FROM u ORDER BY z LIMIT 1)")
    // the same subquery without the unique declaration goes tie-aware
    // inside ITS OWN parens — and z, not being projected by the
    // subquery, rides inside it as a __jet_k helper column (the bare
    // wrapper would reference an unresolvable z; r11 review)
    assert(translate("SELECT a FROM t WHERE x = " +
      "(SELECT TOP 1 y FROM u ORDER BY z)")
      .contains("(SELECT * EXCEPT (__jet_k0, __jet_rk) FROM (SELECT " +
        "*, RANK() OVER (ORDER BY __jet_k0) AS __jet_rk FROM " +
        "(SELECT y, z AS __jet_k0 FROM u)) WHERE __jet_rk <= 1 " +
        "ORDER BY __jet_k0)"))
    // nested scopes decide independently: the inner TOP keeps LIMIT
    // (unique b), the outer FROM is a SUBQUERY so its uniqueness is
    // unprovable and it goes tie-aware
    assert(graft.sources.JetSql.translate("SELECT TOP 2 a FROM " +
      "(SELECT TOP 10 a FROM t ORDER BY b) ORDER BY a", Map.empty,
      uk) ==
      "SELECT * EXCEPT (__jet_rk) FROM (SELECT *, RANK() OVER " +
        "(ORDER BY a) AS __jet_rk FROM (SELECT a FROM " +
        "(SELECT a FROM t ORDER BY b LIMIT 10))) " +
        "WHERE __jet_rk <= 2 ORDER BY a")
    // Access applies TOP per SELECT branch; a trailing LIMIT would
    // bind to the COMBINED union result — so even a SINGLE TOP in a
    // union scope must reject, not silently limit the wrong thing
    // (the round-9 advice finding: only the second TOP was caught)
    val e = intercept[IllegalArgumentException] {
      translate("SELECT TOP 1 a FROM t UNION SELECT b FROM u")
    }
    assert(e.getMessage.contains("UNION"), e.getMessage)
    intercept[IllegalArgumentException] {
      translate("SELECT a FROM t UNION SELECT TOP 2 b FROM u")
    }
    intercept[IllegalArgumentException] {
      translate("SELECT TOP 1 a FROM t UNION SELECT TOP 2 b FROM u")
    }
    // the cure works: parenthesized branches limit independently
    // (unique keys declared so each branch keeps the LIMIT fast path)
    assert(graft.sources.JetSql.translate(
      "(SELECT TOP 1 a FROM t ORDER BY a) UNION ALL " +
        "(SELECT TOP 2 b FROM u ORDER BY b)", Map.empty,
      Map("t" -> Seq(Set("a")), "u" -> Seq(Set("b")))) ==
      "(SELECT a FROM t ORDER BY a LIMIT 1) UNION ALL " +
        "(SELECT b FROM u ORDER BY b LIMIT 2)")
  }

  test("First/Last reject (storage-order-dependent); StDev/Var family " +
    "renames are call-form-only with explicit _samp/_pop") {
    val e = intercept[IllegalArgumentException] {
      translate("SELECT First([nm]) FROM t")
    }
    assert(e.getMessage.contains("storage-order"))
    intercept[IllegalArgumentException] {
      translate("SELECT Last(nm) FROM t")
    }
    assert(translate(
      "SELECT StDev(x), StDevP(x), Var(x), VarP(x) FROM t GROUP BY g") ==
      "SELECT stddev_samp(x), stddev_pop(x), var_samp(x), var_pop(x) " +
        "FROM t GROUP BY g")
    // a column merely NAMED var is untouched (call-form only)
    assert(translate("SELECT [var], last FROM t") == "SELECT var, last FROM t")
  }

  test("translateForJdbc quotes bracketed identifiers (case-exact " +
    "JDBC columns) but leaves table positions bare to fold") {
    assert(graft.sources.JetSql.translateForJdbc(
      "UPDATE deals SET [stage] = UCase([stage]) WHERE [amount] > 20") ==
      "UPDATE deals SET \"stage\" = upper(\"stage\") " +
        "WHERE \"amount\" > 20")
    assert(graft.sources.JetSql.translateForJdbc(
      "INSERT INTO [Order Log] ([order_id]) SELECT [id] FROM [Old Log]") ==
      "INSERT INTO order_log (\"order_id\") SELECT \"id\" FROM old_log")
    // a [Table].[col] QUALIFIER stays bare like table position: the
    // table was created under an unquoted case-folded name, so a
    // quoted case-exact qualifier would not resolve (r9 advice)
    assert(graft.sources.JetSql.translateForJdbc(
      "SELECT [Order Log].[order_id] FROM [Order Log] " +
        "WHERE [Order Log].[amount] > 5") ==
      "SELECT order_log.\"order_id\" FROM order_log " +
        "WHERE order_log.\"amount\" > 5")
  }

  test("action queries: DELETE * drops the designer star, UPDATE…JOIN " +
    "rejects (it is a MERGE), INSERT…SELECT passes through rewrites") {
    assert(translate("DELETE * FROM orders WHERE [id] > 5") ==
      "DELETE FROM orders WHERE id > 5")
    assert(translate(
      "UPDATE t SET [x] = IIf([y] > 0, 1, 0) WHERE [z] Mod 2 = 0") ==
      "UPDATE t SET x = CASE WHEN y > 0 THEN 1 ELSE 0 END " +
        "WHERE z % 2 = 0")
    assert(translate(
      "INSERT INTO t (a, b) SELECT [a], Nz([b], 0) FROM s") ==
      "INSERT INTO t (a, b) SELECT a, COALESCE(b, 0) FROM s")
    val e = intercept[IllegalArgumentException] {
      translate("UPDATE a INNER JOIN b ON a.k = b.k SET a.x = b.y")
    }
    assert(e.getMessage.contains("MERGE"))
  }

  test("UPDATE … INNER JOIN becomes ANSI MERGE on the JDBC target; " +
    "the target table is the one the SET lhs names") {
    def forJdbc(s: String) = graft.sources.JetSql.translateForJdbc(s)
    assert(forJdbc("UPDATE a INNER JOIN b ON [a].[k] = [b].[k] " +
      "SET [a].[x] = [b].[y] + 1 WHERE [b].[z] > 0") ==
      "MERGE INTO a USING b ON a.\"k\" = b.\"k\" " +
        "WHEN MATCHED AND (b.\"z\" > 0) " +
        "THEN UPDATE SET \"x\" = b.\"y\" + 1")
    // SET lhs naming the RIGHT table flips target and source
    assert(forJdbc("UPDATE a INNER JOIN b ON [a].[k] = [b].[k] " +
      "SET [b].[x] = 1, [b].[y] = 2") ==
      "MERGE INTO b USING a ON a.\"k\" = b.\"k\" " +
        "WHEN MATCHED THEN UPDATE SET \"x\" = 1, \"y\" = 2")
    // rejections: outer join, join chain, both-table SET, bare lhs
    for (bad <- Seq(
      "UPDATE a LEFT JOIN b ON a.k = b.k SET a.x = 1",
      "UPDATE a INNER JOIN b ON a.k = b.k INNER JOIN c ON b.j = c.j " +
        "SET a.x = 1",
      "UPDATE a INNER JOIN b ON a.k = b.k SET a.x = 1, b.y = 2",
      "UPDATE a INNER JOIN b ON a.k = b.k SET x = 1")) {
      val ex = intercept[IllegalArgumentException] { forJdbc(bad) }
      assert(ex.getMessage.contains("jetsql:"), s"$bad → ${ex.getMessage}")
    }
    // the engine target still rejects, pointing at the JDBC path
    val ee = intercept[IllegalArgumentException] {
      translate("UPDATE a INNER JOIN b ON a.k = b.k SET a.x = b.y")
    }
    assert(ee.getMessage.contains("runActionQueries"), ee.getMessage)
  }

  test("registerSavedQueries resolves view-on-view chains by fixpoint " +
    "and fails loudly on unresolvable references") {
    val spark = TestSpark.session
    import spark.implicits._
    Seq((1, "a", 10), (2, "a", 20), (3, "b", 5))
      .toDF("id", "grp", "v").createOrReplaceTempView("sq_base")
    // dependent first: round 1 registers only [Lvl One], round 2 the rest
    val names = graft.sources.JetSql.registerSavedQueries(spark, Seq(
      "Lvl Two" -> "SELECT [grp], Sum([vv]) AS s FROM [Lvl One] GROUP BY [grp]",
      "Lvl One" -> "SELECT [grp], [v] * 2 AS vv FROM sq_base WHERE [id] < 3"))
    assert(names == Seq("lvl_one", "lvl_two"))
    assert(spark.sql("SELECT s FROM lvl_two WHERE grp = 'a'")
      .collect()(0).getLong(0) == 60L)
    val e = intercept[IllegalArgumentException] {
      graft.sources.JetSql.registerSavedQueries(spark, Seq(
        "Orphan" -> "SELECT x FROM [No Such View]"))
    }
    assert(e.getMessage.contains("Orphan"))
    // the round-10 translations register as views too: a TOP n
    // PERCENT saved query (the * EXCEPT windowed form under CREATE
    // TEMP VIEW) feeding a dependent view through the fixpoint, with
    // a charlist LIKE in the chain
    val names2 = graft.sources.JetSql.registerSavedQueries(spark, Seq(
      "Pct Top" -> ("SELECT DISTINCTROW TOP 40 PERCENT [id], [v] " +
        "FROM sq_base WHERE [grp] LIKE \"[ab]\" ORDER BY [v] DESC"),
      "Pct Sum" -> "SELECT Sum([v]) AS sv FROM [Pct Top]"))
    assert(names2 == Seq("pct_top", "pct_sum"))
    // 3 rows, 40% → ceil(1.2) = 2 ranks by v DESC → v ∈ {20, 10}
    assert(spark.sql("SELECT sv FROM pct_sum").collect()(0)
      .getLong(0) == 30L)
    assert(spark.sql("SELECT * FROM pct_top").columns.toSeq ==
      Seq("id", "v"))
  }

  test("PARAMETERS + TRANSFORM compose: a parameterized crosstab " +
    "binds its literals before the pivot rewrite") {
    val jet = Seq(
      "PARAMETERS [Min V] Long;",
      "TRANSFORM Sum([v]) SELECT [reg] FROM src",
      "WHERE [v] >= [Min V]",
      "GROUP BY [reg] PIVOT [kind] IN (\"a\", \"b\")").mkString(" ")
    assert(translate(jet, Map("Min V" -> 2)) ==
      "SELECT reg, sum(CASE WHEN (kind) = 'a' THEN v END) AS a, " +
        "sum(CASE WHEN (kind) = 'b' THEN v END) AS b " +
        "FROM src WHERE v >= 2 GROUP BY reg")
  }

  test("a saved CROSSTAB registers as a view through the heading " +
    "probe (translateAny inside registerSavedQueries)") {
    val spark = TestSpark.session
    import spark.implicits._
    Seq(("n", "a", 1), ("n", "b", 2), ("s", "a", 4))
      .toDF("reg", "kind", "v").createOrReplaceTempView("xt_src2")
    val names = graft.sources.JetSql.registerSavedQueries(spark, Seq(
      "Kind XTab" -> ("TRANSFORM Sum([v]) SELECT [reg] FROM xt_src2 " +
        "GROUP BY [reg] PIVOT [kind]")))
    assert(names == Seq("kind_xtab"))
    val got = spark.sql("SELECT reg, a, b FROM kind_xtab ORDER BY reg")
      .collect().map(_.toSeq).toSeq
    assert(got == Seq(Seq("n", 1L, 2L), Seq("s", 4L, null)))
  }

  test("a full translated saved query runs in Spark and matches the " +
    "direct DataFrame form") {
    val spark = TestSpark.session
    graft.sources.TableLoader.orders(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("orders")
    val jet = Seq(
      "SELECT TOP 7 [o_orderkey],",
      "  UCase([o_orderstatus]) & \"/\" &",
      "    IIf([o_totalprice] > 200000, \"BIG\", \"small\") AS tag",
      "FROM orders",
      "WHERE [o_orderdate] >= #1/1/1995# " +
        "AND [o_orderpriority] LIKE \"1-*\"",
      "ORDER BY [o_orderkey]").mkString("\n")
    val got = spark.sql(graft.sources.JetSql.translate(jet)).collect()
    import org.apache.spark.sql.functions._
    val want = graft.sources.TableLoader
      .orders(spark, "/root/testdata/sf0.001")
      .where(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
        col("o_orderpriority").startsWith("1-"))
      .select(col("o_orderkey"),
        concat(upper(col("o_orderstatus")), lit("/"),
          when(col("o_totalprice") > 200000, "BIG")
            .otherwise("small")).as("tag"))
      .orderBy(col("o_orderkey")).limit(7).collect()
    assert(got.toSeq == want.toSeq)
  }
}
