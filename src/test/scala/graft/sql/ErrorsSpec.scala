package graft.sql

import graft.{Graft, SparkTestBase}

/** Error behavior parity with the reference
  * (/root/reference/sql_to_ibis/tests/test_errors.py): invalid query
  * text, unknown tables, unknown columns all raise immediately at
  * translation time — not lazily at execution. */
class ErrorsSpec extends SparkTestBase {

  test("unknown table raises TableNotFoundException") {
    val g = Graft(spark)
    val e = intercept[Graft.TableNotFoundException](
      g.query("select * from missing_table"))
    assert(e.name == "missing_table" && e.getMessage.contains("missing_table"))
  }

  test("a query the translator cannot lower raises TranslateException") {
    val e = intercept[Translator.TranslateException](graftSession.query(
      """select n_name, x.r_name from nation n cross join lateral
         (select r_name from region r
          where r.r_regionkey = n.n_regionkey) x"""))
    assert(e.getMessage.contains("require ORDER BY"), e.getMessage)
  }

  test("a PIVOT expression reading a column outside its aggregate raises TranslateException") {
    val e = intercept[Translator.TranslateException](graftSession.query(
      """select * from (values (1, 10, 'a'), (2, 5, 'b')) t1(k, v, s)
         pivot (sum(v) + k for s in ('a', 'b'))"""))
    assert(e.getMessage.contains("inside a plain aggregate"), e.getMessage)
  }

  test("a macro called with too many arguments raises MacroException") {
    val g = Graft(spark)
    g.query("create macro add_one(a) as a + 1")
    val e = intercept[Macros.MacroException](g.query(
      "select add_one(a, 2) as b from (values (1)) t(a)"))
    assert(e.getMessage.contains("takes 1 argument"), e.getMessage)
  }

  test("syntactically invalid queries raise a parse error") {
    Seq(
      "select from nation",          // missing select list
      "select n_name nation",        // missing FROM
      "select n_name from",          // missing table
      "select n_name from nation where", // dangling WHERE
      "totally not sql",
      "select n_name from nation group by", // dangling GROUP BY
    ).foreach { sql =>
      assertThrows[RuntimeException](graftSession.query(sql))
    }
  }

  test("';', '?' and '$' lex for the statement layer but fail to parse") {
    // scripts split at ';' tokens and EXECUTE binds '?' / '$n'; inside
    // a query all three are parse errors naming the token
    for ((sql, msg) <- Seq(
        ("select n_name from nation; select 1 from nation", "trailing input at Op(;"),
        ("select n_name from nation where n_nationkey = ?", "unexpected token Op(?"),
        ("select n_name from nation where n_nationkey = $1", "unexpected token Op($"))) {
      val e = intercept[RuntimeException](graftSession.query(sql))
      assert(e.getClass.getSimpleName == "ParseException" &&
        e.getMessage.contains(msg), s"$sql: $e")
    }
  }

  test("malformed statements raise ParseException at the offending token") {
    for ((sql, at) <- Seq(
        ("merge into t using s on", 23),
        ("update t set", 12),
        ("copy t to", 9),
        ("merge into t using s on t.k = s.k when matched then upsert", 52),
        ("insert into t (a b) values (1)", 17),
        ("create table t (a)", 17))) {
      val e = intercept[Parser.ParseException](graftSession.query(sql))
      assert(e.token.pos == at, s"$sql: $e")
    }
  }

  test("unknown column raises at translation, not at action") {
    assertThrows[Throwable](
      graftSession.query("select does_not_exist from nation"))
  }

  test("ambiguous bare column across joined tables raises") {
    // both sides expose n_name
    assertThrows[Throwable](
      graftSession.query(
        "select n_name from nation t1 cross join nation t2"))
  }

  // mirrors of the reference's invalid-query set (test_errors.py:16-36)
  test("cross join with ON condition is invalid") {
    assertThrows[RuntimeException](graftSession.query(
      """select * from nation cross join region
         on nation.n_regionkey = region.r_regionkey"""))
  }

  test("multi-column IN subquery is invalid") {
    assertThrows[RuntimeException](graftSession.query(
      """select n_name from nation where n_regionkey in
         (select r_regionkey, r_name from region)"""))
  }

  test("correlated NOT IN matches spark.sql three-valued semantics") {
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_custkey not in (select o_custkey from orders
                                 where orders.o_custkey = customer.c_custkey)""")
  }

  test("correlated EXISTS beyond FROM/WHERE is rejected; uncorrelated is unrestricted") {
    // a nonempty inner GROUP BY decorrelates through the grouped
    // derived-table rewrite (round 4b) — no longer an error
    checkAgainstSparkSql(
      """select n_name from nation
         where exists (select count(*) from region
                       where region.r_regionkey = nation.n_regionkey
                       group by r_name)
         order by n_name""")
    // a GROUP-BY-less HAVING aggregate decorrelates too (round 4b:
    // the one-row-even-over-empty-input semantics ride the
    // empty-guard disjunct of rewriteHavingOnlyExists)
    checkAgainstSparkSql(
      """select n_name from nation
         where exists (select count(*) from region
                       where region.r_regionkey = nation.n_regionkey
                       having count(*) > 0)
         order by n_name""")
    // correlation OUTSIDE the subquery's WHERE (HAVING / GROUP BY)
    // is rejected with a graft message, not a deep analyzer error
    val eh = intercept[RuntimeException](graftSession.query(
      """select n_name from nation
         where exists (select 1 from region group by r_name
                       having max(r_regionkey) = nation.n_regionkey)"""))
    assert(eh.getMessage.contains("correlation in WHERE only"))
    // uncorrelated EXISTS may be any query shape (nonempty test)
    checkAgainstSparkSql(
      """select n_name from nation
         where exists (select count(*) from region group by r_name)
         order by n_name""")
    checkAgainstSparkSql(
      """select n_name from nation
         where not exists (select 1 from region where r_name = 'NOPE' limit 1)
         order by n_name""")
  }

  test("positional refs out of range fail with a clear message") {
    val e = intercept[RuntimeException](graftSession.query(
      "select n_name from nation order by 5"))
    assert(e.getMessage.contains("position"))
    assertThrows[RuntimeException](graftSession.query(
      "select n_name, count(*) as n from nation group by 9"))
  }

  test("sum over a non-numeric column is rejected, not cast") {
    // reference raises UnsupportedColumnOperation (test_errors.py:73)
    val e = intercept[RuntimeException](
      graftSession.query("select sum(n_name) as s from nation"))
    assert(e.getMessage.contains("non-numeric"))
    // avg likewise, including inside arithmetic
    assertThrows[RuntimeException](
      graftSession.query("select avg(r_name) + 1 as x from region"))
  }
}
