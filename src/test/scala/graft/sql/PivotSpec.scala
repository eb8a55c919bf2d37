package graft.sql

import graft.SparkTestBase

/** Round-5 PIVOT / UNPIVOT (SURVEY §2.1 row 36aj). */
class PivotSpec extends SparkTestBase {

  test("pivot equals conditional aggregation") {
    checkTranslated(
      """select * from (select l_returnflag, l_linestatus, l_quantity from lineitem)
         pivot (sum(l_quantity) for l_linestatus in ('O' as qty_o, 'F' as qty_f))""",
      """select l_returnflag,
           sum(case when l_linestatus = 'O' then l_quantity end) as qty_o,
           sum(case when l_linestatus = 'F' then l_quantity end) as qty_f
         from lineitem group by l_returnflag""")
    // any expression over the aggregates applies per cell; an empty
    // cell's sum is NULL, so its CASE reads 0
    val cased = graftSession.query(
      """select * from (values (1, 10, 'a'), (1, 20, 'b'), (2, 5, 'a'),
           (3, 7, 'b')) t1(k, v, s)
         pivot (case when sum(v) > 10 then 1 else 0 end
                for s in ('a' as va, 'b' as vb))""")
    assert(cased.columns.toSeq == Seq("k", "va", "vb"), cased.columns.toSeq)
    assert(cased.collect().map(_.toSeq.mkString(",")).toSeq.sorted ==
      Seq("1,0,1", "2,0,0", "3,0,0"))
  }

  test("pivot without value aliases names columns by the literal") {
    // count(*) references no columns, so every other projected column
    // joins the implicit group-by — project only the keys
    checkTranslated(
      """select * from (select l_returnflag, l_linestatus from lineitem)
         pivot (count(*) for l_linestatus in ('O', 'F'))""",
      """select l_returnflag,
           count(case when l_linestatus = 'O' then 1 end) as O,
           count(case when l_linestatus = 'F' then 1 end) as F
         from lineitem group by l_returnflag""")
  }

  test("multi-aggregate pivot names cells value_aggAlias (r5b)") {
    checkTranslated(
      """select * from (select l_returnflag, l_linestatus, l_quantity from lineitem)
         pivot (sum(l_quantity) as s, count(*) as c
                for l_linestatus in ('O' as o, 'F' as f))""",
      """select l_returnflag,
           sum(case when l_linestatus = 'O' then l_quantity end) as o_s,
           count(case when l_linestatus = 'O' then 1 end) as o_c,
           sum(case when l_linestatus = 'F' then l_quantity end) as f_s,
           count(case when l_linestatus = 'F' then 1 end) as f_c
         from lineitem group by l_returnflag""")
  }

  test("multi-aggregate pivot requires aggregate aliases") {
    val e = intercept[RuntimeException](graftSession.query(
      """select * from (select l_returnflag, l_linestatus, l_quantity from lineitem)
         pivot (sum(l_quantity), count(*) as c
                for l_linestatus in ('O' as o))"""))
    assert(e.getMessage.contains("alias"))
  }

  test("pivot composes with further query clauses") {
    checkTranslated(
      """select l_returnflag, qty_o + qty_f as total from
           (select l_returnflag, l_linestatus, l_quantity from lineitem)
         pivot (sum(l_quantity) for l_linestatus in ('O' as qty_o, 'F' as qty_f))
         where l_returnflag <> 'N'
         order by l_returnflag""",
      """select l_returnflag,
           sum(case when l_linestatus = 'O' then l_quantity end)
             + sum(case when l_linestatus = 'F' then l_quantity end) as total
         from lineitem where l_returnflag <> 'N'
         group by l_returnflag order by l_returnflag""")
  }

  test("unpivot equals the UNION ALL expansion (NULLs kept)") {
    checkTranslated(
      """select c_custkey, kind, val from
           (select c_custkey, c_acctbal, c_acctbal * 0.5 as half from customer)
         unpivot (val for kind in (c_acctbal as 'bal', half as 'half'))""",
      """select c_custkey, 'bal' as kind, c_acctbal as val from customer
         union all
         select c_custkey, 'half' as kind, c_acctbal * 0.5 as val from customer""")
  }

  test("unpivot default labels are the column names") {
    checkTranslated(
      """select c_custkey, kind, val from
           (select c_custkey, c_acctbal, c_acctbal * 0.5 as half from customer)
         unpivot (val for kind in (c_acctbal, half))""",
      """select c_custkey, 'c_acctbal' as kind, c_acctbal as val from customer
         union all
         select c_custkey, 'half' as kind, c_acctbal * 0.5 as val from customer""")
  }

  test("dynamic pivot discovers the FOR values (r11b)") {
    // no IN list: distinct values discovered (sorted), columns named
    // by the literal — numeric FOR values included
    checkTranslated(
      """select * from (select n_name, n_regionkey from nation)
         pivot (count(*) for n_regionkey)""",
      """select n_name,
           count(case when n_regionkey = 0 then 1 end) as `0`,
           count(case when n_regionkey = 1 then 1 end) as `1`,
           count(case when n_regionkey = 2 then 1 end) as `2`,
           count(case when n_regionkey = 3 then 1 end) as `3`,
           count(case when n_regionkey = 4 then 1 end) as `4`
         from nation group by n_name""")
    // NULL FOR values produce no column (a NULL never matches)
    val withNull = graftSession.query(
      """select * from (values (1, 'a'), (2, null), (3, 'b')) t(v, k)
         pivot (sum(v) for k)""")
    assert(withNull.columns.toSeq == Seq("a", "b"), withNull.columns.toSeq)
    // all-NULL FOR column is loud
    val e = intercept[RuntimeException](graftSession.query(
      """select * from (values (1, cast(null as varchar))) t(v, k)
         pivot (sum(v) for k)"""))
    assert(e.getMessage.contains("no non-NULL"), e.getMessage)
  }

  test("pivot/unpivot errors are loud") {
    val e1 = intercept[RuntimeException](graftSession.query(
      """select * from (select l_returnflag, l_linestatus, l_quantity from lineitem)
         pivot (l_quantity for l_linestatus in ('O'))"""))
    assert(e1.getMessage.contains("aggregate"))
    val e2 = intercept[RuntimeException](graftSession.query(
      """select * from (select l_returnflag, l_linestatus, l_quantity from lineitem)
         pivot (sum(l_quantity) for nope in ('O'))"""))
    assert(e2.getMessage.contains("not found"))
    val e3 = intercept[RuntimeException](graftSession.query(
      """select * from customer unpivot (val for kind in (nope))"""))
    assert(e3.getMessage.contains("not found"))
  }
}
