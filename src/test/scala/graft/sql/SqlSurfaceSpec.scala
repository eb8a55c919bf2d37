package graft.sql

import graft.SparkTestBase

/** One test per SURVEY.md §2.1 operator, cross-checked against
  * spark.sql on identical input tables. */
class SqlSurfaceSpec extends SparkTestBase {

  test("select star") {
    checkAgainstSparkSql("select * from region")
  }

  test("select columns with aliases, bare and AS") {
    checkAgainstSparkSql(
      "select l_orderkey, l_quantity qty, l_extendedprice as price from lineitem")
  }

  test("case-insensitive table and column resolution") {
    assertSameRows(
      graftSession.query("select N_NAME from NATION"),
      spark.sql("select n_name from nation"))
  }

  test("qualified columns and table.*") {
    checkAgainstSparkSql("select nation.n_name from nation")
    checkAgainstSparkSql("select t1.n_name from nation t1")
    checkAgainstSparkSql("select t1.* from nation t1")
  }

  test("select distinct") {
    checkAgainstSparkSql("select distinct l_returnflag, l_linestatus from lineitem")
  }

  test("where comparisons") {
    checkAgainstSparkSql("select l_orderkey from lineitem where l_quantity > 45")
    checkAgainstSparkSql("select l_orderkey from lineitem where l_quantity <= 2")
    checkAgainstSparkSql("select n_name from nation where n_name = 'CHINA'")
    checkAgainstSparkSql("select n_name from nation where n_regionkey <> 2")
    checkAgainstSparkSql("select n_name from nation where n_regionkey != 2")
  }

  test("boolean ops with parens precedence") {
    checkAgainstSparkSql(
      """select l_orderkey from lineitem
         where (l_quantity > 40 or l_discount < 0.02) and l_tax > 0.04""")
  }

  test("between") {
    checkAgainstSparkSql(
      "select l_orderkey, l_quantity from lineitem where l_quantity between 10 and 12")
  }

  test("in and not in literal lists") {
    checkAgainstSparkSql(
      "select n_name from nation where n_name in ('CHINA', 'INDIA', 'FRANCE')")
    checkAgainstSparkSql(
      "select n_name from nation where n_regionkey not in (1, 3)")
  }

  test("in subquery") {
    checkAgainstSparkSql(
      """select c_name from customer
         where c_nationkey in (select n_nationkey from nation where n_regionkey = 2)""")
  }

  test("is null / is not null") {
    checkAgainstSparkSql("select c_name from customer where c_acctbal is null")
    checkAgainstSparkSql("select count(c_name) as c from customer where c_acctbal is not null")
  }

  test("arithmetic precedence") {
    checkAgainstSparkSql(
      """select l_orderkey, l_linenumber, 1 + 2 * 3 - 2 as my_number
         from lineitem order by l_orderkey, l_linenumber limit 5""")
    checkAgainstSparkSql(
      "select l_extendedprice * (1 - l_discount) as revenue, l_orderkey from lineitem")
  }

  test("case when") {
    checkAgainstSparkSql(
      """select l_orderkey,
           case when l_quantity > 40 then 'big'
                when l_quantity > 20 then 'mid'
                else 'small' end as bucket
         from lineitem""")
  }

  test("cast") {
    checkAgainstSparkSql(
      """select cast(l_quantity as int) as qi,
           cast(l_orderkey as string) as ks,
           cast(2.7 as int) as litint
         from lineitem""")
  }

  test("coalesce") {
    checkAgainstSparkSql(
      "select coalesce(c_acctbal, 0.0) as bal from customer")
  }

  test("aggregates sum avg min max count") {
    checkAgainstSparkSql(
      """select sum(l_quantity) as s, avg(l_quantity) as a,
           min(l_quantity) as mn, max(l_quantity) as mx,
           count(l_quantity) as c
         from lineitem""")
  }

  test("count star and count distinct") {
    checkAgainstSparkSql("select count(*) as n from lineitem")
    checkAgainstSparkSql(
      "select count(distinct l_returnflag) as n from lineitem")
  }

  test("group by with and without selecting key") {
    checkAgainstSparkSql(
      """select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty
         from lineitem group by l_returnflag, l_linestatus""")
    checkAgainstSparkSql(
      "select sum(l_quantity) as sum_qty from lineitem group by l_returnflag")
  }

  test("group by no aggregates = distinct keys") {
    checkAgainstSparkSql(
      "select l_returnflag, l_linestatus from lineitem group by l_returnflag, l_linestatus")
  }

  /** A session over the small tables of the aggregate-context cases
    * below; their expected rows are DuckDB 1.0's answers. */
  private lazy val aggCtx: graft.Graft = {
    import spark.implicits._
    val g = graft.Graft(spark)
    g.registerTable("t1", Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "a"),
      (3L, 7L, "b")).toDF("k", "v", "s"))
    g.registerTable("t", Seq((1L, 10L), (2L, 5L), (3L, 7L)).toDF("k", "v"))
    g.registerTable("u", Seq((1L, 3L, 2L), (1L, 4L, 9L), (2L, 1L, 1L),
      (3L, 8L, 8L)).toDF("k", "w", "g"))
    g
  }

  /** `sql`'s rows on [[aggCtx]], as sorted comma-joined strings. */
  private def aggCtxRows(sql: String): Seq[String] =
    aggCtx.query(sql).collect().map(_.toSeq.map(String.valueOf).mkString(","))
      .toSeq.sorted

  test("having with group by") {
    checkAgainstSparkSql(
      """select l_returnflag, count(*) as n from lineitem
         group by l_returnflag having count(*) > 1000""")
    // row values over aggregates and group keys, in HAVING and in a
    // grouped SELECT list
    assert(aggCtxRows("""select k, count(*) c from t1 group by k
        having (count(*), sum(v)) > (1, 0)""") == Seq("1,2", "2,1", "3,1"))
    assert(aggCtxRows("""select k, (k, count(*)) = (1, 2) as f
        from t1 group by k""") == Seq("1,true", "2,false", "3,false"))
    assert(aggCtxRows("""select k from t1 group by k
        having (k, count(*)) in ((1, 2), (3, 1))""") == Seq("1", "3"))
  }

  test("having without group by") {
    checkAgainstSparkSql(
      "select min(l_quantity) as mn from lineitem having min(l_quantity) > 0")
  }

  test("order by asc desc with limit offset") {
    checkAgainstSparkSql(
      """select c_name, c_acctbal from customer
         order by c_acctbal desc, c_name limit 10""")
    checkAgainstSparkSql(
      """select c_name, c_acctbal from customer
         order by c_acctbal desc, c_name limit 10 offset 5""")
  }

  test("inner join") {
    checkAgainstSparkSql(
      """select n_name, r_name from nation
         join region on n_regionkey = r_regionkey""")
  }

  test("left right full joins") {
    checkAgainstSparkSql(
      """select n_name, r_name from nation
         left join region on n_regionkey = r_regionkey""")
    checkAgainstSparkSql(
      """select n_name, r_name from nation
         right outer join region on n_regionkey = r_regionkey""")
    checkAgainstSparkSql(
      """select n_name, r_name from nation
         full outer join region on n_regionkey = r_regionkey""")
  }

  test("cross join explicit and implicit") {
    checkAgainstSparkSql(
      "select n_name, r_name from nation cross join region")
    checkAgainstSparkSql(
      "select count(*) as n from nation, region")
  }

  test("three-way join with qualified keys") {
    checkAgainstSparkSql(
      """select c_name, n_name, r_name from customer
         join nation on customer.c_nationkey = nation.n_nationkey
         join region on nation.n_regionkey = region.r_regionkey""")
  }

  test("subquery in from, nested") {
    checkAgainstSparkSql(
      "select * from (select n_name, n_regionkey from nation) t")
    checkAgainstSparkSql(
      """select big.n_name from
           (select * from (select n_name, n_regionkey from nation) inner1
            where n_regionkey > 1) big""")
  }

  test("aggregate in subquery then join") {
    checkAgainstSparkSql(
      """select n_name, cnt from nation
         join (select c_nationkey, count(*) as cnt from customer
               group by c_nationkey) t
           on n_nationkey = t.c_nationkey""")
  }

  test("union / union all / intersect / except") {
    checkAgainstSparkSql(
      """select n_name as name from nation where n_regionkey = 0
         union select n_name as name from nation where n_regionkey <= 1""")
    checkAgainstSparkSql(
      """select n_name as name from nation where n_regionkey = 0
         union all select n_name as name from nation where n_regionkey <= 1""")
    checkAgainstSparkSql(
      """select n_regionkey from nation
         intersect select r_regionkey from region where r_regionkey < 3""")
    checkAgainstSparkSql(
      """select n_regionkey from nation
         except select r_regionkey from region where r_regionkey < 3""")
  }

  test("rank and dense_rank windows") {
    checkAgainstSparkSql(
      """select c_name, rank() over (order by c_acctbal desc) as rk
         from customer""")
    checkAgainstSparkSql(
      """select c_name,
           dense_rank() over (partition by c_nationkey order by c_acctbal desc) as rk
         from customer""")
  }

  test("aggregate over window with partition and order") {
    checkAgainstSparkSql(
      """select l_orderkey, l_linenumber,
           sum(l_quantity) over (partition by l_orderkey order by l_linenumber) as running
         from lineitem""")
  }

  test("window frames rows and range") {
    checkAgainstSparkSql(
      """select l_orderkey, l_linenumber,
           sum(l_quantity) over (partition by l_orderkey order by l_linenumber
             rows between 1 preceding and current row) as w
         from lineitem""")
    checkAgainstSparkSql(
      """select l_orderkey, l_linenumber,
           avg(l_quantity) over (partition by l_orderkey order by l_linenumber
             rows between unbounded preceding and unbounded following) as w
         from lineitem""")
  }

  test("frame EXCLUDE CURRENT ROW / GROUP / TIES (r5c)") {
    // leave-one-out sum + avg: the whole-partition frame minus the
    // current row. spark.sql has no EXCLUDE — oracle spells out the
    // identical subtraction (same float ops, so doubles match too)
    checkTranslated(
      """select l_orderkey, l_linenumber,
           sum(l_quantity) over (partition by l_orderkey
             rows between unbounded preceding and unbounded following
             exclude current row) as others,
           avg(l_quantity) over (partition by l_orderkey
             rows between unbounded preceding and unbounded following
             exclude current row) as loo_avg
         from lineitem""",
      """select l_orderkey, l_linenumber,
           case when count(l_quantity) over (partition by l_orderkey) > 1
                then sum(l_quantity) over (partition by l_orderkey)
                     - l_quantity end as others,
           case when count(l_quantity) over (partition by l_orderkey) > 1
                then (sum(l_quantity) over (partition by l_orderkey)
                      - l_quantity)
                     / (count(l_quantity) over (partition by l_orderkey)
                        - 1) end as loo_avg
         from lineitem""")
    // EXCLUDE GROUP: running count of rows strictly before the peer
    // group; EXCLUDE TIES: peers drop but the current row stays
    checkTranslated(
      """select l_orderkey, l_quantity,
           count(*) over (partition by l_orderkey order by l_quantity
             range between unbounded preceding and current row
             exclude group) as before_grp,
           count(*) over (partition by l_orderkey order by l_quantity
             range between unbounded preceding and current row
             exclude ties) as no_ties
         from lineitem""",
      """select l_orderkey, l_quantity,
           count(*) over (partition by l_orderkey order by l_quantity
             range between unbounded preceding and current row)
           - count(*) over (partition by l_orderkey, l_quantity)
             as before_grp,
           count(*) over (partition by l_orderkey order by l_quantity
             range between unbounded preceding and current row)
           - count(*) over (partition by l_orderkey, l_quantity) + 1
             as no_ties
         from lineitem""")
    // min/max EXCLUDE CURRENT ROW (r6): the split-frame rewrite —
    // spark.sql oracle spells out least/greatest over the [start,-1]
    // and [+1,end] sub-frames (ROWS offsets need a tie-free order —
    // l_extendedprice is unique per order in this data)
    checkTranslated(
      """select l_orderkey, l_linenumber,
           max(l_quantity) over (partition by l_orderkey
             rows between unbounded preceding and unbounded following
             exclude current row) as others_max,
           min(l_quantity) over (partition by l_orderkey
             order by l_extendedprice
             rows between 2 preceding and current row
             exclude current row) as prev2_min,
           max(l_quantity) over (partition by l_orderkey
             order by l_extendedprice
             rows between current row and 1 following
             exclude current row) as next_max
         from lineitem""",
      """select l_orderkey, l_linenumber,
           greatest(
             max(l_quantity) over (partition by l_orderkey
               order by l_extendedprice
               rows between unbounded preceding and 1 preceding),
             max(l_quantity) over (partition by l_orderkey
               order by l_extendedprice
               rows between 1 following and unbounded following))
             as others_max,
           min(l_quantity) over (partition by l_orderkey
             order by l_extendedprice
             rows between 2 preceding and 1 preceding) as prev2_min,
           max(l_quantity) over (partition by l_orderkey
             order by l_extendedprice
             rows between 1 following and 1 following) as next_max
         from lineitem""")
    // a frame that is EXACTLY the current row excludes to empty: NULL
    checkTranslated(
      """select l_orderkey, l_linenumber,
           min(l_quantity) over (partition by l_orderkey
             order by l_extendedprice
             rows between current row and current row
             exclude current row) as empty_min
         from lineitem""",
      """select l_orderkey, l_linenumber,
           cast(null as double) as empty_min from lineitem""")
    // EXCLUDE NO OTHERS is the explicit default
    checkTranslated(
      """select l_orderkey,
           sum(l_quantity) over (partition by l_orderkey order by l_linenumber
             rows between 1 preceding and current row
             exclude no others) as w
         from lineitem""",
      """select l_orderkey,
           sum(l_quantity) over (partition by l_orderkey order by l_linenumber
             rows between 1 preceding and current row) as w
         from lineitem""")
  }

  test("frame EXCLUDE GROUP/TIES with ROWS frames (r7)") {
    // a ROWS frame may CUT the peer group: the excluded set is
    // (peer group ∩ frame), computed by replaying the same ROWS
    // bounds inside the peer-group partition under a shared
    // deterministic whole-row-hash tiebreak. The spark.sql oracle
    // spells out the identical two-window formula with the same
    // explicit tiebreak (deterministic sorts keep its own two
    // WindowExecs consistent). Output columns are functions of
    // (partition, order key) only and the aggregate args are
    // functions of the order key, so the row MULTISET is invariant
    // under tie order and the comparison does not depend on the two
    // engines picking the same tiebreak.
    checkTranslated(
      """select l_orderkey, l_quantity,
           sum(l_quantity) over (partition by l_orderkey
             order by l_quantity
             rows between 2 preceding and 1 following
             exclude group) as sg,
           count(*) over (partition by l_orderkey
             order by l_quantity
             rows between 2 preceding and 1 following
             exclude ties) as ct,
           avg(l_quantity) over (partition by l_orderkey
             order by l_quantity
             rows between 3 preceding and current row
             exclude group) as ag
         from lineitem""",
      """select l_orderkey, l_quantity,
           case when count(l_quantity) over (partition by l_orderkey
                  order by l_quantity, xxhash64(struct(*))
                  rows between 2 preceding and 1 following)
                - count(l_quantity) over (
                  partition by l_orderkey, l_quantity
                  order by xxhash64(struct(*))
                  rows between 2 preceding and 1 following) > 0
                then sum(l_quantity) over (partition by l_orderkey
                       order by l_quantity, xxhash64(struct(*))
                       rows between 2 preceding and 1 following)
                   - sum(l_quantity) over (
                       partition by l_orderkey, l_quantity
                       order by xxhash64(struct(*))
                       rows between 2 preceding and 1 following) end as sg,
           count(*) over (partition by l_orderkey
               order by l_quantity, xxhash64(struct(*))
               rows between 2 preceding and 1 following)
             - (count(*) over (partition by l_orderkey, l_quantity
               order by xxhash64(struct(*))
               rows between 2 preceding and 1 following) - 1) as ct,
           case when count(l_quantity) over (partition by l_orderkey
                  order by l_quantity, xxhash64(struct(*))
                  rows between 3 preceding and current row)
                - count(l_quantity) over (
                  partition by l_orderkey, l_quantity
                  order by xxhash64(struct(*))
                  rows between 3 preceding and current row) > 0
                then (sum(l_quantity) over (partition by l_orderkey
                       order by l_quantity, xxhash64(struct(*))
                       rows between 3 preceding and current row)
                    - sum(l_quantity) over (
                       partition by l_orderkey, l_quantity
                       order by xxhash64(struct(*))
                       rows between 3 preceding and current row))
                   / (count(l_quantity) over (partition by l_orderkey
                       order by l_quantity, xxhash64(struct(*))
                       rows between 3 preceding and current row)
                    - count(l_quantity) over (
                       partition by l_orderkey, l_quantity
                       order by xxhash64(struct(*))
                       rows between 3 preceding and current row)) end as ag
         from lineitem""")
    // the unbounded ROWS frame always covers the whole peer group —
    // equals the RANGE whole-group subtraction, per-row deterministic
    checkTranslated(
      """select l_orderkey, l_quantity,
           sum(l_quantity) over (partition by l_orderkey
             order by l_quantity
             rows between unbounded preceding and unbounded following
             exclude group) as sg,
           count(*) over (partition by l_orderkey
             order by l_quantity
             rows between unbounded preceding and unbounded following
             exclude ties) as ct
         from lineitem""",
      """select l_orderkey, l_quantity,
           case when count(l_quantity) over (partition by l_orderkey)
                - count(l_quantity) over (
                    partition by l_orderkey, l_quantity) > 0
                then sum(l_quantity) over (partition by l_orderkey)
                   - sum(l_quantity) over (
                       partition by l_orderkey, l_quantity) end as sg,
           count(*) over (partition by l_orderkey)
             - (count(*) over (partition by l_orderkey, l_quantity) - 1)
             as ct
         from lineitem""")
  }

  test("FILTER (WHERE ...) composes with window aggregates (r8)") {
    // Spark SQL rejects windowed FILTER outright; the CASE-wrap
    // lowering is the oracle here, DuckDB-native in q_window_filter
    assertSameRows(
      graftSession.query(
        """select l_orderkey, l_linenumber,
             sum(l_quantity) filter (where l_discount > 0.05)
               over (partition by l_orderkey order by l_extendedprice
                 rows between unbounded preceding and current row) as sf,
             count(*) filter (where l_tax > 0.04)
               over (partition by l_orderkey) as cf
           from lineitem"""),
      spark.sql(
        """select l_orderkey, l_linenumber,
             sum(case when l_discount > 0.05 then l_quantity end)
               over (partition by l_orderkey order by l_extendedprice
                 rows between unbounded preceding and current row) as sf,
             count(case when l_tax > 0.04 then 1 end)
               over (partition by l_orderkey) as cf
           from lineitem"""))
  }

  test("generic EXCLUDE fallback: min/max RANGE/GROUP/TIES, DISTINCT (r8)") {
    // hand-computed on a tied fixture (2 appears twice): frames are
    // value-determined so RANGE tolerates the tie; verified against
    // DuckDB's NATIVE exclude in q_window_exclude_ext
    val r = graftSession.query(
      """select v,
           min(v) over (order by v
             range between unbounded preceding and current row
             exclude group) as mg,
           max(v) over (order by v
             range between unbounded preceding and current row
             exclude current row) as mc,
           sum(distinct v) over (order by v
             rows between unbounded preceding and current row
             exclude ties) as sdt
         from (values (1),(2),(2),(3)) t(v)""")
      .collect().map(x => (x.getLong(0),
        if (x.isNullAt(1)) null else java.lang.Long.valueOf(x.getLong(1)),
        if (x.isNullAt(2)) null else java.lang.Long.valueOf(x.getLong(2)),
        if (x.isNullAt(3)) null else java.lang.Long.valueOf(x.getLong(3))))
      .sortBy(x => (x._1, Option(x._4).map(_.longValue).getOrElse(0L)))
    // DuckDB 1.0 native answers on the same fixture:
    // (1,NULL,NULL,1), (2,1,2,3), (2,1,2,3), (3,1,2,6)
    assert(r.toSeq == Seq(
      (1L, null, null, 1L: java.lang.Long),
      (2L, 1L: java.lang.Long, 2L: java.lang.Long, 3L: java.lang.Long),
      (2L, 1L: java.lang.Long, 2L: java.lang.Long, 3L: java.lang.Long),
      (3L, 1L: java.lang.Long, 2L: java.lang.Long, 6L: java.lang.Long)),
      r.mkString(","))
    // -0.0 and 0.0 are one value to windowed DISTINCT, with and without
    // EXCLUDE, from literals and from parquet (DuckDB 1.0 answers)
    import spark.implicits._
    val zDir = java.nio.file.Files.createTempDirectory("graft_z").resolve("z").toString
    Seq((1L, -0.0), (2L, 0.0), (3L, 1.0)).toDF("id", "x").write.parquet(zDir)
    for (z <- Seq(
        """(values (1, cast('-0.0' as double)), (2, cast('0.0' as double)),
           (3, cast('1.0' as double))) z(id, x)""",
        s"read_parquet('$zDir') z")) {
      val got = graftSession.query(
        s"""select id,
             count(distinct x) over (order by id
               rows between 1 preceding and current row) as c,
             count(distinct x) over (order by x
               rows between unbounded preceding and unbounded following
               exclude current row) as ce
           from $z""")
        .collect().map(_.toSeq.map(String.valueOf).mkString(",")).toSeq.sorted
      assert(got == Seq("1,1,2", "2,1,2", "3,2,1"), s"$z: $got")
    }
  }

  test("GROUPS frames compose with min/max/sum EXCLUDE (r10, last 36ba cell)") {
    // hand-computed: v = 1,2,2,3,4 -> peer groups {1},{2,2},{3},{4}
    val r = graftSession.query(
      """select v,
           min(v) over (order by v groups between 1 preceding and current row
             exclude group) as mg,
           max(v) over (order by v groups between 1 preceding and current row
             exclude current row) as mc,
           min(v) over (order by v groups between current row and 1 following
             exclude ties) as mt
         from (values (1),(2),(2),(3),(4)) t(v)""")
      .collect().map(x => (x.getLong(0),
        if (x.isNullAt(1)) null else java.lang.Long.valueOf(x.getLong(1)),
        if (x.isNullAt(2)) null else java.lang.Long.valueOf(x.getLong(2)),
        if (x.isNullAt(3)) null else java.lang.Long.valueOf(x.getLong(3))))
      .sortBy(_._1).toSeq
    def L(n: Long): java.lang.Long = java.lang.Long.valueOf(n)
    assert(r == Seq(
      (1L, null, null, L(1)),        // frame {1}: excl group -> empty
      (2L, L(1), L(2), L(2)),        // frame {1,2,2}: -group={1}; -cur max=2
      (2L, L(1), L(2), L(2)),        //   ties: {2,3} keep one current copy
      (3L, L(2), L(2), L(3)),        // frame {2,2,3}
      (4L, L(3), L(3), L(4))),       // frame {3,4}
      r.mkString(","))
  }

  test("frame EXCLUDE restrictions are loud") {
    // rank is not an aggregate at all
    val e2 = intercept[Exception](graftSession.query(
      """select rank() over (partition by l_orderkey order by l_quantity
           rows between unbounded preceding and current row
           exclude current row) as r from lineitem""").collect())
    assert(e2.getMessage.contains("sum/count/avg"))
    // frames strictly before the current row cannot exclude it
    val e4 = intercept[Exception](graftSession.query(
      """select sum(l_quantity) over (partition by l_orderkey
           order by l_linenumber
           rows between unbounded preceding and 1 preceding
           exclude current row) as s from lineitem""").collect())
    assert(e4.getMessage.contains("contains the current row"))
    // EXCLUDE without a frame clause is a parse error
    val e5 = intercept[Exception](graftSession.query(
      """select sum(l_quantity) over (partition by l_orderkey
           exclude current row) as s from lineitem""").collect())
    assert(e5.getMessage.contains("frame"))
  }

  test("lead lag first_value last_value row_number windows") {
    checkAgainstSparkSql(
      """select l_orderkey, l_linenumber,
           lag(l_quantity, 1) over (partition by l_orderkey order by l_extendedprice) as prev,
           lead(l_quantity, 2, 0) over (partition by l_orderkey order by l_extendedprice) as nxt,
           first_value(l_quantity) over (partition by l_orderkey order by l_extendedprice) as fv,
           row_number() over (partition by l_orderkey order by l_extendedprice) as rn
         from lineitem""")
  }

  test("literals: string booleans numbers timestamp()") {
    checkAgainstSparkSql(
      "select n_name, 42 as i, 2.5 as d, 'x' as s, true as b from nation")
    assertSameRows(
      graftSession.query(
        "select timestamp('2020-01-02', '03:04:05') as ts from region limit 1"),
      spark.sql("select timestamp '2020-01-02 03:04:05' as ts from region limit 1"))
  }

  test("scalar function extensions") {
    checkAgainstSparkSql(
      """select lower(n_name) as lo, upper(r_name) as up, length(n_name) as ln
         from nation join region on n_regionkey = r_regionkey""")
  }

  test("function registry fallback resolves any Spark function") {
    checkAgainstSparkSql(
      """select md5(n_name) as h, reverse(n_name) as rev,
           concat_ws('-', n_name, r_name) as joined
         from nation join region on n_regionkey = r_regionkey""")
    // session-registered native expressions are callable from SQL too
    graft.functions.GraftFunctions.register(spark)
    val r = graftSession.query(
      "select graft_dot(array(1.0), array(2.5)) as d from region limit 1")
    assert(r.collect().head.getDouble(0) == 2.5)
  }

  test("like") {
    checkAgainstSparkSql("select n_name from nation where n_name like 'C%'")
  }

  test("not in subquery becomes anti-join") {
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_nationkey not in (select n_nationkey from nation where n_regionkey = 2)""")
    // combined with another conjunct
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_acctbal > 0
           and c_nationkey not in (select n_nationkey from nation where n_regionkey < 2)""")
  }

  test("parenthesized join in from") {
    checkAgainstSparkSql(
      """select n_name, r_name
         from (nation join region on n_regionkey = r_regionkey)
         where r_name like 'A%'""")
  }

  test("window clause parses and is ignored (empty definition)") {
    assertSameRows(
      graftSession.query(
        "select n_name from nation where n_regionkey = 1 window w as ()"),
      spark.sql("select n_name from nation where n_regionkey = 1"))
  }

  test("in subquery under OR (existence-flag lowering)") {
    checkAgainstSparkSql(
      """select c_custkey, c_name from customer
         where c_nationkey in (select n_nationkey from nation where n_regionkey = 2)
            or c_acctbal < 100""")
  }

  test("not in subquery under OR") {
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_nationkey not in (select n_nationkey from nation where n_regionkey < 3)
            or c_acctbal >= 9000""")
  }

  test("in subquery under nested NOT over OR") {
    checkAgainstSparkSql(
      """select n_name from nation
         where not (n_nationkey in (select r_regionkey from region) or n_regionkey = 4)""")
  }

  test("not in subquery whose set contains null filters everything (3VL)") {
    // nullif plants a NULL in the subquery result: x NOT IN (..., NULL)
    // is never TRUE, so only rows matching the other disjunct survive
    checkAgainstSparkSql(
      """select n_nationkey from nation
         where n_nationkey not in (select nullif(r_regionkey, 3) from region)
            or n_nationkey = 7""")
  }

  test("select * with OR-position subquery leaks no helper columns") {
    val df = graftSession.query(
      """select * from nation
         where n_nationkey in (select r_regionkey from region) or n_regionkey = 4""")
    assert(df.columns.toSeq == spark.table("nation").columns.toSeq)
    assertSameRows(df, spark.sql(
      """select * from nation
         where n_nationkey in (select r_regionkey from region) or n_regionkey = 4"""))
  }

  test("in list with computed (non-literal) elements") {
    checkAgainstSparkSql(
      """select n_nationkey, n_name from nation
         where n_nationkey in (n_regionkey, n_regionkey + 4, 10)""")
    checkAgainstSparkSql(
      """select n_nationkey from nation
         where n_nationkey not in (n_regionkey * 2, 5)""")
  }

  test("unaliased scalar subquery keeps its output column") {
    val df = graftSession.query(
      "select (select max(r_regionkey) from region) from nation")
    assert(df.columns.length == 1, df.columns.mkString(","))
    assert(df.collect().forall(_.getAs[Number](0).longValue == 4L))
  }

  test("inner relation shadows a same-named outer relation") {
    // inner `nation` hides the outer one: the subquery is UNcorrelated
    // (a constant count), matching Spark/DuckDB scoping
    checkAgainstSparkSql(
      """select n_name,
           (select count(*) from nation where nation.n_regionkey = 1) as x
         from nation""")
  }

  test("having alias under functions and case resolves") {
    checkAgainstSparkSql(
      """select l_returnflag, sum(l_quantity) as qty from lineitem
         group by l_returnflag having round(qty, 0) > 1000""")
    checkAgainstSparkSql(
      """select l_suppkey, count(*) as n from lineitem
         group by l_suppkey having coalesce(n, 0) > 10""")
  }

  test("order by or limit before a set operator is rejected") {
    intercept[RuntimeException](graftSession.query(
      """select n_name from nation order by n_name limit 3
         union all select r_name from region"""))
  }

  test("null literal and CASE without ELSE") {
    checkAgainstSparkSql(
      """select n_name,
           case when n_regionkey > 2 then 'high' end as bucket
         from nation""")
    checkAgainstSparkSql(
      "select coalesce(null, n_name) as x from nation")
    checkAgainstSparkSql(
      "select n_name from nation where case when n_regionkey = 0 then true end")
  }

  test("group by can reference select aliases") {
    checkAgainstSparkSql(
      """select substring(n_name, 1, 1) as initial, count(*) as n
         from nation group by initial""")
    // the same expression spelled out in GROUP BY also works
    checkAgainstSparkSql(
      """select substring(n_name, 1, 1) as initial, count(*) as n
         from nation group by substring(n_name, 1, 1)""")
    // arithmetic expression key selected by repetition
    checkAgainstSparkSql(
      """select n_regionkey * 2 as dk, count(*) as n
         from nation group by n_regionkey * 2""")
    // a real column always wins over an alias of the same name
    checkAgainstSparkSql(
      """select n_regionkey as n_regionkey, count(*) as n
         from nation group by n_regionkey""")
  }

  test("having can reference select aliases") {
    checkAgainstSparkSql(
      """select l_suppkey, count(*) as n from lineitem
         group by l_suppkey having n > 10""")
    checkAgainstSparkSql(
      """select l_returnflag, round(sum(l_quantity), 2) as qty from lineitem
         group by l_returnflag having qty > 100 and count(*) > 5""")
  }

  test("not like, ilike, not between") {
    checkAgainstSparkSql("select n_name from nation where n_name not like 'A%'")
    checkAgainstSparkSql("select n_name from nation where n_name ilike 'a%'")
    checkAgainstSparkSql("select n_name from nation where n_name not ilike '%a%'")
    checkAgainstSparkSql(
      "select l_orderkey from lineitem where l_quantity not between 5 and 45")
  }

  test("stddev and variance aggregates") {
    checkAgainstSparkSql(
      """select l_returnflag, round(stddev(l_quantity), 4) as sd,
           round(variance(l_quantity), 4) as vr
         from lineitem group by l_returnflag""")
    // reference parity: dispersion over non-numeric rejected
    intercept[RuntimeException](graftSession.query(
      "select stddev(n_name) as x from nation"))
  }

  test("positional group by and order by") {
    checkAgainstSparkSql(
      "select l_returnflag, round(sum(l_quantity), 2) as s from lineitem group by 1 order by 1")
    checkAgainstSparkSql(
      "select l_returnflag, l_linestatus, count(*) as n from lineitem group by 1, 2 order by 3 desc, 1")
    intercept[RuntimeException](graftSession.query(
      "select l_returnflag from lineitem group by 4"))
  }

  test("not in subquery with null keys follows SQL three-valued logic") {
    // nullif plants a NULL in the set: NOT IN is never TRUE -> 0 rows
    checkAgainstSparkSql(
      """select n_nationkey from nation
         where n_nationkey not in (select nullif(r_regionkey, 3) from region)""")
    // null-free set: plain anti-join semantics
    checkAgainstSparkSql(
      """select n_nationkey from nation
         where n_nationkey not in (select r_regionkey from region)""")
  }

  test("correlated in subquery") {
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_custkey in (select o_custkey from orders
                             where orders.o_custkey = customer.c_custkey
                               and orders.o_totalprice > 400000)""")
  }

  test("scalar subqueries inside aggregating queries") {
    // SELECT position alongside a global aggregate
    checkAgainstSparkSql(
      """select count(*) as n, (select max(r_regionkey) from region) as m
         from nation""")
    // HAVING position with group keys
    checkAgainstSparkSql(
      """select n_regionkey, count(*) as n from nation
         group by n_regionkey
         having count(*) > (select min(r_regionkey) from region) + 3""")
    // correlated scalar aggregate alongside grouped aggregation on the
    // same key (the helper column folds into the group keys). Spark
    // SQL itself rejects this shape (SCALAR_SUBQUERY_IS_IN_GROUP_BY_
    // OR_AGGREGATE_FUNCTION) while DuckDB and graft accept it, so the
    // oracle is the equivalent explicit-join form.
    checkTranslated(
      """select c_nationkey, count(*) as n,
           (select max(n_name) from nation
            where nation.n_nationkey = customer.c_nationkey) as nm
         from customer group by c_nationkey""",
      """select c_nationkey, count(*) as n, nm from customer
         left join (select n_nationkey, max(n_name) as nm from nation
                    group by n_nationkey) d
           on d.n_nationkey = customer.c_nationkey
         group by c_nationkey, nm""")
  }

  test("correlated scalar aggregate subqueries") {
    // SELECT position with COUNT: missing groups must read 0, not null
    checkAgainstSparkSql(
      """select n_name,
           (select count(*) from customer
            where customer.c_nationkey = nation.n_nationkey) as n_cust
         from nation""")
    // WHERE position with AVG: missing groups are NULL -> comparison filters
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_acctbal > (select avg(o_totalprice) from orders
                            where orders.o_custkey = customer.c_custkey) / 100""")
    // local + correlated conjuncts mixed
    checkAgainstSparkSql(
      """select c_custkey,
           (select max(o_totalprice) from orders
            where orders.o_custkey = customer.c_custkey
              and o_orderpriority = '1-URGENT') as max_urgent
         from customer where c_custkey < 50""")
  }

  test("correlated exists and not exists") {
    checkAgainstSparkSql(
      """select c_custkey, c_name from customer
         where exists (select 1 from orders
                       where orders.o_custkey = customer.c_custkey
                         and orders.o_totalprice > 400000)""")
    checkAgainstSparkSql(
      """select c_custkey from customer
         where not exists (select 1 from orders
                           where orders.o_custkey = customer.c_custkey)
           and c_acctbal > 0""")
    // uncorrelated EXISTS degenerates to keep-all / keep-none
    checkAgainstSparkSql(
      """select n_name from nation
         where exists (select 1 from region where r_regionkey > 100)""")
    checkAgainstSparkSql(
      """select n_name from nation
         where not exists (select 1 from region where r_regionkey > 100)
           and n_regionkey = 0""")
    // an outer ref in the PROJECTION is legal and irrelevant (EXISTS
    // discards its projection — the probe strips the items before the
    // inner translation, so the analyzer never sees the outer name)
    checkTranslated(
      """select n_name from nation
         where exists (select nation.n_regionkey from region)
         order by n_name""",
      "select n_name from nation order by n_name")
    checkTranslated(
      """select n_name from nation
         where exists (select nation.n_regionkey from region
                       where r_regionkey > 100)
         order by n_name""",
      "select n_name from nation where false order by n_name")
  }

  test("group by rollup and cube") {
    checkAgainstSparkSql(
      """select l_returnflag, l_linestatus, count(*) as n
         from lineitem group by rollup(l_returnflag, l_linestatus)""")
    checkAgainstSparkSql(
      """select l_returnflag, l_linestatus, round(sum(l_quantity), 2) as qty
         from lineitem group by cube(l_returnflag, l_linestatus)""")
  }

  test("uncorrelated scalar subqueries in WHERE and SELECT") {
    checkAgainstSparkSql(
      """select c_custkey, c_acctbal from customer
         where c_acctbal > (select avg(c_acctbal) from customer)
         order by c_custkey limit 20""")
    checkAgainstSparkSql(
      """select n_name,
           (select max(r_regionkey) from region) as max_rk
         from nation where n_regionkey = 0""")
    checkAgainstSparkSql(
      """select n_name from nation
         where n_regionkey = (select min(r_regionkey) from region where r_name = 'ASIA')
            or n_nationkey > (select count(*) from region) * 4""")
  }

  test("order by and limit after a set op apply to the whole union") {
    checkAgainstSparkSql(
      """select n_name as x from nation union
         select r_name as x from region order by x limit 3""")
    checkAgainstSparkSql(
      """select n_regionkey as k from nation union all
         select r_regionkey as k from region order by k desc limit 4""")
  }

  test("join using") {
    checkAgainstSparkSql(
      """with a as (select n_regionkey as rk, n_name from nation),
              b as (select r_regionkey as rk, r_name from region)
         select rk, n_name, r_name from a join b using (rk)""")
    checkAgainstSparkSql(
      """with a as (select n_regionkey as rk, n_name from nation where n_nationkey < 5),
              b as (select r_regionkey as rk, r_name from region where r_regionkey < 2)
         select rk, n_name, r_name from a left join b using (rk)""")
  }

  test("with clause (CTEs), including chained references") {
    checkAgainstSparkSql(
      """with asia as (select n_nationkey, n_name from nation where n_regionkey = 2),
              ac as (select c_custkey, c_acctbal, n_name from customer
                     join asia on c_nationkey = n_nationkey)
         select n_name, count(*) as n, round(sum(c_acctbal), 2) as bal
         from ac group by n_name""")
    checkAgainstSparkSql(
      """with top as (select c_custkey from customer order by c_acctbal desc limit 5)
         select c_custkey from top order by c_custkey""")
  }

  test("scalar subqueries with rollup and cube") {
    checkAgainstSparkSql(
      """select l_returnflag, l_linestatus, count(*) as n,
           (select max(r_regionkey) from region) as mx
         from lineitem group by rollup(l_returnflag, l_linestatus)""")
    checkAgainstSparkSql(
      """select l_returnflag, count(*) + (select min(r_regionkey) from region) as n
         from lineitem group by cube(l_returnflag)""")
    // a correlated scalar has no defined value in rolled-up
    // super-groups: stays a loud error
    val e = intercept[RuntimeException](graftSession.query(
      """select n_regionkey,
           (select count(*) from region where region.r_regionkey = nation.n_regionkey) as c
         from nation group by rollup(n_regionkey)"""))
    assert(e.getMessage.toLowerCase.contains("rollup"))
    // an UNALIASED scalar item under rollup keeps the plain path's
    // user-visible name, not the internal min(__ssq_N) wrapper's
    val named = graftSession.query(
      """select n_regionkey, (select max(r_regionkey) from region)
         from nation group by rollup(n_regionkey)""")
    assert(named.columns.toSeq == Seq("n_regionkey", "scalar_subquery0"),
      named.columns.mkString(","))
  }

  test("group-key qualifier mismatch fails loudly instead of mislabeling") {
    // a.k and b.k are DIFFERENT columns; selecting a.k while grouping
    // by b.k must not silently surface b's grouped value under a's name
    intercept[Exception](graftSession.query(
      """select a.k, count(*) as n
         from (select n_regionkey as k from nation) a
         join (select r_regionkey as k from region) b on a.k = b.k
         group by b.k""").collect())
    // matching qualifiers and the unqualified/qualified mix still work
    checkAgainstSparkSql(
      """select a.k, count(*) as n
         from (select n_regionkey as k from nation) a
         join (select r_regionkey as k from region) b on a.k = b.k
         group by a.k order by a.k""")
  }

  test("exists under OR and nested NOT") {
    checkAgainstSparkSql(
      """select n_name from nation
         where exists (select 1 from customer
                       where customer.c_nationkey = nation.n_nationkey
                         and customer.c_acctbal > 9000)
            or n_regionkey = 0 order by n_name""")
    checkAgainstSparkSql(
      """select n_name from nation
         where not (exists (select 1 from supplier
                            where supplier.s_nationkey = nation.n_nationkey)
                    or n_regionkey = 2) order by n_name""")
    // uncorrelated EXISTS under OR
    checkAgainstSparkSql(
      """select n_name from nation
         where exists (select 1 from region where r_name = 'ASIA')
            or n_regionkey = 99 order by n_name""")
  }

  test("correlated in subquery under OR") {
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_custkey in (select o_custkey from orders
                             where orders.o_custkey = customer.c_custkey
                               and orders.o_totalprice > 400000)
            or c_acctbal > 9900 order by c_custkey""")
  }

  test("scalar subquery: empty yields NULL, multi-row raises") {
    // 0-row subquery: value is NULL for every outer row, rows survive
    checkAgainstSparkSql(
      """select n_name, (select r_regionkey from region where r_name = 'NOPE') as rv
         from nation order by n_name""")
    // multi-row subquery: loud runtime error, not row multiplication
    val e = intercept[Exception](graftSession.query(
      "select n_name, (select r_regionkey from region) as rv from nation").collect())
    assert(e.getMessage.toLowerCase.contains("more than one row"))
  }

  test("in and exists subqueries in HAVING") {
    checkAgainstSparkSql(
      """select c_nationkey, count(*) as cnt from customer
         group by c_nationkey
         having c_nationkey in (select n_nationkey from nation where n_regionkey = 1)
         order by c_nationkey""")
    // aggregate probe
    checkAgainstSparkSql(
      """select o_custkey, count(*) as cnt from orders
         group by o_custkey
         having count(*) in (select n_nationkey from nation where n_nationkey > 20)
         order by o_custkey""")
    // NOT IN with an alias probe resolving to an aggregate
    checkAgainstSparkSql(
      """select o_custkey, count(*) as cnt from orders
         group by o_custkey
         having cnt not in (select n_nationkey from nation where n_nationkey > 20)
         order by o_custkey""")
    // EXISTS / NOT EXISTS (uncorrelated) in HAVING
    checkAgainstSparkSql(
      """select c_nationkey, count(*) as cnt from customer
         group by c_nationkey
         having exists (select 1 from region where r_name = 'ASIA') and count(*) > 30
         order by c_nationkey""")
    checkAgainstSparkSql(
      """select c_nationkey, count(*) as cnt from customer
         group by c_nationkey
         having not exists (select 1 from region where r_name = 'NOPE') and count(*) > 30
         order by c_nationkey""")
    // HAVING subquery on the distinct (no-aggregate) path
    checkAgainstSparkSql(
      """select n_regionkey from nation group by n_regionkey
         having n_regionkey in (select r_regionkey from region where r_name like 'A%')
         order by n_regionkey""")
  }

  test("multiple subqueries compose in one predicate") {
    // two correlated IN flags under OR — distinct helper columns
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_custkey in (select o_custkey from orders
                             where orders.o_custkey = customer.c_custkey
                               and o_totalprice > 300000)
            or c_custkey in (select o_custkey from orders
                             where orders.o_custkey = customer.c_custkey
                               and o_totalprice < 1000)
         order by c_custkey""")
    // EXISTS + uncorrelated IN + plain predicate mixed under OR/AND
    checkAgainstSparkSql(
      """select c_custkey from customer
         where (exists (select 1 from orders
                        where orders.o_custkey = customer.c_custkey
                          and o_totalprice > 400000)
                or c_nationkey in (select n_nationkey from nation where n_regionkey = 0))
           and c_acctbal > 0
         order by c_custkey""")
    // scalar subquery + correlated NOT IN in the same WHERE
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_acctbal > (select avg(c_acctbal) from customer)
           and c_custkey not in (select o_custkey from orders
                                 where orders.o_custkey = customer.c_custkey
                                   and o_totalprice < 5000)
         order by c_custkey""")
    // two subqueries in HAVING (IN and EXISTS)
    checkAgainstSparkSql(
      """select c_nationkey, count(*) as cnt from customer
         group by c_nationkey
         having c_nationkey in (select n_nationkey from nation where n_regionkey <= 2)
            and exists (select 1 from region where r_name = 'ASIA')
         order by c_nationkey""")
  }

  test("qualify filters on window results") {
    // alias reference — spark.sql has no QUALIFY, so the oracle is the
    // equivalent subquery form
    checkTranslated(
      """select c_nationkey, c_custkey, c_acctbal,
           row_number() over (partition by c_nationkey
                              order by c_acctbal desc, c_custkey) as rn
         from customer qualify rn <= 2""",
      """select * from (
           select c_nationkey, c_custkey, c_acctbal,
             row_number() over (partition by c_nationkey
                                order by c_acctbal desc, c_custkey) as rn
           from customer) where rn <= 2""")
    // inline window function, not projected
    checkTranslated(
      """select c_nationkey, c_custkey from customer
         qualify row_number() over (partition by c_nationkey
                                    order by c_acctbal desc, c_custkey) = 1""",
      """select c_nationkey, c_custkey from (
           select c_nationkey, c_custkey,
             row_number() over (partition by c_nationkey
                                order by c_acctbal desc, c_custkey) as rn
           from customer) where rn = 1""")
    // boolean combination of a window and a plain output column
    checkTranslated(
      """select c_custkey, c_acctbal from customer
         qualify rank() over (order by c_acctbal desc) <= 10 or c_acctbal < 0""",
      """select c_custkey, c_acctbal from (
           select c_custkey, c_acctbal, rank() over (order by c_acctbal desc) as r
           from customer) where r <= 10 or c_acctbal < 0""")
    // QUALIFY over an aggregated result (window over group-by output)
    checkTranslated(
      """select c_nationkey, count(*) as cnt from customer
         group by c_nationkey
         qualify rank() over (order by cnt desc, c_nationkey) <= 3""",
      """select c_nationkey, cnt from (
           select c_nationkey, count(*) as cnt,
             rank() over (order by count(*) desc, c_nationkey) as r
           from customer group by c_nationkey) where r <= 3""")
    // DISTINCT applies after QUALIFY, over the visible columns only
    checkTranslated(
      """select distinct c_nationkey from customer
         qualify row_number() over (partition by c_mktsegment
                                    order by c_custkey) <= 5""",
      """select distinct c_nationkey from (
           select c_nationkey,
             row_number() over (partition by c_mktsegment
                                order by c_custkey) as rn
           from customer) where rn <= 5""")
  }

  test("window functions over aggregated results in select items") {
    // spark.sql supports this form directly — differential check
    checkAgainstSparkSql(
      """select c_nationkey, count(*) as cnt,
           rank() over (order by count(*) desc, c_nationkey) as r
         from customer group by c_nationkey order by c_nationkey""")
    checkAgainstSparkSql(
      """select c_mktsegment, sum(c_acctbal) as total,
           sum(sum(c_acctbal)) over (order by c_mktsegment
             rows between unbounded preceding and current row) as running
         from customer group by c_mktsegment order by c_mktsegment""")
  }

  test("qualify over a group-by with no aggregates") {
    // GROUP BY with no aggregates lowers to DISTINCT; QUALIFY windows
    // evaluate over the grouped result, not the input rows
    checkTranslated(
      """select c_nationkey, c_mktsegment from customer
         group by c_nationkey, c_mktsegment
         qualify row_number() over (partition by c_nationkey
                                    order by c_mktsegment) <= 2""",
      """select c_nationkey, c_mktsegment from (
           select c_nationkey, c_mktsegment,
             row_number() over (partition by c_nationkey
                                order by c_mktsegment) as rn
           from (select distinct c_nationkey, c_mktsegment from customer))
         where rn <= 2""")
  }

  test("group by without aggregates keeps one row per full key tuple") {
    // unprojected group keys must still shape the distinct: one row
    // per (nation, segment) group, with duplicate nation keys
    checkAgainstSparkSql(
      """select c_nationkey from customer
         group by c_nationkey, c_mktsegment
         order by c_nationkey""")
    // expression keys with projected derivations
    checkAgainstSparkSql(
      """select c_nationkey + 1 as nk1 from customer
         group by c_nationkey + 1, c_mktsegment order by nk1""")
    // HAVING may reference an UNPROJECTED group key by name
    checkAgainstSparkSql(
      """select c_nationkey from customer
         group by c_nationkey, c_mktsegment
         having c_mktsegment <> 'BUILDING' order by c_nationkey""")
    // window items over a grouped-no-aggregate result evaluate AFTER
    // grouping: one row per group, ranked over groups (not raw rows)
    checkAgainstSparkSql(
      """select c_nationkey,
           cast(row_number() over (order by c_nationkey) as bigint) as rn
         from customer group by c_nationkey order by c_nationkey""")
    // rollup without aggregates keeps the super-group rows
    checkAgainstSparkSql(
      """select c_nationkey from customer
         group by rollup(c_nationkey) order by c_nationkey""")
  }

  test("qualify aliases and positionals interact with grouping safely") {
    // alias inside a QUALIFY window over a grouped-no-agg query
    checkTranslated(
      """select c_nationkey as nk from customer group by c_nationkey
         qualify row_number() over (order by nk) <= 3""",
      """select nk from (
           select c_nationkey as nk,
             row_number() over (order by c_nationkey) as rn
           from customer group by c_nationkey) where rn <= 3""")
    // the hidden QUALIFY item is NOT addressable by GROUP BY position
    val e = intercept[RuntimeException](graftSession.query(
      """select c_nationkey from customer group by 2
         qualify row_number() over (order by c_nationkey) = 1""").collect())
    assert(e.getMessage.contains("out of range"), e.getMessage)
  }

  test("window over aggregate without a projected plain aggregate") {
    // containsAgg must see count(*) inside the window spec and route
    // to the aggregate path, even though no plain aggregate is
    // projected
    checkAgainstSparkSql(
      """select c_mktsegment,
           cast(rank() over (order by count(*) desc, c_mktsegment) as bigint) as r
         from customer group by c_mktsegment order by c_mktsegment""")
    // same shape via QUALIFY
    checkTranslated(
      """select c_nationkey from customer group by c_nationkey
         qualify rank() over (order by count(*) desc, c_nationkey) <= 5""",
      """select c_nationkey from (
           select c_nationkey, rank() over (order by count(*) desc, c_nationkey) as r
           from customer group by c_nationkey) where r <= 5""")
  }

  test("qualify may reference input columns outside the select list") {
    // DuckDB/Snowflake allow the predicate to read columns the SELECT
    // list drops — they evaluate pre-projection
    checkTranslated(
      """select c_custkey from customer
         qualify row_number() over (partition by c_nationkey
                                    order by c_acctbal desc, c_custkey) <= 3
           and c_acctbal > 0""",
      """select c_custkey from (
           select c_custkey, c_acctbal,
             row_number() over (partition by c_nationkey
                                order by c_acctbal desc, c_custkey) as rn
           from customer) where rn <= 3 and c_acctbal > 0""")
  }

  test("grouping sets resolve aliases and positionals like group by") {
    checkTranslated(
      """select c_nationkey as nk, count(*) as n from customer
         group by grouping sets ((nk), ()) order by nk""",
      """select c_nationkey as nk, count(*) as n from customer
         group by rollup(c_nationkey) order by nk""")
  }

  test("is distinct from is null-safe equality") {
    // NULL IS DISTINCT FROM 1 = true, NULL IS NOT DISTINCT FROM NULL
    // = true — never UNKNOWN (spark.sql supports the same syntax)
    checkAgainstSparkSql(
      """select n_nationkey from nation
         where nullif(n_regionkey, 2) is distinct from 1
         order by n_nationkey""")
    checkAgainstSparkSql(
      """select n_nationkey from nation
         where nullif(n_regionkey, 2) is not distinct from nullif(n_regionkey, 2)
         order by n_nationkey""")
  }

  test("aggregates honor DISTINCT, including dispersion forms") {
    // previously parsed but silently computed the non-distinct form;
    // stddev/variance DISTINCT were rejected until the native
    // Column.fn lowering (r4)
    checkAgainstSparkSql(
      """select l_returnflag,
           round(sum(distinct l_quantity), 2) as sd,
           round(avg(distinct l_quantity), 4) as ad,
           round(stddev(distinct l_quantity), 4) as dd,
           round(variance(distinct l_quantity), 4) as vd,
           min(distinct l_linenumber) as md
         from lineitem group by l_returnflag order by l_returnflag""")
  }

  test("intersect all keeps duplicate multiplicity") {
    // multiset semantics: min(count_l, count_r) copies survive —
    // plain INTERSECT would collapse to one (previously INTERSECT ALL
    // silently dropped the ALL)
    checkAgainstSparkSql(
      """select l_returnflag from lineitem where l_quantity < 3
         intersect all
         select l_returnflag from lineitem where l_quantity < 5""")
    checkAgainstSparkSql(
      """select n_regionkey from nation
         intersect all
         select r_regionkey from region""")
  }

  test("order by nulls first/last pins null placement") {
    checkAgainstSparkSql(
      """select c_custkey, nullif(c_nationkey, 3) as nk from customer
         order by nk asc nulls last, c_custkey limit 30""")
    checkAgainstSparkSql(
      """select c_custkey, nullif(c_nationkey, 3) as nk from customer
         order by nk desc nulls first, c_custkey limit 30""")
    // window ORDER BY accepts the same clause
    checkAgainstSparkSql(
      """select c_custkey,
           cast(row_number() over (order by nullif(c_nationkey, 3) asc nulls last,
                                   c_custkey) as bigint) as rn
         from customer order by c_custkey limit 50""")
  }

  test("modulo operator in expressions, predicates and group keys") {
    checkAgainstSparkSql(
      """select c_custkey % 7 as bucket, count(*) as n from customer
         group by c_custkey % 7 order by bucket""")
    checkAgainstSparkSql(
      "select c_custkey from customer where c_custkey % 10 = 3 order by c_custkey")
  }

  test("grouping sets match rollup/cube equivalents") {
    // spark.sql supports GROUPING SETS directly — differential check
    checkAgainstSparkSql(
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by grouping sets ((c_nationkey, c_mktsegment), (c_nationkey), ())
         order by c_nationkey, c_mktsegment""")
    // bare keys are singleton sets; sets may repeat a column
    checkAgainstSparkSql(
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by grouping sets (c_nationkey, c_mktsegment)
         order by c_nationkey, c_mktsegment""")
    // rollup is sugar for a prefix chain of grouping sets
    checkTranslated(
      """select c_nationkey, count(*) as n from customer
         group by grouping sets ((c_nationkey), ()) order by c_nationkey""",
      """select c_nationkey, count(*) as n from customer
         group by rollup(c_nationkey) order by c_nationkey""")
    // nested ROLLUP/CUBE elements expand in place (r5c)
    checkTranslated(
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by grouping sets (rollup(c_nationkey, c_mktsegment),
                                 (c_mktsegment))""",
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by grouping sets ((c_nationkey, c_mktsegment),
                                 (c_nationkey), (), (c_mktsegment))""")
    checkTranslated(
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by grouping sets (cube(c_nationkey, c_mktsegment))""",
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by cube(c_nationkey, c_mktsegment)""")
    // expression keys group (and OUTPUT) through one shared named
    // grouping column per distinct expression (r4; previously rejected)
    checkAgainstSparkSql(
      """select c_nationkey + 1 as k1, count(*) as n from customer
         group by grouping sets ((c_nationkey + 1), ()) order by k1""")
  }

  test("composite rollup/cube elements roll up as units (r6)") {
    // ROLLUP((a,b),c): the (a,b) pair is ONE rollup unit —
    // sets = ((a,b,c),(a,b),()) — standard SQL:1999; spark.sql
    // supports the form natively, free differential oracle
    checkAgainstSparkSql(
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by rollup((c_nationkey, c_mktsegment))
         order by c_nationkey, c_mktsegment""")
    checkTranslated(
      """select l_returnflag, l_linestatus, l_linenumber, count(*) as n
         from lineitem
         group by rollup((l_returnflag, l_linestatus), l_linenumber)""",
      """select l_returnflag, l_linestatus, l_linenumber, count(*) as n
         from lineitem
         group by grouping sets ((l_returnflag, l_linestatus, l_linenumber),
                                 (l_returnflag, l_linestatus), ())""")
    // CUBE with a composite: subsets over the ELEMENTS, pairs intact
    checkTranslated(
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by cube((c_nationkey, c_mktsegment))""",
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by grouping sets ((c_nationkey, c_mktsegment), ())""")
    // nested-in-GROUPING-SETS composite form (the ADVICE r5 gap)
    checkTranslated(
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by grouping sets (rollup((c_nationkey, c_mktsegment)))""",
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by grouping sets ((c_nationkey, c_mktsegment), ())""")
    // an element STARTING with an arithmetic paren is still ONE
    // expression key, not a composite (lookahead disambiguation)
    checkAgainstSparkSql(
      """select (c_nationkey + 1) * 2 as k, count(*) as n from customer
         group by rollup((c_nationkey + 1) * 2) order by k""")
    checkAgainstSparkSql(
      """select (c_nationkey + 1) * 2 as k, count(*) as n from customer
         group by rollup(((c_nationkey + 1) * 2)) order by k""")
  }

  test("in and exists subqueries as select-item values") {
    // uncorrelated IN as a projected boolean (3VL: NULL probe -> NULL)
    checkAgainstSparkSql(
      """select c_custkey,
           c_nationkey in (select n_nationkey from nation where n_regionkey = 2) as in_r2
         from customer order by c_custkey""")
    // NOT IN projection against a set with nulls: standard 3VL says
    // "no match vs a null-bearing set" is UNKNOWN (DuckDB agrees);
    // spark.sql itself returns false here, so the oracle spells out
    // the CASE rather than comparing against Spark's deviation
    checkTranslated(
      """select n_nationkey,
           n_nationkey not in (select nullif(r_regionkey, 2) from region) as f
         from nation order by n_nationkey""",
      """select n_nationkey,
           case when n_nationkey in (select nullif(r_regionkey, 2) from region
                                     where nullif(r_regionkey, 2) is not null)
                then false else cast(null as boolean) end as f
         from nation order by n_nationkey""")
    // correlated EXISTS as a projected boolean
    checkAgainstSparkSql(
      """select c_custkey,
           exists (select 1 from orders
                   where orders.o_custkey = customer.c_custkey
                     and o_totalprice > 400000) as has_big
         from customer order by c_custkey""")
    // projected flag combined with WHERE subqueries in the same query
    checkAgainstSparkSql(
      """select c_custkey,
           c_nationkey in (select n_nationkey from nation where n_regionkey < 2) as low_r
         from customer
         where exists (select 1 from orders where orders.o_custkey = customer.c_custkey)
         order by c_custkey""")
    // flag feeding an aggregation (group by the projected flag alias)
    checkAgainstSparkSql(
      """select c_nationkey in (select n_nationkey from nation where n_regionkey = 0) as r0,
           count(*) as n
         from customer group by 1 order by r0""")
    // projected flag ALONGSIDE group keys — the flag must survive the
    // aggregation (appended to the group keys like scalar helpers)
    checkAgainstSparkSql(
      """select c_nationkey,
           c_nationkey in (select n_nationkey from nation where n_regionkey < 2) as low,
           count(*) as n
         from customer group by c_nationkey order by c_nationkey""")
    // and in a grouped query with NO aggregates
    checkAgainstSparkSql(
      """select c_nationkey,
           exists (select 1 from nation
                   where nation.n_nationkey = customer.c_nationkey
                     and n_regionkey = 0) as r0
         from customer group by c_nationkey order by c_nationkey""")
  }

  test("theta-correlated EXISTS and IN in conjunct position") {
    // range predicate joins as part of the semi/anti-join condition
    checkAgainstSparkSql(
      """select c_custkey from customer
         where exists (select 1 from orders
                       where orders.o_custkey = customer.c_custkey
                         and orders.o_totalprice > customer.c_acctbal * 50)
         order by c_custkey""")
    checkAgainstSparkSql(
      """select c_custkey from customer
         where not exists (select 1 from orders
                           where orders.o_custkey = customer.c_custkey
                             and orders.o_totalprice >= customer.c_acctbal * 50)
         order by c_custkey""")
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_custkey in (select o_custkey from orders
                             where orders.o_custkey = customer.c_custkey
                               and orders.o_totalprice > customer.c_acctbal * 10)
         order by c_custkey""")
  }

  test("theta-correlated EXISTS and IN in flag positions") {
    // under OR: decorrelated through the per-group min/max
    checkAgainstSparkSql(
      """select n_nationkey from nation
         where exists (select 1 from customer
                       where customer.c_nationkey = nation.n_nationkey
                         and customer.c_acctbal > nation.n_regionkey * 2000)
            or n_regionkey = 0
         order by n_nationkey""")
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_custkey in (select o_custkey from orders
                             where orders.o_custkey = customer.c_custkey
                               and orders.o_totalprice < customer.c_acctbal * 30)
            or c_acctbal > 9900
         order by c_custkey""")
    // projected flag with a null-bearing key set: the 3VL null arm
    // honors the range condition. spark.sql DEVIATES from the
    // standard here (no-match vs a null-bearing set reads false, not
    // NULL — see the verify notes), so the oracle is the spelled-out
    // CASE; the driver's DuckDB compare covers the same query
    // verbatim (q_in_theta_select).
    assertSameRows(
      graftSession.query(
        """select n_nationkey,
             n_nationkey in (select nullif(c_custkey % 25, 7) from customer
                             where customer.c_nationkey = nation.n_nationkey
                               and customer.c_acctbal > nation.n_regionkey * 1000) as f
           from nation order by n_nationkey"""),
      spark.sql(
        """select n_nationkey,
             case
               when exists (select 1 from customer
                            where customer.c_nationkey = nation.n_nationkey
                              and customer.c_acctbal > nation.n_regionkey * 1000
                              and nullif(c_custkey % 25, 7) = n_nationkey) then true
               when not exists (select 1 from customer
                                where customer.c_nationkey = nation.n_nationkey
                                  and customer.c_acctbal > nation.n_regionkey * 1000)
                 then false
               when exists (select 1 from customer
                            where customer.c_nationkey = nation.n_nationkey
                              and customer.c_acctbal > nation.n_regionkey * 1000
                              and nullif(c_custkey % 25, 7) is null)
                 then cast(null as boolean)
               else false
             end as f
           from nation order by n_nationkey"""))
  }

  test("JOINT theta conditions lower through the distinct-tuple path") {
    // two range conjuncts in a flag position: min/max cannot
    // decompose the joint condition, so the lowering switches to the
    // distinct-outer-tuple semi-join (r4c) — the "any related row in
    // a value window" shape
    checkAgainstSparkSql(
      """select n_nationkey from nation
         where exists (select 1 from customer
                       where customer.c_nationkey = nation.n_nationkey
                         and customer.c_acctbal > nation.n_regionkey * 1000
                         and customer.c_custkey < nation.n_nationkey * 100)
            or n_regionkey = 9
         order by n_nationkey""")
    // joint <>+<> condition, keyless
    checkAgainstSparkSql(
      """select n_nationkey from nation
         where exists (select 1 from customer
                       where customer.c_acctbal <> nation.n_regionkey
                         and customer.c_custkey <> nation.n_nationkey)
            or n_regionkey = 9
         order by n_nationkey""")
    // IN flag with a joint range pair under OR (3VL tuple arms)
    checkAgainstSparkSql(
      """select c_custkey from customer
         where c_custkey in (select o_custkey from orders
                             where orders.o_custkey = customer.c_custkey
                               and orders.o_totalprice < customer.c_acctbal * 30
                               and orders.o_orderkey > customer.c_custkey * 2)
            or c_acctbal > 9900
         order by c_custkey""")
    // scalar aggregate over a two-sided value window
    checkAgainstSparkSql(
      """select o_orderkey,
           (select count(*) from lineitem l
            where l.l_orderkey = orders.o_orderkey
              and l.l_quantity < orders.o_totalprice / 1000
              and l.l_linenumber > orders.o_orderkey % 3) as n
         from orders order by o_orderkey limit 500""")
  }

  test("theta correlation keyless <> decorrelates globally") {
    // keyless <> correlation decorrelates through the GLOBAL triple
    checkAgainstSparkSql(
      """select n_nationkey from nation
         where exists (select 1 from customer
                       where customer.c_acctbal <> nation.n_regionkey)
            or n_regionkey = 9
         order by n_nationkey""")
  }

  test("correlated scalar subqueries with inner GROUP BY and multi-aggregate expressions") {
    checkAgainstSparkSql(
      """select n_name,
           (select count(*) from customer
            where customer.c_nationkey = nation.n_nationkey
            group by customer.c_nationkey) as n_cust
         from nation order by n_name""")
    checkAgainstSparkSql(
      """select n_name,
           (select max(c_acctbal) - min(c_acctbal) from customer
            where customer.c_nationkey = nation.n_nationkey) as bal_range
         from nation order by n_name""")
    // inner GROUP BY key independent of the correlation key: >1 row
    // per evaluated correlation group raises the standard error
    val e = intercept[Exception](graftSession.query(
      """select n_name,
           (select count(*) from customer
            where customer.c_nationkey = nation.n_nationkey
            group by customer.c_mktsegment) as x
         from nation""").collect())
    assert(e.getMessage.toLowerCase.contains("more than one row"), e.getMessage)
  }

  test("ORDER BY aggregate expressions after GROUP BY") {
    checkAgainstSparkSql(
      """select c_nationkey, count(*) as n from customer
         group by c_nationkey
         order by count(*) desc, c_nationkey limit 10""")
    // unselected aggregate as the sort key; expression over aggregates
    checkAgainstSparkSql(
      """select c_nationkey from customer group by c_nationkey
         order by sum(c_acctbal) desc, c_nationkey""")
    checkAgainstSparkSql(
      """select c_mktsegment, count(*) as n from customer
         group by c_mktsegment
         order by round(sum(c_acctbal), 2) / count(*) desc, c_mktsegment""")
    // positional and alias order refs still address user items only
    checkAgainstSparkSql(
      """select c_nationkey, count(*) as n from customer
         group by c_nationkey order by 2 desc, 1 limit 5""")
  }

  test("FILTER (WHERE ...) aggregate clause") {
    checkAgainstSparkSql(
      """select l_returnflag,
           round(sum(l_quantity) filter (where l_discount > 0.05), 2) as sq,
           count(*) filter (where l_tax > 0.04) as ct,
           count(distinct l_suppkey) filter (where l_quantity > 25) as cd
         from lineitem group by l_returnflag order by l_returnflag""")
    // windowed aggregate with FILTER: spark.sql rejects this shape
    // outright ("not supported yet") while the CASE lowering makes it
    // just a windowed sum — the oracle is the explicit CASE form
    assertSameRows(
      graftSession.query(
        """select l_orderkey, l_linenumber,
             round(sum(l_quantity) filter (where l_discount > 0.02)
               over (partition by l_orderkey), 2) as fsum
           from lineitem order by l_orderkey, l_linenumber limit 100"""),
      spark.sql(
        """select l_orderkey, l_linenumber,
             round(sum(case when l_discount > 0.02 then l_quantity end)
               over (partition by l_orderkey), 2) as fsum
           from lineitem order by l_orderkey, l_linenumber limit 100"""))
  }

  test("|| string concatenation operator") {
    checkAgainstSparkSql(
      "select n_name || '_x' as nx from nation order by nx")
    // chained, mixed types, NULL-propagating (standard || semantics)
    checkAgainstSparkSql(
      """select n_name || '/' || n_regionkey as path,
           nullif(n_name, 'CHINA') || '!' as maybe
         from nation order by n_name""")
  }

  test("ORDER BY window functions and group-key expressions") {
    // spark.sql itself rejects window functions in ORDER BY — the
    // oracle is the explicit subquery rewrite
    assertSameRows(
      graftSession.query(
        """select c_custkey from customer
           order by row_number() over (order by c_acctbal, c_custkey), c_custkey
           limit 20"""),
      spark.sql(
        """select c_custkey from
             (select c_custkey, row_number() over
                (order by c_acctbal, c_custkey) as rn from customer)
           order by rn, c_custkey limit 20"""))
    checkAgainstSparkSql(
      """select c_custkey % 7 as b, count(*) as n from customer
         group by c_custkey % 7 order by c_custkey % 7""")
    // DISTINCT + non-selected sort expression is rejected loudly
    val e = intercept[RuntimeException](graftSession.query(
      "select distinct c_nationkey from customer order by count(*)"))
    assert(e.getMessage.contains("DISTINCT"), e.getMessage)
  }

  test("correlated EXISTS ignores a harmless LIMIT") {
    // LIMIT k >= 1 cannot change existence; the hand-written
    // `EXISTS (SELECT 1 ... LIMIT 1)` idiom must lower
    assertSameRows(
      graftSession.query(
        """select c_custkey from customer
           where exists (select 1 from orders
                         where orders.o_custkey = customer.c_custkey
                           and o_totalprice > 100000 limit 1)
           order by c_custkey"""),
      spark.sql(
        """select c_custkey from customer
           where exists (select 1 from orders
                         where orders.o_custkey = customer.c_custkey
                           and o_totalprice > 100000)
           order by c_custkey"""))
    // flag position too
    assertSameRows(
      graftSession.query(
        """select c_custkey from customer
           where exists (select 1 from orders
                         where orders.o_custkey = customer.c_custkey limit 5)
              or c_acctbal > 9900 order by c_custkey"""),
      spark.sql(
        """select c_custkey from customer
           where exists (select 1 from orders
                         where orders.o_custkey = customer.c_custkey)
              or c_acctbal > 9900 order by c_custkey"""))
    // LIMIT 0 genuinely changes emptiness — stays a loud error
    val e = intercept[RuntimeException](graftSession.query(
      """select c_custkey from customer
         where exists (select 1 from orders
                       where orders.o_custkey = customer.c_custkey limit 0)"""))
    assert(e.getMessage.contains("FROM/WHERE"), e.getMessage)
  }

  test("correlated IN/EXISTS with inner GROUP BY and HAVING") {
    // "has a day with 2+ orders" — grouped EXISTS, conjunct position
    checkAgainstSparkSql(
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                       group by o.o_orderdate having count(*) >= 2)
         order by c_custkey""")
    // grouped NOT EXISTS
    checkAgainstSparkSql(
      """select count(*) as n from customer c
         where not exists (select 1 from orders o
                           where o.o_custkey = c.c_custkey
                           group by o.o_orderdate having count(*) >= 2)""")
    // grouped IN keyed on an aggregate-thresholded group key
    checkAgainstSparkSql(
      """select c_custkey from customer c
         where c.c_custkey in (select o.o_custkey from orders o
                               where o.o_custkey = c.c_custkey
                               group by o.o_custkey
                               having sum(o.o_totalprice) > 300000)
         order by c_custkey""")
    // IN whose value is an aggregate over each group
    checkAgainstSparkSql(
      """select o_orderkey from orders o
         where o.o_totalprice in (select max(l.l_extendedprice) * 2
                                  from lineitem l
                                  where l.l_orderkey = o.o_orderkey
                                  group by l.l_linestatus)
         order by o_orderkey""")
    // flag position (under OR) and projected flag
    checkAgainstSparkSql(
      """select c_custkey from customer c
         where c_acctbal < 0 or exists
           (select 1 from orders o where o.o_custkey = c.c_custkey
            group by o.o_orderdate having count(*) >= 2)
         order by c_custkey""")
    checkAgainstSparkSql(
      """select c_custkey, exists
           (select 1 from orders o where o.o_custkey = c.c_custkey
            group by o.o_orderdate having count(*) >= 2) as busy
         from customer c order by c_custkey""")
    // local conjuncts filter before grouping; HAVING over a second agg
    checkAgainstSparkSql(
      """select s_suppkey from supplier s
         where exists (select 1 from lineitem l
                       where l.l_suppkey = s.s_suppkey
                         and l.l_quantity > 45
                       group by l.l_returnflag having count(*) >= 3)
         order by s_suppkey""")
  }

  test("correlated EXISTS with GROUP-BY-less HAVING (more-than-N idiom)") {
    // a GROUP-BY-less HAVING aggregate emits one row even over zero
    // input; rewriteHavingOnlyExists splits nonempty groups (grouped
    // EXISTS) from the empty-group case (uncorrelated h-on-empty
    // guard ∧ NOT EXISTS)
    checkAgainstSparkSql(
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                       having count(*) > 5)
         order by c_custkey""")
    checkAgainstSparkSql(
      """select count(*) as n from customer c
         where not exists (select 1 from orders o
                           where o.o_custkey = c.c_custkey
                           having count(*) > 5)""")
    // HAVING true on EMPTY input — customers with no orders qualify
    // through the empty-guard disjunct
    checkAgainstSparkSql(
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                       having count(*) = 0)
         order by c_custkey""")
    // local conjunct + sum threshold; alias-resolved HAVING; avg
    checkAgainstSparkSql(
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                         and o.o_totalprice > 100000
                       having sum(o.o_totalprice) > 500000)
         order by c_custkey""")
    checkAgainstSparkSql(
      """select c_custkey from customer c
         where exists (select count(*) as cnt from orders o
                       where o.o_custkey = c.c_custkey having cnt > 5)
         order by c_custkey""")
    // projected flag and OR positions
    checkAgainstSparkSql(
      """select c_custkey, exists
           (select 1 from orders o where o.o_custkey = c.c_custkey
            having avg(o.o_totalprice) > 150000) as rich
         from customer c order by c_custkey""")
    // IN against a having-only single-row set: nonempty-test ∧
    // probe = correlated scalar (NULL-propagating 3VL)
    checkAgainstSparkSql(
      """select c_custkey from customer c
         where c.c_acctbal in
           (select max(o.o_totalprice) from orders o
            where o.o_custkey = c.c_custkey having count(*) > 2)
         order by c_custkey""")
    checkAgainstSparkSql(
      """select count(*) as n from customer c
         where c.c_acctbal not in
           (select min(o.o_totalprice) from orders o
            where o.o_custkey = c.c_custkey having count(*) >= 1)""")
    checkAgainstSparkSql(
      """select c_custkey, c_acctbal in
           (select max(o.o_totalprice) - 100000 from orders o
            where o.o_custkey = c.c_custkey having count(*) > 1) as f
         from customer c order by c_custkey""")
  }

  test("correlated scalar subqueries with HAVING filter groups to NULL") {
    checkAgainstSparkSql(
      """select n_name,
           (select count(*) from customer
            where customer.c_nationkey = nation.n_nationkey
            having count(*) > 30) as big_n
         from nation order by n_name""")
    checkAgainstSparkSql(
      """select n_name,
           (select round(sum(c_acctbal), 2) from customer
            where customer.c_nationkey = nation.n_nationkey
            group by customer.c_nationkey
            having count(*) > 30) as big_sum
         from nation order by n_name""")
    // a correlation / group key inside a HAVING aggregate stays the
    // inner column the aggregation reads
    assert(aggCtxRows("""select t.k, (select count(*) from u
        where u.k = t.k having sum(u.k) > 1) c from t""") ==
      Seq("1,2", "2,1", "3,1"))
    assert(aggCtxRows("""select t.k, (select sum(u.w) from u
        where u.k = t.k group by u.k having max(u.k) > 1) c from t""") ==
      Seq("1,null", "2,1", "3,8"))
    assert(aggCtxRows("""select t.k, (select u.k * 10 + count(*) from u
        where u.k = t.k group by u.k) c from t""") ==
      Seq("1,12", "2,21", "3,31"))
  }

  test("named WINDOW definitions referenced from OVER") {
    checkAgainstSparkSql(
      """select c_custkey,
           cast(rank() over w as bigint) as rk,
           round(sum(c_acctbal) over w2, 2) as sbal,
           lag(c_custkey, 1) over w as prev_id
         from customer
         window w as (partition by c_nationkey order by c_acctbal desc, c_custkey),
                w2 as (partition by c_nationkey)
         order by c_custkey""")
    // unknown name and duplicate definitions fail loudly
    val e = intercept[RuntimeException](graftSession.query(
      "select rank() over nope from customer window w as (order by c_custkey)"))
    assert(e.getMessage.contains("unknown window"), e.getMessage)
    val e2 = intercept[RuntimeException](graftSession.query(
      """select c_custkey from customer
         window w as (order by c_custkey), w as (order by c_acctbal)"""))
    assert(e2.getMessage.contains("duplicate WINDOW"), e2.getMessage)
    // the reference's vestigial empty definition still parses
    checkAgainstSparkSql(
      "select c_custkey from customer window w as () order by c_custkey")
  }

  test("theta-correlated scalar subqueries aggregate the selected rows") {
    // "count of earlier lines of the same order" — running-aggregate
    // shape; COUNT over an empty selection reads 0, not NULL
    checkAgainstSparkSql(
      """select l_orderkey, l_linenumber,
           (select count(*) from lineitem l2
            where l2.l_orderkey = lineitem.l_orderkey
              and l2.l_linenumber < lineitem.l_linenumber) as earlier
         from lineitem order by l_orderkey, l_linenumber""")
    // keyless theta (global tuple aggregation); max over a <> set
    checkAgainstSparkSql(
      """select n_nationkey,
           (select count(*) from region
            where region.r_regionkey < nation.n_regionkey) as smaller
         from nation order by n_nationkey""")
    // expression over two aggregates with a <> theta conjunct
    checkAgainstSparkSql(
      """select o_orderkey,
           round((select max(l.l_extendedprice) - min(l.l_extendedprice)
            from lineitem l
            where l.l_orderkey = orders.o_orderkey
              and l.l_linenumber <> orders.o_custkey % 5 + 1), 2) as spread
         from orders order by o_orderkey""")
  }

  test("theta-correlated scalars take inner GROUP BY and HAVING (r5b)") {
    // grouped by the correlation key -> at most one group per tuple;
    // the theta conjunct selects each order's cheaper lines. Oracle
    // is the hand-decorrelated join (spark.sql rejects non-equality
    // correlation under aggregation)
    checkTranslated(
      """select o_orderkey,
           (select round(sum(l2.l_extendedprice), 2) from lineitem l2
            where l2.l_orderkey = orders.o_orderkey
              and l2.l_extendedprice < orders.o_totalprice / 2
            group by l2.l_orderkey) as cheap_sum
         from orders order by o_orderkey""",
      """select o_orderkey, round(s, 2) as cheap_sum from orders
         left join (select o2.o_orderkey as k, sum(l2.l_extendedprice) as s
                    from orders o2 join lineitem l2
                      on l2.l_orderkey = o2.o_orderkey
                     and l2.l_extendedprice < o2.o_totalprice / 2
                    group by o2.o_orderkey) t on orders.o_orderkey = t.k
         order by o_orderkey""")
    // GROUP-BY-less HAVING: tuples whose aggregate fails the HAVING
    // read NULL (documented: filtered groups read NULL even for COUNT)
    checkTranslated(
      """select o_orderkey,
           (select count(*) from lineitem l2
            where l2.l_orderkey = orders.o_orderkey
              and l2.l_extendedprice < orders.o_totalprice
            having count(*) > 2) as big
         from orders order by o_orderkey""",
      """select o_orderkey, case when c > 2 then c end as big
         from orders
         left join (select o2.o_orderkey as k, count(*) as c
                    from orders o2 join lineitem l2
                      on l2.l_orderkey = o2.o_orderkey
                     and l2.l_extendedprice < o2.o_totalprice
                    group by o2.o_orderkey) t on orders.o_orderkey = t.k
         order by o_orderkey""")
    // more than one surviving group per tuple is the standard loud
    // runtime error
    val e = intercept[Exception] {
      graftSession.query(
        """select o_orderkey,
             (select max(l.l_extendedprice) from lineitem l
              where l.l_orderkey = orders.o_orderkey
                and l.l_linenumber < orders.o_orderkey + 10
              group by l.l_linenumber) as x
           from orders""").collect()
    }
    assert(e.getMessage.contains("more than one row") ||
      Option(e.getCause).exists(_.getMessage.contains("more than one row")),
      e.getMessage)
  }

  test("theta EXISTS takes GROUP-BY-less HAVING and bare GROUP BY (r5b)") {
    // HAVING aggregates over the theta-selected set == the matching
    // theta-correlated scalar subqueries (identical empty semantics)
    checkTranslated(
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                         and o.o_totalprice < c.c_acctbal * 50
                       having count(*) > 3)""",
      """select c_custkey from customer c
         where (select count(*) from orders o
                where o.o_custkey = c.c_custkey
                  and o.o_totalprice < c.c_acctbal * 50) > 3""")
    // h true on EMPTY selection: count(*) < 3 keeps customers with
    // no qualifying orders at all
    checkTranslated(
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                         and o.o_totalprice < c.c_acctbal * 50
                       having count(*) < 3)""",
      """select c_custkey from customer c
         where (select count(*) from orders o
                where o.o_custkey = c.c_custkey
                  and o.o_totalprice < c.c_acctbal * 50) < 3""")
    // NOT EXISTS with a theta HAVING, and under OR
    checkTranslated(
      """select c_custkey from customer c
         where c_acctbal < -900
            or not exists (select 1 from orders o
                           where o.o_custkey = c.c_custkey
                             and o.o_totalprice > c.c_acctbal * 10
                           having count(*) >= 2)""",
      """select c_custkey from customer c
         where c_acctbal < -900
            or not ((select count(*) from orders o
                     where o.o_custkey = c.c_custkey
                       and o.o_totalprice > c.c_acctbal * 10) >= 2)""")
    // GROUP BY without HAVING cannot change existence — dropped, so
    // theta correlation composes with grouped EXISTS
    checkAgainstSparkSql(
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                         and o.o_totalprice < c.c_acctbal * 60
                       group by o.o_orderdate)
         order by c_custkey""")
  }

  test("grouped + HAVING EXISTS with theta correlation (r5b)") {
    // does ANY order-date group of the theta-selected orders have >= 2
    // rows? oracle = the hand-decorrelated grouped join
    checkTranslated(
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                         and o.o_totalprice < c.c_acctbal * 100
                       group by o.o_orderdate
                       having count(*) >= 2)""",
      """select distinct c.c_custkey from customer c
         join orders o on o.o_custkey = c.c_custkey
                      and o.o_totalprice < c.c_acctbal * 100
         group by c.c_custkey, c.c_acctbal, o.o_orderdate
         having count(*) >= 2""")
    // NOT EXISTS keeps everyone else, including no-order customers
    checkTranslated(
      """select c_custkey from customer c
         where not exists (select 1 from orders o
                           where o.o_custkey = c.c_custkey
                             and o.o_totalprice < c.c_acctbal * 100
                           group by o.o_orderdate
                           having count(*) >= 2)""",
      """select c_custkey from customer where c_custkey not in (
           select distinct c.c_custkey from customer c
           join orders o on o.o_custkey = c.c_custkey
                        and o.o_totalprice < c.c_acctbal * 100
           group by c.c_custkey, c.c_acctbal, o.o_orderdate
           having count(*) >= 2)""")
    // the group key inside the HAVING aggregate stays the inner column
    assert(aggCtxRows("""select t.k from t where exists (select 1 from u
        where u.w < t.v group by u.g having sum(u.g) > 5)""") ==
      Seq("1", "2", "3"))
  }

  test("correlated EXISTS in HAVING joins flags onto group keys (r5b)") {
    checkTranslated(
      """select c.c_nationkey, count(*) as n from customer c
         group by c.c_nationkey
         having exists (select 1 from supplier s
                        where s.s_nationkey = c.c_nationkey
                          and s.s_acctbal > 0)""",
      """select c_nationkey, count(*) as n from customer
         group by c_nationkey
         having c_nationkey in (select s_nationkey from supplier
                                where s_acctbal > 0)""")
    // NOT EXISTS keeps groups with no matching inner rows
    checkTranslated(
      """select c.c_nationkey, count(*) as n from customer c
         group by c.c_nationkey
         having not exists (select 1 from supplier s
                            where s.s_nationkey = c.c_nationkey
                              and s.s_acctbal > 5000)""",
      """select c_nationkey, count(*) as n from customer
         group by c_nationkey
         having c_nationkey not in (select s_nationkey from supplier
                                    where s_acctbal > 5000)""")
  }

  test("correlated quantified comparisons in HAVING (r5b)") {
    // nations whose customer count exceeds every local supplier key
    checkTranslated(
      """select c.c_nationkey, count(*) as n from customer c
         group by c.c_nationkey
         having count(*) > all (select s.s_suppkey from supplier s
                                where s.s_nationkey = c.c_nationkey)""",
      """select c_nationkey, n from (
           select c_nationkey, count(*) as n from customer
           group by c_nationkey) t
         where not exists (select 1 from supplier s
                           where s.s_nationkey = t.c_nationkey
                             and s.s_suppkey >= t.n)""")
    // ANY: true iff SOME theta comparison holds; empty set is FALSE
    checkTranslated(
      """select c.c_nationkey, count(*) as n from customer c
         group by c.c_nationkey
         having count(*) <= any (select s.s_suppkey from supplier s
                                 where s.s_nationkey = c.c_nationkey)""",
      """select c_nationkey, n from (
           select c_nationkey, count(*) as n from customer
           group by c_nationkey) t
         where exists (select 1 from supplier s
                       where s.s_nationkey = t.c_nationkey
                         and t.n <= s.s_suppkey)""")
  }

  test("correlated IN in HAVING with aggregate probes (r5b)") {
    // does this nation's customer count appear among its suppliers'
    // account balances rounded to hundreds? (aggregate probe against
    // a per-key value set)
    checkTranslated(
      """select c.c_nationkey, count(*) as n from customer c
         group by c.c_nationkey
         having count(*) in (select cast(round(s.s_acctbal / 100, 0) as bigint)
                             from supplier s
                             where s.s_nationkey = c.c_nationkey)""",
      """select c_nationkey, n from (
           select c_nationkey, count(*) as n from customer
           group by c_nationkey) t
         where exists (select 1 from supplier s
                       where s.s_nationkey = t.c_nationkey
                         and cast(round(s.s_acctbal / 100, 0) as bigint) = t.n)""")
    // NOT IN: groups with an empty correlated set read TRUE
    checkTranslated(
      """select c.c_nationkey, count(*) as n from customer c
         group by c.c_nationkey
         having count(*) not in (select s.s_suppkey from supplier s
                                 where s.s_nationkey = c.c_nationkey
                                   and s.s_acctbal > 9990)""",
      """select c_nationkey, n from (
           select c_nationkey, count(*) as n from customer
           group by c_nationkey) t
         where not exists (select 1 from supplier s
                           where s.s_nationkey = t.c_nationkey
                             and s.s_acctbal > 9990
                             and s.s_suppkey = t.n)""")
  }

  test("USING SAMPLE is deterministic, keyed, and monotone (r5b)") {
    val q25 = graftSession.query(
      """select l_orderkey, l_linenumber from lineitem
         using sample 25% key (l_orderkey)""").collect()
    val q25b = graftSession.query(
      """select l_orderkey, l_linenumber from lineitem
         using sample 25 percent key (l_orderkey)""").collect()
    assert(q25.length == q25b.length && q25.nonEmpty)
    // monotone: the 25% sample is a subset of the 50% sample
    val keys25 = q25.map(_.getLong(0)).toSet
    val keys50 = graftSession.query(
      """select l_orderkey from lineitem
         using sample 50% key (l_orderkey)""")
      .collect().map(_.getLong(0)).toSet
    assert(keys25.subsetOf(keys50))
    // composes with joins/filters; keyless sampling is loud
    val e = intercept[RuntimeException](graftSession.query(
      "select * from lineitem using sample 10%"))
    assert(e.getMessage.contains("KEY"))
    val e2 = intercept[RuntimeException](graftSession.query(
      "select * from lineitem using sample 200% key (l_orderkey)"))
    assert(e2.getMessage.contains("range"))
  }

  test("UNION [ALL] BY NAME matches columns by name with NULL fill (r5b)") {
    checkTranslated(
      """select n_nationkey as k, n_name as name from nation where n_nationkey < 5
         union all by name
         select r_name as name, r_regionkey as k, 'extra' as note from region""",
      """select k, name, cast(null as string) as note
         from (select n_nationkey as k, n_name as name from nation
               where n_nationkey < 5)
         union all
         select k, name, note
         from (select r_regionkey as k, r_name as name, 'extra' as note
               from region)""")
    // distinct form dedups the combined by-name rows
    checkTranslated(
      """select n_regionkey as k from nation
         union by name
         select r_regionkey as k from region""",
      "select n_regionkey as k from nation union select r_regionkey from region")
  }

  test("grouped theta IN: membership in per-group aggregate sets (r5b)") {
    // "some order-date of the theta-selected orders has exactly 2"
    checkTranslated(
      """select c_custkey from customer c
         where 2 in (select count(*) from orders o
                     where o.o_custkey = c.c_custkey
                       and o.o_totalprice < c.c_acctbal * 100
                     group by o.o_orderdate)""",
      """select distinct c.c_custkey from customer c
         join orders o on o.o_custkey = c.c_custkey
                      and o.o_totalprice < c.c_acctbal * 100
         group by c.c_custkey, c.c_acctbal, o.o_orderdate
         having count(*) = 2""")
    // group-key item (no aggregate): membership in the distinct keys
    // of the theta-selected rows, with a HAVING filter on top
    checkTranslated(
      """select c_custkey from customer c
         where 'O' in (select o.o_orderstatus from orders o
                       where o.o_custkey = c.c_custkey
                         and o.o_totalprice < c.c_acctbal * 50
                       group by o.o_orderstatus
                       having count(*) >= 1)""",
      """select distinct c.c_custkey from customer c
         join orders o on o.o_custkey = c.c_custkey
                      and o.o_totalprice < c.c_acctbal * 50
         where o.o_orderstatus = 'O'""")
  }

  test("grouped theta NOT IN applies the full 3VL flag (r5b)") {
    // customers whose per-date qualifying-order counts never hit 2;
    // customers with NO qualifying orders at all survive (empty set)
    checkTranslated(
      """select c_custkey from customer c
         where 2 not in (select count(*) from orders o
                         where o.o_custkey = c.c_custkey
                           and o.o_totalprice < c.c_acctbal * 100
                         group by o.o_orderdate)""",
      """select c_custkey from customer c
         where not exists (
           select 1 from (
             select o.o_custkey as k, o.o_orderdate, count(*) as cnt
             from orders o join customer c2 on o.o_custkey = c2.c_custkey
             where o.o_totalprice < c2.c_acctbal * 100
             group by o.o_custkey, o.o_orderdate) g
           where g.k = c.c_custkey and g.cnt = 2)""")
  }

  test("theta IN over a having-only aggregate set (r5b)") {
    // membership in the one-row set = nonempty AND probe = value;
    // probe 2 matches customers with exactly two qualifying orders
    checkTranslated(
      """select c_custkey from customer c
         where 2 in (select count(*) from orders o
                     where o.o_custkey = c.c_custkey
                       and o.o_totalprice < c.c_acctbal * 60
                     having count(*) >= 1)""",
      """select c_custkey from customer c
         where (select count(*) from orders o
                where o.o_custkey = c.c_custkey
                  and o.o_totalprice < c.c_acctbal * 60) = 2""")
  }

  test("<> correlation decorrelates in flag positions") {
    // (count, min, max) triple: ∃ x≠y ⟺ cnt>0 ∧ (mn≠mx ∨ mn≠y)
    checkAgainstSparkSql(
      """select l_orderkey, l_linenumber,
           exists (select 1 from lineitem l2
                   where l2.l_orderkey = lineitem.l_orderkey
                     and l2.l_suppkey <> lineitem.l_suppkey) as multi
         from lineitem order by l_orderkey, l_linenumber""")
    checkAgainstSparkSql(
      """select o_orderkey, o_custkey in
           (select o2.o_custkey from orders o2
            where o2.o_custkey = orders.o_custkey
              and o2.o_orderkey <> orders.o_orderkey) as repeat_buyer
         from orders order by o_orderkey""")
    // != spelling, under OR
    checkAgainstSparkSql(
      """select c_custkey from customer c
         where c_acctbal < -900 or exists
           (select 1 from orders o where o.o_custkey = c.c_custkey
            and o.o_orderkey != c.c_custkey)
         order by c_custkey""")
  }

  test("window inheritance: definitions and OVER specs extend a base window") {
    // spark.sql has no window inheritance — the oracle is the
    // hand-expanded form
    assertSameRows(
      graftSession.query(
        """select c_custkey, cast(rank() over w2 as bigint) as r from customer
           window w as (partition by c_nationkey),
                  w2 as (w order by c_acctbal desc, c_custkey)
           order by c_custkey"""),
      spark.sql(
        """select c_custkey, cast(rank() over (partition by c_nationkey
             order by c_acctbal desc, c_custkey) as bigint) as r
           from customer order by c_custkey"""))
    // child adds a frame to an ordered base; bare-name copy keeps the
    // base frame verbatim; two-level chains resolve transitively
    assertSameRows(
      graftSession.query(
        """select c_custkey, round(sum(c_acctbal) over w2, 2) as s,
             round(sum(c_acctbal) over w3, 2) as s3 from customer
           window w as (partition by c_nationkey order by c_custkey),
                  w2 as (w rows between 1 preceding and current row),
                  w3 as (w2)
           order by c_custkey"""),
      spark.sql(
        """select c_custkey, round(sum(c_acctbal) over (partition by c_nationkey
             order by c_custkey rows between 1 preceding and current row), 2) as s,
             round(sum(c_acctbal) over (partition by c_nationkey
             order by c_custkey rows between 1 preceding and current row), 2) as s3
           from customer order by c_custkey"""))
    // inline OVER (base ...) inheritance
    assertSameRows(
      graftSession.query(
        """select c_custkey, cast(rank() over (w order by c_acctbal) as bigint) as r
           from customer window w as (partition by c_nationkey)
           order by c_custkey"""),
      spark.sql(
        """select c_custkey, cast(rank() over (partition by c_nationkey
             order by c_acctbal) as bigint) as r
           from customer order by c_custkey"""))
    // PostgreSQL rules enforced loudly: cycle, added PARTITION BY,
    // ORDER BY over an ordered base
    val ec = intercept[RuntimeException](graftSession.query(
      """select rank() over w as r from customer
         window w as (w2 order by c_acctbal), w2 as (w)"""))
    assert(ec.getMessage.contains("cycle"), ec.getMessage)
    val ep = intercept[RuntimeException](graftSession.query(
      """select rank() over w2 as r from customer
         window w as (partition by c_nationkey),
                w2 as (w partition by c_mktsegment order by c_acctbal)"""))
    assert(ep.getMessage.contains("PARTITION BY"), ep.getMessage)
    val eo = intercept[RuntimeException](graftSession.query(
      """select rank() over w2 as r from customer
         window w as (order by c_custkey), w2 as (w order by c_acctbal)"""))
    assert(eo.getMessage.contains("ORDER BY"), eo.getMessage)
  }

  test("user aliases may not use reserved helper prefixes") {
    val e = intercept[RuntimeException](graftSession.query(
      "select c_custkey as __qw_0 from customer"))
    assert(e.getMessage.contains("reserved"), e.getMessage)
    val e2 = intercept[RuntimeException](graftSession.query(
      "select c_acctbal as __sq_flag_1 from customer"))
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  test("grouping sets with expression keys and case-insensitive dedup") {
    checkAgainstSparkSql(
      """select c_nationkey, c_acctbal > 1000 as rich, count(*) as n
         from customer
         group by grouping sets ((c_nationkey, c_acctbal > 1000), (c_nationkey), ())
         order by c_nationkey, rich""")
    // ((a,b),(A)) contributes ONE `a` grouping column, not two
    checkAgainstSparkSql(
      """select c_nationkey, c_mktsegment, count(*) as n from customer
         group by grouping sets ((c_nationkey, c_mktsegment), (C_NATIONKEY))
         order by c_nationkey, c_mktsegment""")
  }

  test("registration api") {
    val g = graft.Graft(spark)
    g.registerTable("temp_nation", spark.read.parquet(s"${graft.TestSpark.sfDir}/nation.parquet"))
    assert(g.query("select count(*) as n from temp_nation").collect().head.getLong(0) == 25)
    g.removeTable("temp_nation")
    intercept[RuntimeException](g.query("select * from temp_nation"))
  }

  // ---- quantified comparisons (ANY/SOME/ALL) — r4d --------------------
  // spark.sql has NO quantified-comparison support, so the oracle is
  // the standard-SQL rewrite over scalar subqueries (CASE over
  // count/min/max), which spark.sql does run.

  test("uncorrelated ANY/ALL quantified comparisons with 3VL arms") {
    // x < ANY ⟺ x < max(S)
    checkTranslated(
      """select n_nationkey from nation
         where n_nationkey < any (select c_nationkey from customer
                                  where c_mktsegment = 'BUILDING')
         order by n_nationkey""",
      """select n_nationkey from nation
         where n_nationkey < (select max(c_nationkey) from customer
                              where c_mktsegment = 'BUILDING')
         order by n_nationkey""")
    // SOME is ANY
    checkTranslated(
      """select n_nationkey from nation
         where n_regionkey >= some (select n_regionkey from nation where n_name like 'A%')
         order by n_nationkey""",
      """select n_nationkey from nation
         where n_regionkey >= (select min(n_regionkey) from nation where n_name like 'A%')
         order by n_nationkey""")
    // x > ALL ⟺ x > max(S) on a null-free set
    checkTranslated(
      """select c_custkey from customer
         where c_custkey > all (select o_custkey from orders where o_custkey < 100)
         order by c_custkey limit 20""",
      """select c_custkey from customer
         where c_custkey > (select max(o_custkey) from orders where o_custkey < 100)
         order by c_custkey limit 20""")
    // empty set: ANY → FALSE (no rows), ALL → TRUE (all rows)
    assert(graftSession.query(
      """select n_nationkey from nation
         where n_nationkey < any (select c_nationkey from customer where c_custkey < 0)"""
      ).count() == 0)
    assert(graftSession.query(
      """select n_nationkey from nation
         where n_nationkey < all (select c_nationkey from customer where c_custkey < 0)"""
      ).count() == 25)
  }

  test("null-bearing sets and null probes follow quantified 3VL") {
    // projected flags expose the UNKNOWN arm directly; oracle spells
    // the standard truth table over spark.sql scalar subqueries
    checkTranslated(
      """select n_nationkey,
           n_nationkey*6 < any (select nullif(c_custkey, 30) from customer
                                where c_custkey <= 30) as f
         from nation order by n_nationkey""",
      """select n_nationkey,
           case when n_nationkey*6 < (select max(nullif(c_custkey, 30))
                                      from customer where c_custkey <= 30) then true
                when true then cast(null as boolean)  -- set has a null
                else false end as f
         from nation order by n_nationkey""")
    // ALL against a null-bearing set: FALSE wins over UNKNOWN
    checkTranslated(
      """select n_nationkey,
           n_nationkey*6 >= all (select nullif(c_custkey, 30) from customer
                                 where c_custkey <= 30) as f
         from nation order by n_nationkey""",
      """select n_nationkey,
           case when n_nationkey*6 < (select max(nullif(c_custkey, 30))
                                      from customer where c_custkey <= 30) then false
                when true then cast(null as boolean)
                else true end as f
         from nation order by n_nationkey""")
    // all-null set: never TRUE/FALSE — UNKNOWN (unless empty)
    checkTranslated(
      """select n_nationkey,
           n_nationkey < any (select cast(null as bigint) from customer
                              where c_custkey <= 5) as f
         from nation order by n_nationkey""",
      """select n_nationkey, cast(null as boolean) as f
         from nation order by n_nationkey""")
    // null probe over a nonempty set: UNKNOWN
    checkTranslated(
      """select c_custkey,
           nullif(c_custkey, 1) + 0 > all (select n_nationkey from nation) as f
         from customer where c_custkey <= 2 order by c_custkey""",
      """select c_custkey,
           case when c_custkey = 1 then cast(null as boolean)
                else c_custkey > (select max(n_nationkey) from nation) end as f
         from customer where c_custkey <= 2 order by c_custkey""")
  }

  test("<> ANY and = ALL decide through the min/max pair") {
    // x <> ANY(S): TRUE iff S has a value different from x
    checkTranslated(
      """select n_nationkey,
           n_regionkey <> any (select n_regionkey from nation n2
                               where n2.n_nationkey <= 3) as f
         from nation order by n_nationkey""",
      """select n_nationkey,
           case when (select min(n_regionkey) from nation n2 where n2.n_nationkey <= 3)
                     <> (select max(n_regionkey) from nation n2 where n2.n_nationkey <= 3)
                  or (select min(n_regionkey) from nation n2 where n2.n_nationkey <= 3)
                     <> n_regionkey then true
                else false end as f
         from nation order by n_nationkey""")
    // x = ALL(S): TRUE iff every value equals x (single-valued set)
    checkTranslated(
      """select n_nationkey,
           n_regionkey = all (select n_regionkey from nation n2
                              where n2.n_nationkey = nation.n_nationkey) as f
         from nation order by n_nationkey""",
      "select n_nationkey, true as f from nation order by n_nationkey")
  }

  test("correlated quantified comparisons group the summary per key") {
    // "customer's balance beats EVERY one of their orders' price/20"
    checkTranslated(
      """select c_custkey from customer
         where c_acctbal > all (select o_totalprice / 20 from orders
                                where orders.o_custkey = customer.c_custkey)
         order by c_custkey""",
      """select c_custkey from customer
         where (select count(*) from orders
                where orders.o_custkey = customer.c_custkey) = 0
            or c_acctbal > (select max(o_totalprice / 20) from orders
                            where orders.o_custkey = customer.c_custkey)
         order by c_custkey""")
    // ANY over an empty correlation group is FALSE, not a dropped row
    checkTranslated(
      """select c_custkey,
           c_acctbal < any (select o_totalprice from orders
                            where orders.o_custkey = customer.c_custkey) as f
         from customer order by c_custkey""",
      """select c_custkey,
           case when (select count(*) from orders
                      where orders.o_custkey = customer.c_custkey) = 0 then false
                when c_acctbal < (select max(o_totalprice) from orders
                                  where orders.o_custkey = customer.c_custkey) then true
                else false end as f
         from customer order by c_custkey""")
  }

  test("= ANY is IN and <> ALL is NOT IN (canonicalized at parse)") {
    checkTranslated(
      """select c_custkey from customer
         where c_nationkey = any (select n_nationkey from nation where n_regionkey = 1)
         order by c_custkey""",
      """select c_custkey from customer
         where c_nationkey in (select n_nationkey from nation where n_regionkey = 1)
         order by c_custkey""")
    checkTranslated(
      """select c_custkey from customer
         where c_nationkey <> all (select n_nationkey from nation where n_regionkey = 1)
         order by c_custkey""",
      """select c_custkey from customer
         where c_nationkey not in (select n_nationkey from nation where n_regionkey = 1)
         order by c_custkey""")
  }

  test("quantified comparison in HAVING over an aggregate probe") {
    checkTranslated(
      """select c_nationkey, count(*) as n from customer
         group by c_nationkey
         having count(*) > all (select n_nationkey * 2 from nation where n_regionkey = 4)
         order by c_nationkey""",
      """select c_nationkey, count(*) as n from customer
         group by c_nationkey
         having count(*) > (select max(n_nationkey) * 2 from nation where n_regionkey = 4)
         order by c_nationkey""")
  }

  test("theta-correlated quantifiers build the summary per outer tuple") {
    // "acctbal beats EVERY total among the customer's cheap orders" —
    // equality key + range theta; the summary groups per distinct
    // (key, operand) tuple over a join carrying the comparison
    checkTranslated(
      """select c_custkey from customer
         where c_acctbal * 50 > all (select o_totalprice from orders
                                     where orders.o_custkey = customer.c_custkey
                                       and o_totalprice < customer.c_acctbal * 40)
         order by c_custkey""",
      """select c_custkey from customer
         where (select count(*) from orders
                where orders.o_custkey = customer.c_custkey
                  and o_totalprice < customer.c_acctbal * 40) = 0
            or c_acctbal * 50 > (select max(o_totalprice) from orders
                                 where orders.o_custkey = customer.c_custkey
                                   and o_totalprice < customer.c_acctbal * 40)
         order by c_custkey""")
    // keyless theta (no equality conjunct) rides the same tuple path
    checkTranslated(
      """select n_nationkey,
           n_nationkey < any (select c_nationkey from customer
                              where c_acctbal > nation.n_regionkey * 2400) as f
         from nation order by n_nationkey""",
      """select n_nationkey,
           case when (select count(*) from customer
                      where c_acctbal > nation.n_regionkey * 2400) = 0 then false
                when n_nationkey < (select max(c_nationkey) from customer
                                    where c_acctbal > nation.n_regionkey * 2400)
                  then true
                else false end as f
         from nation order by n_nationkey""")
    // NULL theta operand ⟹ empty selection ⟹ ALL reads TRUE
    checkTranslated(
      """select c_custkey,
           c_custkey > all (select o_orderkey from orders
                            where orders.o_custkey = customer.c_custkey
                              and o_totalprice <
                                  nullif(customer.c_acctbal, customer.c_acctbal)) as f
         from customer where c_custkey <= 5 order by c_custkey""",
      """select c_custkey, true as f
         from customer where c_custkey <= 5 order by c_custkey""")
  }

  test("subqueries nest inside CASE WHEN branches") {
    // IN / EXISTS / quantified flags and scalar subqueries are all
    // expression-position rewrites, so they compose inside CASE arms
    checkAgainstSparkSql(
      """select c_custkey,
           case when c_custkey in (select o_custkey from orders
                                   where o_totalprice > 100000)
                then 'big' else 'small' end as cls
         from customer order by c_custkey""")
    checkAgainstSparkSql(
      """select n_nationkey,
           case when exists (select 1 from customer
                             where customer.c_nationkey = nation.n_nationkey
                               and c_acctbal > 9000)
                then n_name else 'none' end as rich
         from nation order by n_nationkey""")
    checkTranslated(
      """select c_custkey,
           case when c_acctbal > all (select o_totalprice / 30 from orders
                                      where orders.o_custkey = customer.c_custkey)
                then 1 else 0 end as wins
         from customer order by c_custkey""",
      """select c_custkey,
           case when (select count(*) from orders
                      where orders.o_custkey = customer.c_custkey) = 0
                  or c_acctbal > (select max(o_totalprice) / 30 from orders
                                  where orders.o_custkey = customer.c_custkey)
                then 1 else 0 end as wins
         from customer order by c_custkey""")
    // scalar subquery inside a CASE result arm, in WHERE
    checkAgainstSparkSql(
      """select n_nationkey from nation
         where case when n_regionkey = 1
                    then (select count(*) from customer) else 0 end > 100
         order by n_nationkey""")
  }

  test("grouped correlated quantifiers ride the derived-table rewrite") {
    // inner GROUP BY + aggregate: degroupCorrSub turns the grouped
    // subquery into a derived table with plain equality correlation,
    // then the quantifier summary applies — "beats every per-status
    // order total of this customer"
    checkTranslated(
      """select c_custkey from customer
         where c_acctbal * 40 >= all (select sum(o_totalprice) as s from orders
                                      where orders.o_custkey = customer.c_custkey
                                      group by o_orderstatus)
         order by c_custkey""",
      """select c_custkey from customer
         where (select count(*) from orders
                where orders.o_custkey = customer.c_custkey) = 0
            or c_acctbal * 40 >= (select max(s) from
                                   (select o_custkey, sum(o_totalprice) as s
                                    from orders group by o_custkey, o_orderstatus) g
                                  where g.o_custkey = customer.c_custkey)
         order by c_custkey""")
  }

  test("GROUP BY ALL groups every non-aggregate select item") {
    checkTranslated(
      """select c_nationkey, c_mktsegment, count(*) as n,
           round(sum(c_acctbal), 2) as bal
         from customer group by all order by c_nationkey, c_mktsegment""",
      """select c_nationkey, c_mktsegment, count(*) as n,
           round(sum(c_acctbal), 2) as bal
         from customer group by c_nationkey, c_mktsegment
         order by c_nationkey, c_mktsegment""")
    // expression items become expression keys
    checkTranslated(
      """select c_nationkey % 5 as bucket, count(*) as n
         from customer group by all order by bucket""",
      """select c_nationkey % 5 as bucket, count(*) as n
         from customer group by c_nationkey % 5 order by bucket""")
    // window items are NOT keys (DuckDB rule); all-aggregate select
    // has NO keys — a global aggregate
    checkTranslated(
      """select c_nationkey, round(sum(c_acctbal), 2) as bal,
           rank() over (order by sum(c_acctbal) desc) as r
         from customer group by all order by c_nationkey""",
      """select c_nationkey, round(sum(c_acctbal), 2) as bal,
           rank() over (order by sum(c_acctbal) desc) as r
         from customer group by c_nationkey order by c_nationkey""")
    checkTranslated(
      "select count(*) as n, round(sum(c_acctbal), 2) as s from customer group by all",
      "select count(*) as n, round(sum(c_acctbal), 2) as s from customer")
    // * with GROUP BY ALL is loud
    val e = intercept[RuntimeException](graftSession.query(
      "select * from customer group by all"))
    assert(e.getMessage.contains("explicit select columns"), e.getMessage)
  }

  test("ORDER BY ALL orders by every output column left to right") {
    checkTranslated(
      "select c_mktsegment, c_nationkey, c_custkey from customer order by all limit 40",
      """select c_mktsegment, c_nationkey, c_custkey from customer
         order by c_mktsegment, c_nationkey, c_custkey limit 40""")
    checkTranslated(
      "select c_mktsegment, c_nationkey, c_custkey from customer order by all desc limit 40",
      """select c_mktsegment, c_nationkey, c_custkey from customer
         order by c_mktsegment desc, c_nationkey desc, c_custkey desc limit 40""")
    // after SELECT * (expansion sees the final projection)
    checkTranslated(
      "select * from nation order by all",
      "select * from nation order by n_nationkey, n_name, n_regionkey")
    // composes with GROUP BY ALL
    checkTranslated(
      """select c_nationkey, c_mktsegment, count(*) as n
         from customer group by all order by all""",
      """select c_nationkey, c_mktsegment, count(*) as n
         from customer group by c_nationkey, c_mktsegment
         order by c_nationkey, c_mktsegment, n""")
  }

  test("VALUES inline tables join, filter, and aggregate like tables") {
    // spark.sql supports the same surface — whole-query differential
    checkAgainstSparkSql(
      """select t.x, t.y from (values (1, 'a'), (2, 'b'), (3, 'c')) as t(x, y)
         where t.x > 1 order by t.x""")
    // joined against a real table (dim-style lookup)
    checkAgainstSparkSql(
      """select v.label, count(*) as n
         from nation join (values (0, 'west'), (1, 'east')) as v(rk, label)
           on nation.n_regionkey = v.rk
         group by v.label order by v.label""")
    // aggregation straight over the inline rows; NULL + coercion
    checkAgainstSparkSql(
      """select sum(x) as sx, count(y) as cy
         from (values (1, 'a'), (2, null), (3, 'c')) as t(x, y)""")
    // default column names are col0, col1 (DuckDB convention)
    assert(graftSession.query(
      "select col0, col1 from (values (1, 'a'), (2, 'b')) t order by col0")
      .columns.toSeq == Seq("col0", "col1"))
    // arity mismatches are loud
    val e = intercept[RuntimeException](graftSession.query(
      "select * from (values (1, 2), (3)) t(a, b)"))
    assert(e.getMessage.contains("same number"), e.getMessage)
    val e2 = intercept[RuntimeException](graftSession.query(
      "select * from (values (1, 2)) t(a)"))
    assert(e2.getMessage.contains("column list"), e2.getMessage)
  }

  test("star EXCLUDE and REPLACE modify the expansion in place") {
    checkTranslated(
      "select * exclude (n_name) from nation order by n_nationkey",
      "select n_nationkey, n_regionkey from nation order by n_nationkey")
    // single-column EXCLUDE without parens; REPLACE keeps position + name
    checkTranslated(
      """select * exclude n_name replace (n_regionkey * 10 as n_regionkey)
         from nation order by n_nationkey""",
      """select n_nationkey, n_regionkey * 10 as n_regionkey
         from nation order by n_nationkey""")
    // qualified star with modifiers, next to other items
    checkTranslated(
      """select nation.* exclude (n_regionkey), r_name
         from nation join region on nation.n_regionkey = region.r_regionkey
         order by n_nationkey""",
      """select n_nationkey, n_name, r_name
         from nation join region on nation.n_regionkey = region.r_regionkey
         order by n_nationkey""")
    // unknown names are loud
    val e = intercept[RuntimeException](graftSession.query(
      "select * exclude (nope) from nation"))
    assert(e.getMessage.contains("EXCLUDE column"), e.getMessage)
    val e2 = intercept[RuntimeException](graftSession.query(
      "select * replace (1 as nope) from nation"))
    assert(e2.getMessage.contains("REPLACE column"), e2.getMessage)
  }

  test("DISTINCT ON keeps the first row per key in ORDER BY order") {
    // spark.sql has no DISTINCT ON — oracle is the row_number rewrite
    checkTranslated(
      """select distinct on (c_nationkey) c_nationkey, c_custkey, c_acctbal
         from customer
         order by c_nationkey, c_acctbal desc, c_custkey""",
      """select c_nationkey, c_custkey, c_acctbal from (
           select c_nationkey, c_custkey, c_acctbal,
             row_number() over (partition by c_nationkey
                                order by c_acctbal desc, c_custkey) as rn
           from customer) where rn = 1
         order by c_nationkey, c_acctbal desc, c_custkey""")
    // ON key and order column dropped by the projection still work
    // (hidden-item machinery); two-part key
    checkTranslated(
      """select distinct on (c_nationkey, c_mktsegment) c_name
         from customer
         order by c_nationkey, c_mktsegment, c_custkey desc""",
      """select c_name from (
           select c_name,
             row_number() over (partition by c_nationkey, c_mktsegment
                                order by c_custkey desc) as rn
           from customer
         ) where rn = 1""")
    // expression key
    checkTranslated(
      """select distinct on (c_custkey % 7) c_custkey
         from customer order by c_custkey % 7, c_custkey""",
      """select c_custkey from (
           select c_custkey,
             row_number() over (partition by c_custkey % 7
                                order by c_custkey) as rn
           from customer) where rn = 1
         order by c_custkey % 7, c_custkey""")
    // no ORDER BY: the kept row would be nondeterministic — loud
    val e = intercept[RuntimeException](graftSession.query(
      "select distinct on (c_nationkey) c_custkey from customer"))
    assert(e.getMessage.contains("ORDER BY"), e.getMessage)
  }

  test("typed DATE/TIMESTAMP literals and INTERVAL arithmetic") {
    // graft lowers x ± interval as TIMESTAMP_NTZ shifts (DuckDB's
    // session-zone-free TIMESTAMP semantics); the oracle spells the
    // same shape in spark.sql
    checkTranslated(
      """select o_orderkey,
                o_orderdate + interval 3 month as m3,
                cast(o_orderdate - interval '1 day' as date) as d1
         from orders
         where o_orderdate >= date '1995-06-01'
           and o_orderdate < date '1995-06-01' + interval 1 month""",
      """select o_orderkey,
                cast(o_orderdate as timestamp_ntz) + interval 3 month as m3,
                cast(cast(o_orderdate as timestamp_ntz) - interval 1 day as date) as d1
         from orders
         where o_orderdate >= date '1995-06-01'
           and o_orderdate < cast(date '1995-06-01' as timestamp_ntz) + interval 1 month""")
    // compound single-string intervals, timestamp literal, clamping
    checkTranslated(
      """select timestamp '1994-01-31 10:30:00' + interval '1 month' as clamp,
                date '1994-01-01' + interval '1 day 2 hours' as dh,
                date '1994-03-01' - interval 1 year as back
         from region where r_regionkey = 0""",
      """select cast(timestamp '1994-01-31 10:30:00' as timestamp_ntz) + interval 1 month as clamp,
                cast(date '1994-01-01' as timestamp_ntz) + interval 1 day + interval 2 hour as dh,
                cast(date '1994-03-01' as timestamp_ntz) - interval 1 year as back
         from region where r_regionkey = 0""")
    // a bare interval outside +/- arithmetic is loud
    val e = intercept[RuntimeException](graftSession.query(
      "select interval 3 month from region"))
    assert(e.getMessage.contains("INTERVAL"), e.getMessage)
  }

  test("EXTRACT fields lower to the registry date functions") {
    checkTranslated(
      """select o_orderkey,
                extract(year from o_orderdate) as y,
                extract(month from o_orderdate) as m,
                extract(day from o_orderdate) as d,
                extract(quarter from o_orderdate) as q,
                extract(week from o_orderdate) as w,
                extract(doy from o_orderdate) as dy,
                extract(dow from o_orderdate) as dw,
                extract(isodow from o_orderdate) as idw
         from orders where o_orderkey <= 160""",
      """select o_orderkey,
                year(o_orderdate) as y, month(o_orderdate) as m,
                day(o_orderdate) as d, quarter(o_orderdate) as q,
                weekofyear(o_orderdate) as w, dayofyear(o_orderdate) as dy,
                dayofweek(o_orderdate) - 1 as dw, weekday(o_orderdate) + 1 as idw
         from orders where o_orderkey <= 160""")
    val e = intercept[RuntimeException](graftSession.query(
      "select extract(century from o_orderdate) from orders"))
    assert(e.getMessage.contains("EXTRACT field"), e.getMessage)
  }

  test("SUBSTRING FROM/FOR, POSITION IN, TRIM spec forms, :: casts") {
    checkTranslated(
      """select p_partkey,
                substring(p_name from 3 for 8) as sub,
                substring(p_name from 5) as tail5,
                position('al' in p_name) as pos,
                trim(leading 'a' from p_name) as lt,
                trim(trailing 'e' from p_name) as rt,
                trim(both 'a' from p_name) as bt,
                trim('s' from p_name) as st,
                p_partkey::string as pks,
                p_retailprice::int as pri
         from part where p_partkey <= 120""",
      """select p_partkey,
                substring(p_name, 3, 8) as sub,
                substring(p_name, 5) as tail5,
                position('al', p_name) as pos,
                ltrim('a', p_name) as lt,
                rtrim('e', p_name) as rt,
                trim(BOTH 'a' FROM p_name) as bt,
                trim(BOTH 's' FROM p_name) as st,
                cast(p_partkey as string) as pks,
                cast(p_retailprice as int) as pri
         from part where p_partkey <= 120""")
  }

  test("LIKE ESCAPE matches wildcards literally via the regex lowering") {
    // seed rows exercising escaped %, escaped _, and both wildcards
    val escDf = spark.sql(
      """select * from values ('100% pure'), ('100x pure'), ('a_b'),
         ('axb'), ('50% off!'), (null) as t(s)""")
    graftSession.registerTable("esc_t", escDf)
    escDf.createOrReplaceTempView("esc_t")
    // spark.sql supports ESCAPE natively — same text both engines;
    // graft goes through the rlike conversion
    checkTranslated(
      "select s from esc_t where s like '100!% p%' escape '!'",
      "select s from esc_t where s like '100!% p%' escape '!'")
    checkTranslated(
      "select s from esc_t where s like 'a!_b' escape '!'",
      "select s from esc_t where s like 'a!_b' escape '!'")
    checkTranslated(
      "select s from esc_t where s not like '%!%%' escape '!'",
      "select s from esc_t where s not like '%!%%' escape '!'")
    // ILIKE has no spark.sql ESCAPE form — oracle via upper()
    checkTranslated(
      "select s from esc_t where s ilike '100!% P%' escape '!'",
      "select s from esc_t where upper(s) like upper('100!% P%') escape '!'")
    graftSession.removeTable("esc_t")
    val e = intercept[RuntimeException](graftSession.query(
      "select r_name from region where r_name like 'A%!' escape '!'"))
    assert(e.getMessage.contains("escape"), e.getMessage)
  }

  test("lambda higher-order functions (r7b)") {
    // spark.sql shares the lambda syntax — element AND indexed forms
    // (both 0-based in Spark; DuckDB's index is 1-based, so the
    // DuckDB oracle entry q_list_lambda sticks to element lambdas)
    checkAgainstSparkSql(
      """select n_nationkey,
           transform(sequence(1, 1 + n_nationkey % 4), x -> x * x) as sq,
           transform(sequence(1, 1 + n_nationkey % 4), (x, i) -> x + i) as xi,
           filter(sequence(1, 1 + n_nationkey % 4), x -> x % 2 = 1) as od,
           aggregate(sequence(1, 1 + n_nationkey % 4), cast(0 as bigint),
             (acc, x) -> acc + x) as sm,
           aggregate(sequence(1, 1 + n_nationkey % 4), cast(0 as bigint),
             (acc, x) -> acc + x, acc -> acc * 10) as smf
         from nation""")
    // DuckDB list_* spellings lower to the same HOFs; params shadow
    // real columns (n_nationkey used as the param name)
    assertSameRows(
      graftSession.query(
        """select list_transform(sequence(1, 3),
             n_nationkey -> n_nationkey * 2) as t,
             list_filter(sequence(1, 4), v -> v > 2) as f
           from region where r_regionkey = 0"""),
      spark.sql(
        "select transform(sequence(1, 3), x -> x * 2) as t, " +
          "filter(sequence(1, 4), v -> v > 2) as f " +
          "from region where r_regionkey = 0"))
    // nested lambdas shadow correctly
    checkAgainstSparkSql(
      """select n_nationkey,
           transform(sequence(1, 2),
             x -> aggregate(sequence(1, 3), cast(0 as bigint),
                    (acc, x) -> acc + x) + x) as nested
         from nation""")
    // loud walls
    val e1 = intercept[RuntimeException](graftSession.query(
      "select lower(x -> x) as bad from nation"))
    assert(e1.getMessage.contains("lambda"), e1.getMessage)
    val e2 = intercept[RuntimeException](graftSession.query(
      "select n_nationkey + (x -> x) as bad from nation"))
    assert(e2.getMessage.contains("lambda") ||
      e2.getMessage.contains("expected"), e2.getMessage)
  }

  test("array subscript and struct field access (r11)") {
    // subscripts are 1-based (DuckDB/Spark element_at convention);
    // out-of-range reads NULL, the index can be any expression, and
    // chains compose with any primary
    assertSameRows(
      graftSession.query(
        """select n_nationkey,
             split(n_name, 'A')[1] as p1,
             split(n_name, 'A')[n_nationkey % 2 + 1] as px,
             split(n_name, 'A')[99] as oob,
             sequence(1, 4)[3] as s3,
             array(array(1, 2), array(3, 4))[2][1] as nested
           from nation"""),
      spark.sql(
        """select n_nationkey,
             try_element_at(split(n_name, 'A'), 1) as p1,
             try_element_at(split(n_name, 'A'),
               cast(n_nationkey % 2 + 1 as int)) as px,
             try_element_at(split(n_name, 'A'), 99) as oob,
             try_element_at(sequence(1, 4), 3) as s3,
             try_element_at(try_element_at(
               array(array(1, 2), array(3, 4)), 2), 1) as nested
           from nation"""))
    // struct fields: two-segment `s.b` resolves the struct column,
    // three-segment `t.s.b` resolves through the relation alias, and
    // fields extract off computed values; a subscript follows a field
    assertSameRows(
      graftSession.query(
        """select t.n_nationkey, s.a as sa, t.s.b as sb,
             named_struct('x', 7).x as cx,
             named_struct('arr', sequence(1, 3)).arr[2] as fa
           from (select n_nationkey,
                   named_struct('a', n_regionkey, 'b', n_name) as s
                 from nation) t"""),
      spark.sql(
        """select n_nationkey, n_regionkey as sa, n_name as sb,
             7 as cx, 2 as fa from nation"""))
    // table-alias-vs-struct ambiguity: the alias wins (DuckDB/Spark)
    assertSameRows(
      graftSession.query("select s.n_name from nation s where s.n_nationkey = 3"),
      spark.sql("select n_name from nation where n_nationkey = 3"))
    // ::cast composes with subscripts in one postfix chain
    assertSameRows(
      graftSession.query(
        "select split('1 2 3', ' ')[2]::int + 1 as v from region where r_regionkey = 0"),
      spark.sql("select 3 as v from region where r_regionkey = 0"))
    // index 0 reads NULL (DuckDB's l[0]), including via expressions
    // that hit 0 on some rows (review r11: bare try_element_at throws
    // INVALID_INDEX_OF_ZERO)
    assertSameRows(
      graftSession.query(
        """select n_nationkey, sequence(1, 4)[0] as z,
             sequence(10, 14)[n_nationkey % 3] as zx
           from nation"""),
      spark.sql(
        """select n_nationkey, cast(null as int) as z,
             case when n_nationkey % 3 = 0 then cast(null as int)
                  else try_element_at(sequence(10, 14),
                         cast(n_nationkey % 3 as int)) end as zx
           from nation"""))
    // map subscripts: computed STRING keys resolve through the map's
    // key type (review r11: the StrLit-only dispatch cast them to
    // int); absent keys read NULL
    assertSameRows(
      graftSession.query(
        """select t.n_nationkey, t.m[lower(t.kc)] as v, t.m['nope'] as mi
           from (select n_nationkey,
                   map('a', n_regionkey, 'b', cast(9 as bigint)) as m,
                   'A' as kc from nation) t"""),
      spark.sql(
        "select n_nationkey, n_regionkey as v, cast(null as bigint) as mi from nation"))
    // subscripts/fields compose in AGGREGATE context (group keys and
    // aggregate results) and in PIVOT aggregates (review r11)
    assertSameRows(
      graftSession.query(
        """select sequence(1, 3)[n_regionkey % 2 + 1] as k,
             array_agg(n_nationkey order by n_nationkey)[1] as first_key,
             array_agg(n_nationkey order by n_nationkey)[count(*)] as last_key,
             count(*) as n
           from nation group by sequence(1, 3)[n_regionkey % 2 + 1]"""),
      spark.sql(
        """select try_element_at(sequence(1, 3),
             cast(n_regionkey % 2 + 1 as int)) as k,
             try_element_at(sort_array(collect_list(n_nationkey)), 1) as first_key,
             try_element_at(sort_array(collect_list(n_nationkey)),
               cast(count(*) as int)) as last_key,
             count(*) as n
           from nation group by 1"""))
    // integer-keyed map subscript with key 0 inside a LAMBDA (the
    // container type is unresolvable there — review r11 pass 2: the
    // unconditional 0-guard forced these to NULL)
    assertSameRows(
      graftSession.query(
        """select list_transform(array(map(0, 'a')), m -> m[0]) as v
           from region where r_regionkey = 0"""),
      spark.sql("select array('a') as v from region where r_regionkey = 0"))
    // loud wall: unterminated subscript
    intercept[RuntimeException](
      graftSession.query("select sequence(1, 3)[2 from nation"))
  }

  test("list slicing and list/struct/map literals (r11b)") {
    // DuckDB slice semantics: 1-based INCLUSIVE bounds, omittable
    // (`[2:]`, `[:3]`, `[:]`), negative = from the end (len+b+1),
    // lo clamps up to 1, hi down to len, inverted/past-end → EMPTY
    assertSameRows(
      graftSession.query(
        """select r_regionkey,
             sequence(10, 14)[2:4] as mid,
             sequence(10, 14)[:2] as head,
             sequence(10, 14)[4:] as tail,
             sequence(10, 14)[-2:] as last2,
             sequence(10, 14)[:-2] as drop2,
             sequence(10, 14)[0:2] as zlo,
             sequence(10, 14)[-99:2] as neglo,
             sequence(10, 14)[2:99] as bighi,
             sequence(10, 14)[4:2] as inv,
             sequence(10, 14)[9:] as past,
             sequence(10, 14)[:] as whole
           from region where r_regionkey = 0"""),
      spark.sql(
        """select r_regionkey,
             sequence(11, 13) as mid, sequence(10, 11) as head,
             sequence(13, 14) as tail, sequence(13, 14) as last2,
             sequence(10, 13) as drop2, sequence(10, 11) as zlo,
             sequence(10, 11) as neglo, sequence(11, 14) as bighi,
             array() as inv, array() as past, sequence(10, 14) as whole
           from region where r_regionkey = 0""").selectExpr(
        "r_regionkey", "cast(mid as array<bigint>) mid",
        "cast(head as array<bigint>) head", "cast(tail as array<bigint>) tail",
        "cast(last2 as array<bigint>) last2", "cast(drop2 as array<bigint>) drop2",
        "cast(zlo as array<bigint>) zlo", "cast(neglo as array<bigint>) neglo",
        "cast(bighi as array<bigint>) bighi", "cast(inv as array<bigint>) inv",
        "cast(past as array<bigint>) past", "cast(whole as array<bigint>) whole"))
    // a NULL list or NULL bound reads NULL (never empty — the clamps
    // are explicit WHENs because greatest/least SKIP nulls)
    assertSameRows(
      graftSession.query(
        """select split(cast(null as varchar), ' ')[1:2] as nlist,
             sequence(1, 3)[null:2] as nlo,
             sequence(1, 3)[1:null] as nhi
           from region where r_regionkey = 0"""),
      spark.sql(
        """select cast(null as array<string>) as nlist,
             cast(null as array<bigint>) as nlo, cast(null as array<bigint>) as nhi
           from region where r_regionkey = 0"""))
    // computed bounds, slices of slices, and slice-then-subscript
    assertSameRows(
      graftSession.query(
        """select n_nationkey,
             sequence(1, 10)[n_nationkey % 3 + 1 : n_nationkey % 3 + 3] as w,
             sequence(1, 10)[2:8][2:3] as ss,
             sequence(1, 10)[3:][2] as sx
           from nation"""),
      spark.sql(
        """select n_nationkey,
             slice(sequence(1, 10), cast(n_nationkey % 3 + 1 as int), 3) as w,
             sequence(3, 4) as ss, 4 as sx from nation""").selectExpr(
        "n_nationkey", "cast(w as array<bigint>) w",
        "cast(ss as array<bigint>) ss", "cast(sx as bigint) sx"))
    // list literals: element exprs, nesting, and the empty list
    assertSameRows(
      graftSession.query(
        """select [1, 2, 1 + 2] as a, ['x', r_name] as s,
             [[1], [2, 3]][2][1] as n
           from region where r_regionkey = 0"""),
      spark.sql(
        """select array(1, 2, 3) as a, array('x', r_name) as s, 2 as n
           from region where r_regionkey = 0"""))
    // struct literals: quoted + bare keys, nesting, dotted access
    assertSameRows(
      graftSession.query(
        """select {'a': 1, 'b': r_name}.b as sb,
             {x: 5}.x as bx,
             {'o': {'i': r_regionkey + 7}}.o.i as nested
           from region where r_regionkey = 0"""),
      spark.sql(
        """select r_name as sb, 5 as bx, cast(r_regionkey + 7 as bigint) as nested
           from region where r_regionkey = 0"""))
    // map literals: computed keys/values, absent key NULL, empty map
    assertSameRows(
      graftSession.query(
        """select map {lower(r_name): r_regionkey, 'k': 99}['africa'] as hit,
             map {'k': 1}['nope'] as miss,
             size(map_keys(map {})) as empty_n
           from region where r_regionkey = 0"""),
      spark.sql(
        """select cast(0 as bigint) as hit, cast(null as int) as miss,
             0 as empty_n
           from region where r_regionkey = 0"""))
    // loud walls: empty struct literal; unterminated slice
    val e1 = intercept[RuntimeException](
      graftSession.query("select {} from region"))
    assert(e1.getMessage.contains("struct"), e1.getMessage)
    intercept[RuntimeException](
      graftSession.query("select sequence(1, 3)[1:2 from region"))
  }

  test("bitwise aggregates bit_and/bit_or/bit_xor (r11b)") {
    checkAgainstSparkSql(
      """select l_returnflag,
           cast(bit_and(l_linenumber) as bigint) as ba,
           cast(bit_or(l_linenumber) as bigint) as bo,
           cast(bit_xor(l_orderkey % 7) as bigint) as bx
         from lineitem group by l_returnflag""")
    // they ride OVER windows like any aggregate
    checkAgainstSparkSql(
      """select n_nationkey,
           bit_or(n_nationkey) over (partition by n_regionkey) as w
         from nation""")
    // DISTINCT is loud (no Column-API spelling for bit_xor DISTINCT;
    // bit_and/bit_or are distinct-insensitive anyway)
    val e = intercept[RuntimeException](graftSession.query(
      "select bit_xor(distinct n_regionkey) as x from nation"))
    assert(e.getMessage.contains("DISTINCT"), e.getMessage)
  }

  test("TRY_CAST returns NULL on conversion failure (r7b)") {
    checkAgainstSparkSql(
      """select o_orderkey,
           try_cast(substring(o_orderpriority, 1, 1) as integer) as pri,
           try_cast(o_orderpriority as integer) as bad,
           try_cast(o_orderstatus as double) as badf
         from orders""")
    // :: sugar stays a HARD cast; try_cast composes inside expressions
    checkAgainstSparkSql(
      """select n_nationkey,
           coalesce(try_cast(n_name as bigint), -1) as nn
         from nation""")
  }

  test("GROUPS frame mode lowers as RANGE over the dense_rank ordinal (r7b)") {
    // hand-computed: peer groups [1,1],[2],[3,3] under ORDER BY x
    val tiny = graftSession.query(
      """select x, sum(x) over (order by x
           groups between 1 preceding and current row) as s
         from (values (1),(1),(2),(3),(3)) t(x)""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(tiny.toSeq == Seq((1L, 2L), (1L, 2L), (2L, 4L),
      (3L, 8L), (3L, 8L)), tiny.mkString(","))
    // differential vs the spelled-out two-step rewrite through
    // spark.sql (dense_rank subquery + RANGE over it) — real ties on
    // l_quantity; the frame the GROUPS spec selects must match
    def oracle(lo: String, hi: String): String =
      s"""select l_orderkey, l_quantity,
            sum(l_quantity) over (partition by l_returnflag order by __g
              range between $lo and $hi) as s
          from (select *, dense_rank() over (partition by l_returnflag
                  order by l_quantity) as __g from lineitem)"""
    assertSameRows(
      graftSession.query(
        """select l_orderkey, l_quantity,
             sum(l_quantity) over (partition by l_returnflag
               order by l_quantity
               groups between 2 preceding and 1 following) as s
           from lineitem"""),
      spark.sql(oracle("2 preceding", "1 following")).drop("__g"))
    // CURRENT ROW spans the WHOLE peer group in GROUPS mode
    assertSameRows(
      graftSession.query(
        """select l_orderkey, l_quantity,
             count(*) over (partition by l_returnflag order by l_quantity
               groups between unbounded preceding and current row) as c
           from lineitem"""),
      spark.sql(
        """select l_orderkey, l_quantity,
             count(*) over (partition by l_returnflag order by l_quantity
               range between unbounded preceding and current row) as c
           from lineitem"""))
    // EXCLUDE composes through the range-frame algebra unchanged
    assertSameRows(
      graftSession.query(
        """select l_orderkey, l_quantity,
             sum(l_quantity) over (partition by l_returnflag
               order by l_quantity
               groups between 1 preceding and 1 following
               exclude group) as s
           from lineitem"""),
      spark.sql(
        """select l_orderkey, l_quantity,
             sum(l_quantity) over (partition by l_returnflag order by __g
               range between 1 preceding and 1 following) -
             sum(l_quantity) over (partition by l_returnflag, l_quantity)
               as s
           from (select *, dense_rank() over (partition by l_returnflag
                   order by l_quantity) as __g from lineitem)""")
        .drop("__g"))
    // aggregate path: the window evaluates over the GROUPED frame
    assertSameRows(
      graftSession.query(
        """select l_returnflag, l_linestatus,
             sum(sum(l_quantity)) over (partition by l_returnflag
               order by count(*)
               groups between 1 preceding and current row) as s
           from lineitem group by l_returnflag, l_linestatus"""),
      spark.sql(
        """select l_returnflag, l_linestatus,
             sum(sq) over (partition by l_returnflag order by __g
               range between 1 preceding and current row) as s
           from (select l_returnflag, l_linestatus, sum(l_quantity) as sq,
                   dense_rank() over (partition by l_returnflag
                     order by count(*)) as __g
                 from lineitem group by l_returnflag, l_linestatus)""")
        .drop("sq", "__g"))
  }

  test("DISTINCT window aggregates (r7b)") {
    // hand-computed (spark.sql rejects the shape outright)
    val r = graftSession.query(
      """select k,
           count(distinct v) over (partition by k) as cd,
           sum(distinct v) over (partition by k) as sd,
           avg(distinct v) over (partition by k) as ad,
           min(distinct v) over (partition by k) as mn
         from (values (1,1),(1,1),(1,2),(2,5),(3,cast(null as bigint))) t(k,v)""")
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1),
          if (x.isNullAt(2)) null else x.getLong(2),
          if (x.isNullAt(3)) null else x.getDouble(3)))).toMap
    // r8 (r7 ADVICE): sum(distinct <integral>) folds in LONG — the
    // same result type as the native non-windowed sum, not a silent
    // double; avg still divides to double
    assert(r(1L) == ((2L, 3L, 1.5)), r.toString)
    assert(r(2L) == ((1L, 5L, 5.0)))
    assert(r(3L) == ((0L, null, null)), "all-null frame reads 0/NULL")
    // exactness past 2^53: a double fold would corrupt 2^53 + 1
    val big = graftSession.query(
      """select sum(distinct v) over () as s
         from (values (cast(9007199254740993 as bigint)), (1)) t(v)""")
      .collect().map(_.getLong(0)).toSet
    assert(big == Set(9007199254740994L), big.toString)
    // frames apply: running distinct count vs a hand-built rewrite
    assertSameRows(
      graftSession.query(
        """select c_custkey,
             count(distinct c_nationkey) over (partition by c_mktsegment
               order by c_custkey) as rc
           from customer"""),
      spark.sql(
        """select c_custkey,
             cast(size(collect_set(c_nationkey) over
               (partition by c_mktsegment order by c_custkey)) as bigint)
               as rc
           from customer"""))
  }

  test("GROUPS frames work through named WINDOW definitions (r7b)") {
    // resolveNamedWindows runs before the GROUPS pre-pass, so a
    // WINDOW-clause frame rewrites like an inline one
    assertSameRows(
      graftSession.query(
        """select l_orderkey, sum(l_quantity) over w as s
           from lineitem
           window w as (partition by l_returnflag order by l_quantity
             groups between 1 preceding and 1 following)"""),
      spark.sql(
        """select l_orderkey, sum(l_quantity) over (
             partition by l_returnflag order by __g
             range between 1 preceding and 1 following) as s
           from (select *, dense_rank() over (partition by l_returnflag
                   order by l_quantity) as __g from lineitem)""")
        .drop("__g"))
  }

  test("GROUPS frame walls are loud") {
    // order-sensitive window functions read frame order, which the
    // group-ordinal sort does not preserve among peers
    val e1 = intercept[Exception](graftSession.query(
      """select first_value(l_orderkey) over (order by l_quantity
           groups between 1 preceding and current row) as f
         from lineitem"""))
    assert(e1.getMessage.contains("order-insensitive"), e1.getMessage)
    // GROUPS requires ORDER BY (peer groups are order ties)
    val e2 = intercept[Exception](graftSession.query(
      """select sum(l_quantity) over (partition by l_returnflag
           groups between 1 preceding and current row) as s
         from lineitem"""))
    assert(e2.getMessage.contains("ORDER BY"), e2.getMessage)
    // windowed string_agg over GROUPS needs its own element order
    val e3 = intercept[Exception](graftSession.query(
      """select string_agg(l_returnflag, ',') over (order by l_quantity
           groups between 1 preceding and current row) as s
         from lineitem"""))
    assert(e3.getMessage.contains("internal"), e3.getMessage)
  }

  test("row-value comparisons match Spark struct ordering (r9)") {
    // non-null operands: graft's lexicographic desugar must agree
    // with Spark's independent struct field-wise ordering
    // Spark struct ordering demands IDENTICAL field types — cast
    // numeric components to double on the oracle side (ordering is
    // unchanged; all values are exactly representable)
    def cd(x: String): String =
      if (x.startsWith("'") || x == "c_mktsegment") x
      else s"cast($x as double)"
    for (op <- Seq("=", "<>", "<", "<=", ">", ">=");
         (e1, e2, v1, v2) <- Seq(
           ("c_nationkey", "c_custkey % 10", "7", "3"),
           ("c_nationkey % 3", "round(c_acctbal, 0)", "1", "4000.0"),
           ("c_mktsegment", "c_nationkey", "'BUILDING'", "12")))
      checkTranslated(
        s"select c_custkey from customer where ($e1, $e2) $op ($v1, $v2)",
        s"select c_custkey from customer where struct(${cd(e1)}, ${cd(e2)}) " +
          s"$op struct(${cd(v1)}, ${cd(v2)})")
    // 3-wide tuples recurse correctly
    checkTranslated(
      """select c_custkey from customer
         where (c_nationkey, c_mktsegment, c_custkey % 10) < (12, 'MACHINERY', 5)""",
      """select c_custkey from customer
         where struct(cast(c_nationkey as double), c_mktsegment, cast(c_custkey % 10 as double))
             < struct(cast(12 as double), 'MACHINERY', cast(5 as double))""")
    // NULL members follow the STANDARD's 3VL (UNKNOWN filters), NOT
    // struct-as-value equality — oracle is the spelled element form
    for ((op, oracle) <- Seq(
        ("=", "c_nationkey = 7 and nullif(c_custkey % 10, 3) = 4"),
        ("<>", "not (c_nationkey = 7 and nullif(c_custkey % 10, 3) = 4)")))
      checkTranslated(
        s"select c_custkey from customer where (c_nationkey, nullif(c_custkey % 10, 3)) $op (7, 4)",
        s"select c_custkey from customer where $oracle")
    // tuple IN a literal list — OR-of-row-equalities
    checkTranslated(
      """select n_name from nation
         where (n_regionkey, n_nationkey % 7) in ((1, 1), (2, 5), (4, 0))""",
      """select n_name from nation
         where (n_regionkey = 1 and n_nationkey % 7 = 1)
            or (n_regionkey = 2 and n_nationkey % 7 = 5)
            or (n_regionkey = 4 and n_nationkey % 7 = 0)""")
    // NOT IN list with a NULL probe member: 3VL via the Not lowering
    checkTranslated(
      """select c_custkey from customer
         where (c_nationkey, nullif(c_nationkey % 3, 1)) not in ((7, 0), (12, 2))""",
      """select c_custkey from customer
         where not ((c_nationkey = 7 and nullif(c_nationkey % 3, 1) = 0)
                 or (c_nationkey = 12 and nullif(c_nationkey % 3, 1) = 2))""")
  }

  test("row-value IN (subquery) matches spark.sql multi-column IN (r9)") {
    // spark.sql runs multi-column IN subqueries natively in filter
    // position (standard-conformant there) — same text, both engines
    checkAgainstSparkSql(
      """select o_orderkey from orders
         where (o_custkey, o_orderstatus) in
           (select c_custkey, 'F' from customer where c_mktsegment = 'BUILDING')""")
    checkAgainstSparkSql(
      """select c_custkey from customer
         where (c_nationkey, c_nationkey % 3) not in
           (select n_regionkey, n_regionkey % 3 from nation)""")
    // NULL-bearing set + NOT IN: the standard's UNKNOWN-drops rule
    checkAgainstSparkSql(
      """select c_custkey from customer
         where (c_nationkey, c_mktsegment) not in
           (select n_nationkey,
                   case when n_name like '%_1%' then null else 'BUILDING' end
            from nation)""")
    // NULL probe member + NOT IN
    checkAgainstSparkSql(
      """select c_custkey from customer
         where (c_nationkey, nullif(c_nationkey % 3, 1)) not in
           (select n_regionkey, n_regionkey % 3 from nation where n_nationkey < 10)""")
    // CORRELATED tuple IN: component-wise keys plus the correlation
    checkAgainstSparkSql(
      """select c_custkey from customer
         where (c_nationkey, c_custkey % 3) in
           (select n_nationkey, n_regionkey % 3 from nation
            where n_regionkey = c_nationkey % 5)""")
    // arity mismatch is loud
    val e2 = intercept[RuntimeException](graftSession.query(
      """select c_custkey from customer
         where (c_nationkey, c_custkey) in (select n_nationkey from nation)"""))
    assert(e2.getMessage.contains("2-column"), e2.getMessage)
    // row tuple outside a comparison is loud
    val e3 = intercept[RuntimeException](graftSession.query(
      "select (c_custkey, c_nationkey) from customer"))
    assert(e3.getMessage.contains("row-value"), e3.getMessage)
  }

  test("tuple IN flags: OR and projection positions with full 3VL (r9)") {
    import spark.implicits._
    val g = graft.Graft(spark)
    // probe rows with null members; set {(1,1),(2,NULL),(9,9)}
    g.registerTable("tp", Seq[(Long, java.lang.Long)](
      (1L, 1L), (2L, 2L), (3L, null), (4L, 0L), (5L, 2L), (6L, null)
    ).toDF("a", "b"))
    g.registerTable("ts", Seq[(java.lang.Long, java.lang.Long)](
      (1L, 1L), (2L, null), (9L, 9L)).toDF("x", "y"))
    try {
      val got = g.query(
        """select a,
             (a, b) in (select x, y from ts) as f,
             (a, b) not in (select x, y from ts) as nf,
             case when (a, b) in (select x, y from ts) or a = 4
                  then 1 else 0 end as orf,
             (a, b) in (select x, y from ts where x > 100) as emp
           from tp""").collect()
        .map(r => r.getLong(0) -> ((
          if (r.isNullAt(1)) null else java.lang.Boolean.valueOf(r.getBoolean(1)),
          if (r.isNullAt(2)) null else java.lang.Boolean.valueOf(r.getBoolean(2)),
          r.getLong(3).toInt,
          if (r.isNullAt(4)) null else java.lang.Boolean.valueOf(r.getBoolean(4))
        ))).toMap
      val T = java.lang.Boolean.TRUE; val Fb = java.lang.Boolean.FALSE
      // (1,1) exact match -> TRUE; (2,2) hits (2,NULL) -> UNKNOWN;
      // (3,NULL)/(6,NULL): every row strictly false on x -> FALSE;
      // (4,0)/(5,2): all false -> FALSE; empty set -> FALSE always
      assert(got(1L) == ((T, Fb, 1, Fb)), got(1L))
      assert(got(2L) == ((null, null, 0, Fb)), got(2L))
      assert(got(3L) == ((Fb, T, 0, Fb)), got(3L))
      assert(got(4L) == ((Fb, T, 1, Fb)), got(4L)) // orf via a = 4
      assert(got(5L) == ((Fb, T, 0, Fb)), got(5L))
      assert(got(6L) == ((Fb, T, 0, Fb)), got(6L))
      // correlated tuple IN in flag position (r10, the last 36bi
      // wall): group-for-a = ts rows with x = a. a=1: exact match ->
      // TRUE; a=2: (2,NULL) -> UNKNOWN (dropped, a<>4); a=3/5/6:
      // empty or strictly-false group -> FALSE; a=4: empty group but
      // the OR arm keeps it
      val corr = g.query(
        """select a from tp
           where (a, b) in (select x, y from ts where x = tp.a)
              or a = 4""").collect().map(_.getLong(0)).sorted.toSeq
      assert(corr == Seq(1L, 4L), corr)
      // projected correlated tuple flag: full 3VL column
      val pf = g.query(
        """select a, (a, b) in (select x, y from ts where x = tp.a) as f
           from tp""").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null
           else java.lang.Boolean.valueOf(r.getBoolean(1)))).toMap
      assert(pf == Map(1L -> T, 2L -> null, 3L -> Fb, 4L -> Fb,
        5L -> Fb, 6L -> Fb), pf)
      // non-plain correlated subqueries stay loud
      val e = intercept[RuntimeException](g.query(
        """select a from tp
           where (a, b) in (select x, max(y) from ts where x = tp.a
                            group by x)
              or a = 4"""))
      assert(e.getMessage.contains("plain FROM/WHERE"), e.getMessage)
    } finally { g.removeTable("tp"); g.removeTable("ts") }
  }

  test("correlated tuple-IN flags fuzz vs the spelled EXISTS rewrite (r10)") {
    import spark.implicits._
    val g = graft.Graft(spark)
    val rnd = new scala.util.Random(101)
    def lv(bound: Int): java.lang.Long =
      if (rnd.nextInt(5) == 0) null else java.lang.Long.valueOf(rnd.nextInt(bound).toLong)
    for (round <- 0 until 6) {
      val t = (0 until 40).map(i =>
        (i.toLong, lv(4), lv(4), lv(6))) // id, a, b, k
      val s = (0 until 30).map(_ => (lv(4), lv(4), lv(6), lv(6)))
      g.registerTable("ft", t.toDF("id", "a", "b", "k"))
      g.registerTable("fs", s.toDF("x", "y", "sk", "c"))
      try {
        // equality-key correlation; theta correlation on alternate
        // rounds (routes keys + thetas through the same tuple join)
        val corrTxt =
          if (round % 2 == 0) "fs.sk = ft.k"
          else "fs.sk = ft.k and fs.c <= ft.id"
        def spelled(neg: Boolean): String = {
          val base =
            s"""case when exists (select 1 from fs where $corrTxt
                       and fs.x = ft.a and fs.y = ft.b) then true
                     when exists (select 1 from fs where $corrTxt
                       and (fs.x = ft.a or fs.x is null or ft.a is null)
                       and (fs.y = ft.b or fs.y is null or ft.b is null))
                       then cast(null as boolean)
                     else false end"""
          if (neg) s"not ($base)" else base
        }
        val q = g.query(
          s"""select id,
                (a, b) in (select x, y from fs where $corrTxt) as f,
                (a, b) not in (select x, y from fs where $corrTxt) as nf
              from ft""").collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) null else r.getBoolean(1),
            if (r.isNullAt(2)) null else r.getBoolean(2))).sortBy(_._1).toSeq
        val ref = g.query(
          s"""select id, ${spelled(neg = false)} as f,
                ${spelled(neg = true)} as nf
              from ft""").collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) null else r.getBoolean(1),
            if (r.isNullAt(2)) null else r.getBoolean(2))).sortBy(_._1).toSeq
        assert(q == ref, s"round $round:\n got $q\n ref $ref")
        // filter position under OR: same rewrite equivalence
        val gotF = g.query(
          s"""select id from ft
              where (a, b) not in (select x, y from fs where $corrTxt)
                 or id % 7 = 0""").collect().map(_.getLong(0)).sorted.toSeq
        val refF = g.query(
          s"""select id from ft
              where (${spelled(neg = true)}) or id % 7 = 0""")
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(gotF == refF, s"round $round: $gotF vs $refF")
      } finally { g.removeTable("ft"); g.removeTable("fs") }
    }
  }

  test("EXCLUDE on windowed ordered-set collects matches a Scala model (r9)") {
    import spark.implicits._
    val g = graft.Graft(spark)
    val rnd = new scala.util.Random(11)
    // (p partition, k tied order key, v value with nulls, id unique)
    val rows = (0 until 120).map { i =>
      (i % 5, rnd.nextInt(6),
       if (rnd.nextInt(8) == 0) null
       else ('a' + rnd.nextInt(5)).toChar.toString, i)
    }
    g.registerTable("xt",
      rows.toDF("p", "k", "v", "id"))
    try {
      val got = g.query(
        """select p, k, id,
             string_agg(v, ',' order by v) over (partition by p order by k
               rows between unbounded preceding and unbounded following
               exclude group) as xg,
             string_agg(v, ',' order by v) over (partition by p order by k
               rows between unbounded preceding and unbounded following
               exclude ties) as xs,
             string_agg(distinct v, ',' order by v) over (partition by p order by k
               rows between unbounded preceding and unbounded following
               exclude group) as xd,
             string_agg(v, ',' order by v) over (partition by p order by id
               rows between 1 preceding and 2 following
               exclude current row) as xc
           from xt""").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
          r.getString(3), r.getString(4), r.getString(5), r.getString(6)))
      val byP = rows.groupBy(_._1)
      def join(vs: Seq[String]): String = {
        val nn = vs.filter(_ != null).sorted
        if (nn.isEmpty) null else nn.mkString(",")
      }
      assert(got.length == rows.length)
      got.foreach { case (p, k, id, xg, xs, xd, xc) =>
        val part = byP(p)
        val self = part.find(_._4 == id).get
        val others = part.filter(_._2 != k).map(_._3)
        assert(xg == join(others), s"xg p=$p k=$k id=$id")
        assert(xs == join(others :+ self._3), s"xs p=$p k=$k id=$id")
        val dd = Option(join(others)).map(
          _.split(",").distinct.mkString(",")).orNull
        assert(xd == dd, s"xd p=$p k=$k id=$id")
        val sortedPart = part.sortBy(_._4)
        val pos = sortedPart.indexWhere(_._4 == id)
        val frame = sortedPart.slice(math.max(0, pos - 1), pos + 3)
          .filter(_._4 != id).map(_._3)
        assert(xc == join(frame), s"xc p=$p id=$id")
      }
      // frame must contain the current row; other window functions
      // stay loud
      val e1 = intercept[Exception](g.query(
        """select string_agg(v, ',' order by v) over (partition by p order by id
             rows between 3 preceding and 1 preceding exclude current row) as s
           from xt"""))
      assert(e1.getMessage.contains("contains the current row"),
        e1.getMessage)
    } finally g.removeTable("xt")
  }

  test("quantified comparisons reject unsupported positions loudly") {
    // GROUP BY keys have no flag-lowering home
    val e = intercept[RuntimeException](graftSession.query(
      """select count(*) as n from customer
         group by c_acctbal < any (select o_totalprice from orders)"""))
    assert(e.getMessage.contains("quantified comparison"), e.getMessage)
    // columns named any/all still parse as plain identifiers
    val g = graft.Graft(spark)
    g.registerTable("quant_t", spark.sql(
      "select 1 as x, 2 as all, 3 as any"))
    assert(g.query("select x from quant_t where x < all + any")
      .collect().head.getInt(0) == 1)
    g.removeTable("quant_t")
  }

  test("simple CASE: comparand form lowers to equality branches (r11c)") {
    checkAgainstSparkSql(
      """select l_orderkey, l_linenumber,
           case l_returnflag when 'A' then 1 when 'R' then 2 else 0
             end as rf
         from lineitem""")
    // expression comparand; omitted ELSE reads NULL on no match
    checkAgainstSparkSql(
      """select l_orderkey, l_linenumber,
           case l_linenumber % 3 when 0 then 'z' when 1 then 'a' end as m
         from lineitem""")
    // NULL comparand matches no branch (equality, not IS NOT DISTINCT)
    val g = graftSession
    val r = g.query(
      "select case cast(null as int) when 1 then 'x' else 'e' end as v " +
        "from region limit 1").collect().head
    assert(r.getString(0) == "e")
    // searched form unchanged; empty CASE is a parse error
    intercept[RuntimeException](g.query("select case end from region"))
    // nondeterministic comparand evaluates ONCE (r12): the drawn
    // value must land in exactly one covering branch — with per-
    // branch re-evaluation the two complementary conditions could
    // both miss (or both hit), reading 'neither' somewhere in 5k rows
    val rows = g.query(
      """select case when random() < 0.5 then 0 else 1 end as dummy,
           case cast(floor(random() * 2) as int)
             when 0 then 'lo' when 1 then 'hi' else 'neither' end as v
         from lineitem limit 5000""").collect()
    assert(rows.forall(x => x.getString(1) == "lo" || x.getString(1) == "hi"))
    assert(rows.map(_.getString(1)).distinct.length == 2)
  }

  test("SIMILAR TO / GLOB anchored pattern operators (r12)") {
    val g = graftSession
    def one(sql: String): Boolean =
      g.query(s"select ($sql) as v from region limit 1")
        .collect().head.getBoolean(0)
    // SIMILAR TO: whole-string regex, NO %/_ translation (DuckDB)
    assert(one("'abcd' similar to 'a.*'"))
    assert(!one("'abcd' similar to 'b.*'"))
    assert(!one("'abcd' similar to 'abc'"))    // anchored: partial no
    assert(one("'abc' not similar to 'x+'"))
    assert(one("'a%c' similar to 'a%c'"))      // % is literal
    // GLOB: * ? [...] wildcards, case-sensitive, anchored
    assert(one("'BUILDING' glob 'B*'"))
    assert(!one("'BUILDING' glob 'b*'"))
    assert(one("'BUILDING' glob 'B?ILDING'"))
    assert(one("'BUILDING' glob '*ILD*'"))
    assert(!one("'BUILDING' glob 'ILD'"))
    assert(one("'a.c' glob 'a.c'") && !one("'axc' glob 'a.c'")) // . literal
    assert(one("'b7' glob 'b[0-9]'") && !one("'b7' glob 'b[!0-9]'"))
    assert(one("'x' not glob 'y*'")) // graft extension (DuckDB lacks NOT GLOB)
    // 'similar' / 'glob' remain usable as plain identifiers
    val r = g.query("select r_regionkey as glob, r_name as similar " +
      "from region order by 1 limit 1").collect().head
    assert(r.getAs[Number](0).longValue == 0L)
    // these operators work in WHERE and compose with boolean logic
    val n = g.query("select count(*) as n from customer " +
      "where c_mktsegment glob '*IL*' and c_name similar to 'Customer#[0-9]+'")
      .collect().head.getLong(0)
    val direct = g.query("select count(*) as n from customer " +
      "where c_mktsegment like '%IL%'").collect().head.getLong(0)
    assert(n == direct && n > 0)
  }

  test("date_trunc / strftime temporal functions (r12)") {
    val g = graftSession
    val r = g.query(
      """select cast(date_trunc('month', o_orderdate) as date) as mo,
           strftime(o_orderdate, '%Y-%m-%d') as iso,
           strftime(o_orderdate, '%a %b %j') as names,
           strftime(o_orderdate, '%H:%M:%S %p, 100%%') as t
         from orders where o_orderkey = 0""").collect().head
    val od = g.query("select cast(o_orderdate as date)::varchar as d " +
      "from orders where o_orderkey = 0").collect().head.getString(0)
    assert(r.getAs[java.sql.Date](0).toString == od.substring(0, 8) + "01")
    assert(r.getString(1) == od)
    assert(r.getString(2).matches("[A-Z][a-z]{2} [A-Z][a-z]{2} [0-9]{3}"))
    assert(r.getString(3) == "00:00:00 AM, 100%")
    // literal runs carrying Java-reserved pattern characters quote
    // cleanly ('#', '{', '}' would throw "reserved character" raw)
    val braces = g.query(
      "select strftime(o_orderdate, '{%Y}#') as v from orders " +
        "where o_orderkey = 0").collect().head.getString(0)
    assert(braces.matches("\\{[0-9]{4}\\}#"), braces)
    // epoch is DOUBLE seconds including the fraction (DuckDB), for
    // both the EXTRACT form and date_part
    val ep = g.query(
      """select extract(epoch from timestamp '2020-01-05 00:00:00.75') as a,
           date_part('epoch', timestamp '2020-01-05 00:00:00.75') as b
         from region limit 1""").collect().head
    assert(ep.getDouble(0) == 1578182400.75 &&
      ep.getDouble(1) == 1578182400.75, ep.toString)
    // unknown directives and non-literal formats are loud
    val e1 = intercept[RuntimeException](g.query(
      "select strftime(o_orderdate, '%V') as v from orders"))
    assert(e1.getMessage.contains("not supported"), e1.getMessage)
    val e2 = intercept[RuntimeException](g.query(
      "select strftime(o_orderdate, o_orderpriority) as v from orders"))
    assert(e2.getMessage.contains("literal"), e2.getMessage)
  }

  test("DuckDB alias pack: list/string/regex functions (r12)") {
    val g = graftSession
    val r = g.query(
      """select
           list_contains([1, 2, 3], 2) as a, list_contains([1, 2], 9) as b,
           cast(list_position([4, 5, 6], 5) as bigint) as c,
           cast(list_position([4, 5], 9) as bigint) as d,
           array_to_string(list_sort(['b', 'a', 'c']), ',') as e,
           array_to_string(list_reverse_sort(['b', 'a', 'c']), ',') as f,
           list_has_any([1, 2], [2, 9]) as ha, list_has_any([1], [9]) as hb,
           list_has_all([1, 2, 3], [1, 3]) as hc,
           list_has_all([1, 2], [1, 9]) as hd,
           cast(list_unique([1, 2, 2]) as bigint) as u,
           starts_with('abc', 'ab') as sw, ends_with('abc', 'bc') as ew,
           regexp_matches('abcd', 'bc') as rm,
           regexp_full_match('abcd', 'bc') as rf,
           regexp_full_match('abcd', 'a.*d') as rf2
         from region limit 1""").collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getLong(2) == 2L && r.getLong(3) == 0L)
    assert(r.getString(4) == "a,b,c" && r.getString(5) == "c,b,a")
    assert(r.getBoolean(6) && !r.getBoolean(7))
    assert(r.getBoolean(8) && !r.getBoolean(9))
    assert(r.getLong(10) == 2L)
    assert(r.getBoolean(11) && r.getBoolean(12))
    assert(r.getBoolean(13) && !r.getBoolean(14) && r.getBoolean(15))
  }

  test("date_diff counts part-boundary crossings like DuckDB (r12)") {
    val g = graftSession
    val r = g.query(
      """select
           cast(date_diff('day', timestamp '2020-01-01 23:00:00',
             timestamp '2020-01-02 01:00:00') as int) as dd,
           cast(date_diff('hour', timestamp '2020-01-01 00:59:00',
             timestamp '2020-01-01 02:01:00') as int) as dh,
           cast(date_diff('minute', timestamp '2020-01-01 00:00:59',
             timestamp '2020-01-01 00:02:01') as int) as dmin,
           cast(date_diff('month', timestamp '2020-01-31 23:59:00',
             timestamp '2020-02-01 00:01:00') as int) as dm,
           cast(date_diff('year', date '2019-12-31', date '2020-01-01') as int) as dy,
           cast(date_diff('week', date '2020-01-05', date '2020-01-06') as int) as dw,
           cast(date_diff('quarter', date '2020-03-31', date '2020-04-01') as int) as dq,
           cast(date_diff('day', date '2020-01-05', date '2020-01-02') as int) as neg
         from region limit 1""").collect().head
    // boundary counts, NOT elapsed full units (timestampdiff would
    // read 0 for dd/dm/dq): pinned against DuckDB probes
    assert(r.getInt(0) == 1 && r.getInt(1) == 2 && r.getInt(2) == 2)
    assert(r.getInt(3) == 1 && r.getInt(4) == 1 && r.getInt(5) == 1)
    assert(r.getInt(6) == 1 && r.getInt(7) == -3)
    val e = intercept[RuntimeException](g.query(
      "select date_diff('fortnight', o_orderdate, o_orderdate) as x from orders"))
    assert(e.getMessage.contains("not supported"), e.getMessage)
  }

  test("list comprehension lowers to transform/filter (r11c)") {
    val g = graftSession
    val r = g.query(
      """select [x * 2 for x in [1, 2, 3]] as a,
           [x for x in [1, 5, 2, 8] if x > 4] as b,
           [upper(s) for s in ['a', 'b']] as c
         from region limit 1""").collect().head
    assert(r.getSeq[Long](0) == Seq(2L, 4L, 6L) ||
      r.getSeq[Int](0) == Seq(2, 4, 6))
    assert(r.getSeq[Long](1) == Seq(5L, 8L) || r.getSeq[Int](1) == Seq(5, 8))
    assert(r.getSeq[String](2) == Seq("A", "B"))
    // comprehension over a real array column composes with the
    // subscript/slicing surface
    val s = g.query(
      """select [x + 1 for x in [n_regionkey, n_nationkey] if x >= 0][1]
           as f from nation where n_nationkey = 0""").collect().head
    assert(s.getLong(0) == 1L || s.getInt(0) == 1)
  }

  test("COLUMNS(*) / COLUMNS('re') expand select items (r11c)") {
    val g = graftSession
    // bare: regex subset in table order, named by source column
    val df = g.query("select columns('^n_(nation|region)key$') from nation")
    assert(df.columns.toSeq == Seq("n_nationkey", "n_regionkey"))
    // wrapped aggregate expands per column; alias prefixes
    val agg = g.query(
      "select max(columns('key$')) as mx, count(*) as n from nation")
    assert(agg.columns.toSeq == Seq("mx_n_nationkey", "mx_n_regionkey", "n"))
    val r = agg.collect().head
    def lv(i: Int) = r.getAs[Number](i).longValue
    assert(lv(0) == 24L && lv(1) == 4L && lv(2) == 25L)
    // COLUMNS(*) takes every column; grouped expansion plans as a
    // real aggregate
    val all = g.query("select count(columns(*)) from region")
    assert(all.columns.length == g.query("select * from region").columns.length)
    val grouped = g.query(
      """select l_returnflag, min(columns('^l_.*price$')) as m
         from lineitem group by l_returnflag""")
    assert(grouped.columns.toSeq == Seq("l_returnflag", "m_l_extendedprice"))
    // walls: empty match, two COLUMNS in one item
    val e1 = intercept[RuntimeException](
      g.query("select columns('zzz') from region").collect())
    assert(e1.getMessage.contains("matched no columns"), e1.getMessage)
    val e2 = intercept[RuntimeException](g.query(
      "select columns('^r_n') + columns('^r_r') from region").collect())
    assert(e2.getMessage.contains("one COLUMNS"), e2.getMessage)
  }

  test("POSITIONAL JOIN zips rows; shorter side null-pads (r11c)") {
    val g = graftSession
    val rows = g.query(
      """select o_orderkey, r_name
         from (select o_orderkey from orders
               order by o_orderkey limit 8) o
         positional join
         (select r_name from region order by r_name) r""")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        Option(r.getString(1)).getOrElse("-")))
    assert(rows.length == 8)
    val orderedKeys = g.query(
        "select o_orderkey from orders order by o_orderkey limit 8")
      .collect().map(_.getLong(0))
    val regions = g.query("select r_name from region order by r_name")
      .collect().map(_.getString(0))
    // first five pair positionally; the last three null-pad r_name
    val sorted = rows.sortBy(_._1)
    assert(sorted.map(_._1).toSeq == orderedKeys.toSeq)
    assert(sorted.take(5).map(_._2).toSeq == regions.toSeq)
    assert(sorted.drop(5).forall(_._2 == "-"))
    // longer RIGHT side pads the left with NULLs
    val n = g.query(
      """select r_regionkey, o_orderkey
         from (select r_regionkey from region order by r_regionkey) r
         positional join
         (select o_orderkey from orders order by o_orderkey limit 7) o""")
      .collect()
    assert(n.length == 7 && n.count(_.isNullAt(0)) == 2)
  }
}
