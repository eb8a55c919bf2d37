package graft

/** SQL statement forms (r5b): CREATE/DROP VIEW and EXPLAIN — the SQL
  * spellings of the register/remove API. Uses a private session so
  * registry mutations don't leak into other suites. */
class StatementsSpec extends SparkTestBase {

  private def fresh: Graft = Graft.forDir(spark, TestSpark.sfDir)

  test("create view registers a lazy plan queryable by name") {
    val g = fresh
    val st = g.query(
      "create view big_orders as select * from orders where o_totalprice > 100000")
    assert(st.collect().map(_.getString(0)).toSeq == Seq("view"))
    val n = g.query("select count(*) as n from big_orders")
      .collect().head.getLong(0)
    val direct = g.query(
      "select count(*) as n from orders where o_totalprice > 100000")
      .collect().head.getLong(0)
    assert(n == direct && n > 0)
    // views compose: a view over the view
    g.query("create temp view big2 as select o_custkey from big_orders")
    assert(g.query("select * from big2").columns.toSeq == Seq("o_custkey"))
  }

  test("create view without OR REPLACE refuses to overwrite") {
    val g = fresh
    g.query("create view v1 as select 1 as x from region")
    val e = intercept[RuntimeException](
      g.query("create view v1 as select 2 as x from region"))
    assert(e.getMessage.contains("already exists"))
    g.query("create or replace view v1 as select 2 as x from region")
    assert(g.query("select distinct x from v1").collect().head.getLong(0) == 2L)
  }

  test("drop view removes the name; IF EXISTS tolerates absence") {
    val g = fresh
    g.query("create view doomed as select * from nation")
    assert(g.query("drop view doomed").collect().head.getString(0) == "dropped")
    intercept[RuntimeException](g.query("select * from doomed"))
    intercept[RuntimeException](g.query("drop view doomed"))
    assert(g.query("drop view if exists doomed")
      .collect().head.getString(0) == "noop")
  }

  test("create table as caches a materialized-once result") {
    val g = fresh
    val st = g.query(
      "create table big as select * from orders where o_totalprice > 100000")
    assert(st.collect().head.getString(0) == "table")
    val n1 = g.query("select count(*) as n from big").collect().head.getLong(0)
    assert(n1 > 0)
    intercept[RuntimeException](
      g.query("create table big as select 1 as x from region"))
    assert(g.query("drop table big").collect().head.getString(0) == "dropped")
    intercept[RuntimeException](g.query("select * from big"))
  }

  test("describe and show tables read the registry") {
    val g = fresh
    val cols = g.query("describe nation")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(cols.map(_._1).toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(Set("int", "bigint").contains(cols.head._2))
    assert(g.query("desc table nation").count() == 3)
    val names = g.query("show tables").collect().map(_.getString(0)).toSeq
    assert(names.contains("nation") && names.contains("lineitem"))
    assert(names == names.sorted)
    intercept[RuntimeException](g.query("describe no_such_table"))
  }

  test("explain returns the formatted physical plan as rows") {
    val g = fresh
    val lines = g.query("explain select n_name from nation where n_regionkey = 1")
      .collect().map(_.getString(0))
    assert(lines.exists(_.contains("Physical Plan")))
    assert(lines.exists(_.contains("PushedFilters")))
  }

  test("INSERT / UPDATE / DELETE re-register composed lazy plans (r7b)") {
    val g = fresh
    g.query("create table d0 as select * from (values " +
      "(1, 10.0), (2, 20.0), (3, 30.0)) t(k, v)")
    def rows(): Map[Long, Double] =
      g.query("select k, v from d0").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // INSERT: select form and VALUES form, positional
    g.query("insert into d0 values (4, 40.0)")
    g.query("insert into d0 select k + 10, v * 10 from d0 where k = 1")
    assert(rows() == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0,
      4L -> 40.0, 11L -> 100.0))
    // UPDATE with WHERE: untouched rows keep their values
    g.query("update d0 set v = v + 1 where k <= 2")
    assert(rows() == Map(1L -> 11.0, 2L -> 21.0, 3L -> 30.0,
      4L -> 40.0, 11L -> 100.0))
    // UPDATE without WHERE touches every row; multi-assignment with
    // function commas survives the splitter
    g.query("update d0 set v = round(v, 0), k = k")
    assert(rows()(4L) == 40.0)
    // DELETE with a subquery predicate (the WHERE path's full dialect)
    g.query("delete from d0 where k in (select k from d0 where v > 50)")
    assert(rows().keySet == Set(1L, 2L, 3L, 4L))
    g.query("delete from d0 where k = 1")
    assert(rows().keySet == Set(2L, 3L, 4L))
    // walls: unknown column, unknown table, arity mismatch
    val e1 = intercept[RuntimeException](
      g.query("update d0 set nope = 1"))
    assert(e1.getMessage.contains("not in"), e1.getMessage)
    intercept[RuntimeException](g.query("insert into ghost values (1)"))
    intercept[Exception](
      g.query("insert into d0 values (1)").collect())
  }

  test("MERGE INTO: upsert, insert-only, replace-only, delete (r7b)") {
    val g = fresh
    g.query("create view t0 as select * from (values " +
      "(1, 'a'), (2, 'b'), (3, 'c')) t(k, v)")
    g.query("create view s0 as select * from (values " +
      "(2, 'B'), (4, 'D')) t(k, v)")
    def rows(name: String): Map[Long, String] =
      g.query(s"select k, v from $name").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    // full upsert: matched rows replaced, new keys appended
    g.query("create or replace table t1 as select * from t0")
    g.query("""merge into t1 using s0 on t1.k = s0.k
               when matched then update set *
               when not matched then insert *""")
    assert(rows("t1") == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
    // insert-only: matched rows untouched
    g.query("create or replace table t2 as select * from t0")
    g.query("""merge into t2 using s0 on k = k
               when not matched then insert *""")
    assert(rows("t2") == Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "D"))
    // replace-only: new source keys do NOT land
    g.query("create or replace table t3 as select * from t0")
    g.query("""merge into t3 using s0 on t3.k = s0.k
               when matched then update set *""")
    assert(rows("t3") == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // delete matched
    g.query("create or replace table t4 as select * from t0")
    g.query("merge into t4 using s0 on t4.k = s0.k when matched then delete")
    assert(rows("t4") == Map(1L -> "a", 3L -> "c"))
    // walls: theta ON, shadowed unconditional clause, matched INSERT
    val e1 = intercept[RuntimeException](g.query(
      "merge into t1 using s0 on t1.k > s0.k when matched then delete"))
    assert(e1.getMessage.contains("at least one target=source equality"),
      e1.getMessage)
    val e3 = intercept[RuntimeException](g.query(
      """merge into t1 using s0 on t1.k = s0.k
         when matched then update set *
         when matched then delete"""))
    assert(e3.getMessage.contains("shadow"), e3.getMessage)
    val e4 = intercept[RuntimeException](g.query(
      """merge into t1 using s0 on t1.k = s0.k
         when matched then insert *"""))
    assert(e4.getMessage.contains("cannot INSERT"), e4.getMessage)
  }

  test("MERGE INTO: column-level SET, conditional clauses, BY SOURCE (r8)") {
    val g = fresh
    // target: (k, v, n); source: (k, v2, bump)
    g.query("create view t0 as select * from (values " +
      "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30), (4, 'd', 40)) t(k, v, n)")
    g.query("create view s1 as select * from (values " +
      "(2, 'B', 5), (3, 'C', 100), (5, 'E', 7)) t(k, v2, bump)")
    def rows(name: String): Map[Long, (String, Long)] =
      g.query(s"select k, v, n from $name").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // column-level SET with source refs + arithmetic; conditional
    // MATCHED precedence (first true clause wins); INSERT (cols)
    // VALUES; NOT MATCHED BY SOURCE UPDATE.
    // hand-computed:
    //  k=1: unmatched-by-source -> n = n + 1  -> ('a', 11)
    //  k=2: matched, bump=5  <= 50 -> second clause: v = v2 -> ('B', 20)
    //  k=3: matched, bump=100 > 50 -> first clause: n = n + bump -> ('c', 130)
    //  k=4: unmatched-by-source -> ('d', 41)
    //  k=5: not matched -> insert (k, v) values (k, lower(v2)) -> ('e', null->0 cast? stays null)
    g.query("create or replace table m1 as select * from t0")
    g.query("""merge into m1 using s1 as s on m1.k = s.k
               when matched and s.bump > 50 then update set n = n + s.bump
               when matched then update set v = s.v2
               when not matched then insert (k, v) values (s.k, lower(s.v2))
               when not matched by source then update set n = n + 1""")
    val r = g.query("select k, v, n from m1").collect()
      .map(x => x.getLong(0) -> ((x.getString(1),
        if (x.isNullAt(2)) null else java.lang.Long.valueOf(x.getLong(2))))).toMap
    assert(r == Map(
      1L -> (("a", 11L: java.lang.Long)),
      2L -> (("B", 20L: java.lang.Long)),
      3L -> (("c", 130L: java.lang.Long)),
      4L -> (("d", 41L: java.lang.Long)),
      5L -> (("e", null))), r)
    // NOT MATCHED BY SOURCE DELETE: matched rows kept, others dropped
    g.query("create or replace table m2 as select * from t0")
    g.query("""merge into m2 using s1 s on m2.k = s.k
               when not matched by source then delete""")
    assert(rows("m2").keySet == Set(2L, 3L))
    // conditional DELETE on matched + conditional BY SOURCE coexist
    g.query("create or replace table m3 as select * from t0")
    g.query("""merge into m3 using s1 on m3.k = s1.k
               when matched and s1.bump > 50 then delete
               when not matched by source and n >= 40 then delete""")
    assert(rows("m3").keySet == Set(1L, 2L))
    // cardinality violation: two source rows for one target key with
    // a MATCHED clause errors AT ACTION TIME (lazy plan, loud run)
    g.query("create or replace table m4 as select * from t0")
    g.query("create view sdup as select * from (values " +
      "(2, 'x', 1), (2, 'y', 2)) t(k, v2, bump)")
    g.query("""merge into m4 using sdup on m4.k = sdup.k
               when matched then update set v = sdup.v2""")
    val e = intercept[Exception](g.query("select * from m4").collect())
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    // but insert-only with dup source keys is NOT a violation
    g.query("create or replace table m5 as select * from t0")
    g.query("create view sdup2 as select * from (values " +
      "(9, 'x', 1), (9, 'y', 2)) t(k, v2, bump)")
    g.query("""merge into m5 using sdup2 on m5.k = sdup2.k
               when not matched then insert (k, v) values (sdup2.k, sdup2.v2)""")
    assert(g.query("select count(*) as c from m5").collect()(0).getLong(0) == 6L)
    // string literal containing ' and ' in a clause condition must
    // not mis-split the ON scanner or the clause parser
    g.query("create or replace table m6 as select * from t0")
    g.query("""merge into m6 using s1 on m6.k = s1.k
               when matched and s1.v2 <> 'x and y' then update set v = s1.v2""")
    assert(rows("m6")(2L) == (("B", 20L)))
    // USING (subquery) alias (r8): the source is a derived table —
    // the balanced-paren scanner must survive nested parens and
    // string literals inside the subquery
    g.query("create or replace table m7 as select * from t0")
    g.query("""merge into m7 using (select k, upper(v2) as v2, bump
                                    from s1 where v2 <> '(x)') s
               on m7.k = s.k
               when matched then update set v = s.v2""")
    assert(rows("m7")(2L) == (("B", 20L)) && rows("m7")(3L) == (("C", 30L)))
    assert(!g.tableNames.contains("__merge_using_sub"))
  }

  test("MERGE ON: renamed keys, expression keys, guard survives pruning (r9)") {
    val g = fresh
    g.query("create view t0 as select * from (values " +
      "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30)) t(id, v, n)")
    // source keys under a DIFFERENT name (the staging-table shape)
    g.query("create view sr as select * from (values " +
      "(2, 'B'), (4, 'D')) t(src_id, v2)")
    def rows(name: String): Map[Long, String] =
      g.query(s"select id, v from $name").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    g.query("create or replace table r1 as select * from t0")
    g.query("""merge into r1 using sr on r1.id = sr.src_id
               when matched then update set v = sr.v2
               when not matched then insert (id, v) values (sr.src_id, sr.v2)""")
    assert(rows("r1") == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"),
      rows("r1"))
    // bare differently-named keys (each name lives in ONE frame only)
    g.query("create or replace table r2 as select * from t0")
    g.query("""merge into r2 using sr on id = src_id
               when matched then delete""")
    assert(rows("r2").keySet == Set(1L, 3L))
    // EXPRESSION key: match target ids against shifted source keys
    g.query("create view se as select * from (values " +
      "(1, 'X'), (3, 'Y')) t(src_id, v2)")
    g.query("create or replace table r3 as select * from t0")
    g.query("""merge into r3 using se on r3.id = se.src_id + 1
               when matched then update set v = se.v2""")
    assert(rows("r3") == Map(1L -> "a", 2L -> "X", 3L -> "c"), rows("r3"))
    // walls: a one-frame equality is a residual, so alone it leaves
    // no join key; ambiguous bare columns must qualify
    val e1 = intercept[RuntimeException](g.query(
      """merge into r3 using se on r3.id = r3.n when matched then delete"""))
    assert(e1.getMessage.contains("at least one target=source equality"),
      e1.getMessage)
    g.query("create view samev as select * from (values (1, 'x')) t(id, w)")
    val e2 = intercept[RuntimeException](g.query(
      """merge into r3 using samev on id = samev.w
         when matched then delete"""))
    assert(e2.getMessage.contains("qualify"), e2.getMessage)
    // r8 ADVICE: the cardinality guard must survive column pruning —
    // a query reading NO assigned column (count(*), key-only) still
    // trips it
    g.query("create or replace table r4 as select * from t0")
    g.query("create view sdup3 as select * from (values " +
      "(2, 'x'), (2, 'y')) t(src_id, v2)")
    g.query("""merge into r4 using sdup3 on r4.id = sdup3.src_id
               when matched then update set v = sdup3.v2""")
    val e3 = intercept[Exception](
      g.query("select count(*) as c from r4").collect())
    assert(e3.getMessage.contains("cardinality"), e3.getMessage)
    val e4 = intercept[Exception](
      g.query("select id from r4").collect())
    assert(e4.getMessage.contains("cardinality"), e4.getMessage)
  }

  test("MERGE ON residual conjuncts: key + non-equality match condition (r9)") {
    val g = fresh
    g.query("create view t0 as select * from (values " +
      "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30)) t(id, v, n)")
    g.query("create view sr2 as select * from (values " +
      "(2, 'B', 1), (3, 'C', 0), (4, 'D', 1)) t(src_id, v2, flag)")
    // residual-failed key matches are NOT MATCHED: matched clauses
    // skip them, BY SOURCE sees them, the insert leg admits their
    // source rows (two id=3 rows after — standard MERGE)
    g.query("create or replace table r5 as select * from t0")
    g.query("""merge into r5 using sr2
               on r5.id = sr2.src_id and sr2.flag = 1
               when matched then update set v = sr2.v2
               when not matched then insert (id, v) values (sr2.src_id, sr2.v2)
               when not matched by source then update set n = n + 100""")
    val got = g.query("select id, v, n from r5").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    assert(got == Seq((1L, "a", 110L), (2L, "B", 20L), (3L, "C", -1L),
      (3L, "c", 130L), (4L, "D", -1L)), got)
    // TARGET-side residual
    g.query("create or replace table r6 as select * from t0")
    g.query("""merge into r6 using sr2
               on r6.id = sr2.src_id and r6.n < 25
               when matched then delete""")
    assert(g.query("select id from r6").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 3L))
    // BY-SOURCE-only clause under a residual takes the tag/fold
    // match-flag branch (r10) and still answers per-row
    g.query("create or replace table r7 as select * from t0")
    g.query("""merge into r7 using sr2
               on r7.id = sr2.src_id and sr2.flag = 1
               when not matched by source then delete""")
    assert(g.query("select id from r7").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(2L)) // id=3 fails the residual -> deleted
    // walls: bare refs in a residual must qualify
    val e1 = intercept[RuntimeException](g.query(
      """merge into r6 using sr2 on r6.id = sr2.src_id and flag = 1
         when matched then delete"""))
    assert(e1.getMessage.contains("qualify"), e1.getMessage)
  }

  test("UPDATE ... FROM and DELETE ... USING (r9)") {
    val g = fresh
    g.query("create view t0 as select * from (values " +
      "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30), (4, 'd', 40)) t(k, v, n)")
    g.query("create view stage as select * from (values " +
      "(2, 'B', 1, 5), (3, 'C', 0, 7), (4, 'D', 1, 100)) " +
      "t(sk, sv, is_current, bump)")
    def rows(name: String): Map[Long, (String, Long)] =
      g.query(s"select k, v, n from $name").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // join-update: renamed key, source-only prefilter, mixed residual
    //  k=2: sk=2 current, bump=5, n=20 > bump -> updated
    //  k=3: sk=3 NOT current -> prefiltered out -> untouched
    //  k=4: sk=4 current but n=40 < bump=100 -> residual false -> kept
    g.query("create or replace table u1 as select * from t0")
    g.query("""update u1 set v = stage.sv, n = u1.n + stage.bump
               from stage
               where u1.k = stage.sk and stage.is_current = 1
                 and u1.n > stage.bump""")
    assert(rows("u1") == Map(
      1L -> (("a", 10L)), 2L -> (("B", 25L)),
      3L -> (("c", 30L)), 4L -> (("d", 40L))), rows("u1"))
    // multi-match AFTER the prefilter raises (MERGE's rule) ...
    g.query("create view dup as select * from (values " +
      "(2, 'x', 1), (2, 'y', 1)) t(sk, sv, is_current)")
    g.query("create or replace table u2 as select * from t0")
    g.query("update u2 set v = dup.sv from dup where u2.k = dup.sk")
    val e1 = intercept[Exception](g.query("select * from u2").collect())
    assert(e1.getMessage.contains("cardinality"), e1.getMessage)
    // ... but a prefilter that makes the match unique does NOT raise
    g.query("create view dup2 as select * from (values " +
      "(2, 'x', 1), (2, 'y', 0)) t(sk, sv, is_current)")
    g.query("create or replace table u3 as select * from t0")
    g.query("""update u3 set v = dup2.sv from dup2
               where u3.k = dup2.sk and dup2.is_current = 1""")
    assert(rows("u3")(2L) == (("x", 20L)), rows("u3"))
    // wall: no equality key
    val e2 = intercept[RuntimeException](g.query(
      "update u3 set v = 'z' from stage where u3.n > stage.bump"))
    assert(e2.getMessage.contains("equality conjunct"), e2.getMessage)
    // DELETE ... USING: semi semantics, multi-match fine, mixed conds
    g.query("create or replace table d1 as select * from t0")
    g.query("""delete from d1 using dup where d1.k = dup.sk""")
    assert(rows("d1").keySet == Set(1L, 3L, 4L))
    g.query("create or replace table d2 as select * from t0")
    g.query("""delete from d2 using stage
               where d2.k = stage.sk and stage.is_current = 1
                 and d2.n < stage.bump""")
    assert(rows("d2").keySet == Set(1L, 2L, 3L)) // only k=4 (40 < 100)
    // aliased spelling + non-equi-only condition (nested-loop shape)
    g.query("create or replace table d3 as select * from t0")
    g.query("""delete from d3 as tt using stage s
               where tt.n > s.bump * 5""")
    assert(rows("d3").keySet == Set(1L, 2L)) // n=30,40 > bump(5)*5
    // derived-table sources (r9): FROM (subquery) alias and
    // USING (subquery) alias
    g.query("create or replace table u4 as select * from t0")
    g.query("""update u4 set v = st.sv
               from (select sk, sv from stage where is_current = 1) st
               where u4.k = st.sk""")
    assert(rows("u4")(2L) == (("B", 20L)) && rows("u4")(4L) == (("D", 40L))
      && rows("u4")(3L) == (("c", 30L)), rows("u4"))
    assert(!g.tableNames.contains("__upd_from_sub"))
    g.query("create or replace table d4 as select * from t0")
    g.query("""delete from d4 using (select sk from stage
                 where is_current = 1) st
               where d4.k = st.sk""")
    assert(rows("d4").keySet == Set(1L, 3L))
    assert(!g.tableNames.contains("__del_using_sub"))
    // FROM (subquery) without an alias is loud
    val e3 = intercept[RuntimeException](g.query(
      "update u4 set v = 'x' from (select sk from stage) where u4.k = sk"))
    assert(e3.getMessage.contains("alias"), e3.getMessage)
  }

  test("MERGE fuzz: 15 random clause matrices match a Scala-computed model (r8)") {
    // deterministic pseudo-random scenarios over integer-only data
    // (no 3VL edges — those are hand-pinned elsewhere); the model
    // mirrors the documented MERGE contract: first true clause of a
    // row's category applies, no clause keeps/skips, dup source keys
    // with a MATCHED clause are a loud cardinality violation.
    val rnd = new scala.util.Random(42)
    for (scenario <- 1 to 15) {
      val g = fresh
      val nT = 8 + rnd.nextInt(8)
      val target = (0 until nT).map(i =>
        (rnd.nextInt(12).toLong, rnd.nextInt(100).toLong,
         rnd.nextInt(50).toLong))
      val allowDupSource = rnd.nextBoolean()
      val srcKeys0 = (0 until 6 + rnd.nextInt(6)).map(_ => rnd.nextInt(16).toLong)
      val srcKeys = if (allowDupSource) srcKeys0 else srcKeys0.distinct
      val source = srcKeys.map(k =>
        (k, rnd.nextInt(100).toLong, rnd.nextInt(60).toLong))
      def values(rows: Seq[(Long, Long, Long)], cols: String) =
        rows.map { case (a, b, c) => s"($a, $b, $c)" }
          .mkString("(values ", ", ", s") t($cols)")
      // r9: every other scenario stages the source key under a
      // DIFFERENT name — the renamed-key ON path must behave
      // identically to the same-named one across the clause matrix
      val sk = if (scenario % 2 == 0) "sk" else "k"
      g.query(s"create or replace table ft as select * from ${values(target, "k, v, n")}")
      g.query(s"create or replace view fs as select * from ${values(source, s"$sk, v2, bump")}")
      // clause pool: conditional forms first within each category
      val c1 = rnd.nextInt(40); val c2 = rnd.nextInt(60); val c3 = rnd.nextInt(50)
      val mUp = s"when matched and fs.bump > $c1 then update set v = fs.v2, n = n + fs.bump"
      val mDel = "when matched then delete"
      val ins = s"when not matched and fs.bump > $c2 then insert (k, v) values (fs.$sk, fs.v2)"
      val bDel = s"when not matched by source and n > $c3 then delete"
      val bUp = "when not matched by source then update set n = n + 1"
      val useMUp = rnd.nextBoolean(); val useMDel = rnd.nextBoolean()
      val useIns = rnd.nextBoolean()
      val useBDel = rnd.nextBoolean(); val useBUp = rnd.nextBoolean()
      // r9: every other scenario adds an ON RESIDUAL — a key match
      // failing it is NOT MATCHED for every clause category
      val useRes = rnd.nextBoolean(); val rThr = rnd.nextInt(40).toLong
      val clauses = Seq(
        if (useMUp) Some(mUp) else None,
        if (useMDel) Some(mDel) else None,
        if (useIns) Some(ins) else None,
        if (useBDel) Some(bDel) else None,
        if (useBUp) Some(bUp) else None).flatten
      if (clauses.nonEmpty) {
        val anyMatched = useMUp || useMDel
        val anyBySrc = useBDel || useBUp
        val onTxt = s"ft.k = fs.$sk" +
          (if (useRes) s" and fs.bump > $rThr" else "")
        val stmt = s"merge into ft using fs on $onTxt ${clauses.mkString(" ")}"
        val srcByKey = source.groupBy(_._1)
        // the guard counts KEY matches (residual-blind) whenever the
        // lowering takes the full join: any MATCHED clause, or a
        // residual with BY SOURCE clauses
        val guarded = anyMatched || (useRes && anyBySrc)
        val violation = guarded &&
          target.exists(t => srcByKey.getOrElse(t._1, Nil).size > 1)
        g.query(stmt)
        if (violation) {
          val e = intercept[Exception](g.query("select * from ft").collect())
          assert(e.getMessage.contains("cardinality"), s"#$scenario: ${e.getMessage}")
        } else {
          // model: a key-matched row failing the residual is NOT
          // MATCHED (by-source branch; its source row may insert)
          val kept = target.flatMap { case (k, v, n) =>
            srcByKey.get(k).map(_.head)
              .filter { case (_, _, bump) => !useRes || bump > rThr } match {
              case Some((_, v2, bump)) =>
                if (useMUp && bump > c1) Some((k, v2, n + bump))
                else if (useMDel) None
                else Some((k, v, n))
              case None =>
                if (useBDel && n > c3) None
                else if (useBUp) Some((k, v, n + 1))
                else Some((k, v, n))
            }
          }
          val tKeys = target.map(_._1).toSet
          val inserted = source.filter(s =>
              !tKeys.contains(s._1) || (useRes && s._3 <= rThr))
            .flatMap {
              case (k, v2, bump) =>
                if (useIns && bump > c2) Some((k, v2, -1L)) else None // n NULL
            }
          val got = g.query("select k, v, n from ft").collect()
            .map(r => (r.getLong(0), r.getLong(1),
              if (r.isNullAt(2)) -1L else r.getLong(2)))
            .sorted.toSeq
          val expected = (kept ++ inserted).sorted
          assert(got == expected,
            s"#$scenario clauses=${clauses.mkString("; ")}\n got=$got\n exp=$expected")
        }
      }
    }
  }

  test("TRUNCATE and ALTER TABLE registry forms (r9)") {
    val g = fresh
    g.query("create table a0 as select * from (values " +
      "(1, 'a', 10), (2, 'b', 20)) t(k, v, n)")
    // ADD COLUMN: NULL of the declared type, existing rows keep
    g.query("alter table a0 add column score double")
    val r1 = g.query("select k, score from a0 order by k").collect()
    assert(r1.forall(_.isNullAt(1)) &&
      g.query("select * from a0").schema("score").dataType ==
        org.apache.spark.sql.types.DoubleType)
    // RENAME COLUMN + reads through the new name
    g.query("alter table a0 rename column v to label")
    assert(g.query("select label from a0 where k = 1").collect()(0)
      .getString(0) == "a")
    // DROP COLUMN
    g.query("alter table a0 drop column n")
    assert(!g.query("select * from a0").columns.contains("n"))
    // RENAME TO moves the registry entry
    g.query("alter table a0 rename to a1")
    assert(g.tableNames.contains("a1") && !g.tableNames.contains("a0"))
    // TRUNCATE empties but keeps the schema
    g.query("truncate table a1")
    assert(g.query("select count(*) as c from a1").collect()(0)
      .getLong(0) == 0L)
    assert(g.query("select * from a1").columns.toSeq ==
      Seq("k", "label", "score"))
    // walls
    val e1 = intercept[RuntimeException](
      g.query("alter table a1 drop column nope"))
    assert(e1.getMessage.contains("not in"), e1.getMessage)
    val e2 = intercept[RuntimeException](
      g.query("alter table a1 add column k int"))
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    val e3 = intercept[RuntimeException](
      g.query("alter table a1 frobnicate"))
    assert(e3.getMessage.contains("ALTER TABLE supports"), e3.getMessage)
    intercept[Exception](g.query("truncate table ghost"))
  }

  test("ALTER TABLE ADD COLUMN IF NOT EXISTS / DROP COLUMN IF EXISTS") {
    val g = fresh
    g.query("create table a0 as select * from (values " +
      "(1, 'a'), (2, 'b')) t(k, v)")
    val before = g.query("select * from a0").schema
    // the clause applies: nothing changes and nothing is raised
    g.query("alter table a0 add column if not exists k double")
    g.query("alter table a0 drop column if exists nope")
    assert(g.query("select * from a0").schema == before)
    // the clause does not apply: the plain forms run
    g.query("alter table a0 add column if not exists score double")
    g.query("alter table a0 drop column if exists v")
    assert(g.query("select * from a0").columns.toSeq == Seq("k", "score"))
    assert(g.query("select count(*) as c from a0 where score is null")
      .collect()(0).getLong(0) == 2L)
  }

  test("MERGE BY-SOURCE-only + ON residuals permits multi-match (r10)") {
    val g = fresh
    g.query("create view t0 as select * from (values " +
      "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30)) t(id, v, n)")
    // id=2 matches TWO source rows — legal with no MATCHED clause
    // (SQL:2016): matched rows pass through unchanged, the r9 guard
    // must NOT fire (r9 ADVICE)
    g.query("create view sm as select * from (values " +
      "(2, 1), (2, 1), (3, 0)) t(src_id, flag)")
    g.query("create or replace table m1 as select * from t0")
    g.query("""merge into m1 using sm
               on m1.id = sm.src_id and sm.flag = 1
               when not matched by source then update set n = n + 100""")
    val got = g.query("select id, n from m1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // id=1: no key match -> +100; id=2: matched (flag=1 pair exists,
    // twice -- still matched) -> unchanged; id=3: key match but the
    // residual fails -> NOT matched -> +100
    assert(got == Seq((1L, 110L), (2L, 20L), (3L, 130L)), got)
    // same shape with DELETE: only the matched row survives
    g.query("create or replace table m2 as select * from t0")
    g.query("""merge into m2 using sm
               on m2.id = sm.src_id and sm.flag = 1
               when not matched by source then delete""")
    assert(g.query("select id from m2").collect().map(_.getLong(0))
      .toSeq == Seq(2L))
    // a residual that matches NO pair for a multi-matched key: every
    // target row is by-source
    g.query("create or replace table m3 as select * from t0")
    g.query("""merge into m3 using sm
               on m3.id = sm.src_id and sm.flag = 9
               when not matched by source then update set v = 'x'""")
    assert(g.query("select v from m3").collect()
      .map(_.getString(0)).toSeq == Seq("x", "x", "x"))
    // wall: BY SOURCE conditions/assignments cannot read source
    // columns in this branch (no matching source row exists; the
    // surviving arbitrary pair must never be read)
    g.query("create or replace table m4 as select * from t0")
    val e1 = intercept[RuntimeException](
      g.query("""merge into m4 using sm
                 on m4.id = sm.src_id and sm.flag = 1
                 when not matched by source then update set n = sm.flag"""))
    assert(e1.getMessage.contains("cannot reference source"), e1.getMessage)
    // the guarded branch still raises when a MATCHED clause exists
    g.query("create or replace table m5 as select * from t0")
    g.query("""merge into m5 using sm
               on m5.id = sm.src_id and sm.flag = 1
               when matched then update set n = 0
               when not matched by source then update set n = n + 100""")
    val e2 = intercept[Exception](g.query("select * from m5").collect())
    assert(e2.getMessage.contains("cardinality"), e2.getMessage)
  }

  test("ALTER ADD COLUMN multi-word types + quoted names; UPDATE alias (r10)") {
    val g = fresh
    g.query("create table a2 as select * from (values " +
      "(1, 'a'), (2, 'b')) t(k, v)")
    // standard multi-word type spellings parse (r9 ADVICE)
    g.query("alter table a2 add column dp double precision")
    assert(g.query("select * from a2").schema("dp").dataType ==
      org.apache.spark.sql.types.DoubleType)
    g.query("alter table a2 add column ts timestamp with time zone")
    assert(g.query("select * from a2").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    g.query("alter table a2 add column cv character varying(12)")
    assert(g.query("select * from a2").schema("cv").dataType ==
      org.apache.spark.sql.types.StringType)
    // the cast-probe quotes the table name: mixed-case/space names work
    g.query("""create table "My Table" as select * from (values (1)) t(k)""")
    g.query("""alter table "My Table" add column s string""")
    assert(g.query("""select * from "My Table"""").columns.toSeq ==
      Seq("k", "s"))
    // plain UPDATE with an alias: alias-qualified refs resolve (r9
    // ADVICE: the alias was silently dropped)
    g.query("create table u9 as select * from (values " +
      "(1, 10), (2, 20)) t(k, n)")
    g.query("update u9 as x set n = x.n + x.k where x.k = 2")
    assert(g.query("select n from u9 where k = 2").collect()(0)
      .getLong(0) == 22L)
    // typo'd alias in UPDATE ... FROM WHERE is loud (r9 ADVICE:
    // sidesOfExpr silently skipped unknown qualifiers)
    g.query("create view src9 as select * from (values (2, 5)) t(sk, b)")
    val e1 = intercept[RuntimeException](
      g.query("update u9 set n = 0 from src9 " +
        "where u9.k = src9.sk and zz.b = 5"))
    assert(e1.getMessage.contains("unknown alias"), e1.getMessage)
  }

  test("CREATE TABLE with an explicit schema registers a typed empty plan (r10)") {
    val g = fresh
    g.query("""create table ct1 (k bigint, "v" string, score double precision,
               amt decimal(10, 2))""")
    val df = g.query("select * from ct1")
    import org.apache.spark.sql.types._
    assert(df.schema.map(f => (f.name, f.dataType)) == Seq(
      ("k", LongType), ("v", StringType), ("score", DoubleType),
      ("amt", DecimalType(10, 2))), df.schema)
    assert(df.count() == 0)
    // populated by the ordinary DML family
    g.query("insert into ct1 (k, v) values (1, 'a'), (2, 'b')")
    assert(g.query("select count(*) as c from ct1").collect()(0)
      .getLong(0) == 2L)
    assert(g.query("select score from ct1 where k = 1").collect()(0)
      .isNullAt(0))
    // walls: duplicate column, bad def, existing name
    val e1 = intercept[RuntimeException](
      g.query("create table ct2 (a int, A string)"))
    assert(e1.getMessage.contains("twice"), e1.getMessage)
    val e2 = intercept[RuntimeException](
      g.query("create table ct2 (a)"))
    assert(e2.getMessage.contains("name type"), e2.getMessage)
    val e3 = intercept[RuntimeException](
      g.query("create table ct1 (a int)"))
    assert(e3.getMessage.contains("already exists"), e3.getMessage)
    // OR REPLACE swaps the schema
    g.query("create or replace table ct1 (only_col int)")
    assert(g.query("select * from ct1").columns.toSeq == Seq("only_col"))
  }

  test("INSERT ... ON CONFLICT upserts through the MERGE matrix (r10)") {
    val g = fresh
    def rows(name: String): Map[Long, (String, Long)] =
      g.query(s"select k, v, n from $name").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    g.query("create table oc1 as select * from (values " +
      "(1, 'a', 10), (2, 'b', 20)) t(k, v, n)")
    // DO UPDATE: conflicting row updates (excluded = the proposed
    // row), new row inserts
    g.query("""insert into oc1 values (2, 'B', 200), (3, 'c', 30)
               on conflict (k) do update set v = excluded.v,
                 n = oc1.n + excluded.n""")
    assert(rows("oc1") == Map(1L -> (("a", 10L)), 2L -> (("B", 220L)),
      3L -> (("c", 30L))), rows("oc1"))
    // DO NOTHING: conflict-free inserts only
    g.query("""insert into oc1 values (3, 'X', 999), (4, 'd', 40)
               on conflict (k) do nothing""")
    assert(rows("oc1") == Map(1L -> (("a", 10L)), 2L -> (("B", 220L)),
      3L -> (("c", 30L)), 4L -> (("d", 40L))), rows("oc1"))
    // column-list INSERT + ON CONFLICT: unlisted columns read NULL in
    // excluded; bare col in SET reads the TARGET row
    g.query("""insert into oc1 (k, v) values (4, 'D'), (5, 'e')
               on conflict (k) do update set v = excluded.v,
                 n = n + 1""")
    assert(rows("oc1") == Map(1L -> (("a", 10L)), 2L -> (("B", 220L)),
      3L -> (("c", 30L)), 4L -> (("D", 41L)), 5L -> (("e", -1L))),
      rows("oc1"))
    // composite conflict target
    g.query("create table oc2 as select * from (values " +
      "(1, 'x', 5)) t(a, b, c)")
    g.query("""insert into oc2 values (1, 'x', 50), (1, 'y', 7)
               on conflict (a, b) do update set c = excluded.c""")
    assert(g.query("select a, b, c from oc2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      == Seq((1L, "x", 50L), (1L, "y", 7L)))
    // INSERT ... SELECT body with a join carrying its own ON — the
    // splitter must find the CONFLICT keyword, not the join's ON
    g.query("create view ocsrc as select * from (values " +
      "(2, 'q'), (6, 'w')) t(sk, sv)")
    g.query("""insert into oc1
               select s1.sk, s1.sv, 0 from ocsrc s1 join ocsrc s2
                 on s1.sk = s2.sk
               on conflict (k) do nothing""")
    assert(rows("oc1")(6L) == (("w", 0L)) && rows("oc1")(2L) == (("B", 220L)))
    // cardinality rule inherited from MERGE: two proposed rows
    // claiming one existing target row raise lazily
    g.query("""insert into oc1 values (1, 'p', 1), (1, 'q', 2)
               on conflict (k) do update set n = excluded.n""")
    val e1 = intercept[Exception](g.query("select * from oc1").collect())
    assert(e1.getMessage.contains("cardinality"), e1.getMessage)
    // walls: missing key list, unknown key column
    val e2 = intercept[RuntimeException](g.query(
      "insert into oc2 values (9, 'z', 0) on conflict do nothing"))
    assert(e2.getMessage.contains("conflict target column list"),
      e2.getMessage)
    val e3 = intercept[RuntimeException](g.query(
      "insert into oc2 values (9, 'z', 0) on conflict (zz) do nothing"))
    assert(e3.getMessage.contains("not in"), e3.getMessage)
  }

  test("UPDATE FROM / DELETE USING fuzz: 12 scenarios match a Scala model (r9)") {
    val rnd = new scala.util.Random(77)
    for (scenario <- 1 to 12) {
      val g = fresh
      val target = (0 until 10 + rnd.nextInt(6)).map(i =>
        (rnd.nextInt(12).toLong, rnd.nextInt(100).toLong,
         rnd.nextInt(50).toLong))
      // distinct keys by default; every third scenario introduces dup
      // source keys with exactly one row passing the prefilter
      val dupMode = scenario % 3 == 0
      val srcKeys = (0 until 8).map(_ => rnd.nextInt(16).toLong).distinct
      val source0 = srcKeys.map(k =>
        (k, rnd.nextInt(100).toLong, 1L, rnd.nextInt(60).toLong))
      val source = if (!dupMode) source0
        else source0 ++ srcKeys.take(2).map(k =>
          (k, rnd.nextInt(100).toLong, 0L, rnd.nextInt(60).toLong))
      def values(rows: Seq[(Long, Long, Long, Long)], cols: String) =
        rows.map { case (a, b, c, d) => s"($a, $b, $c, $d)" }
          .mkString("(values ", ", ", s") t($cols)")
      def values3(rows: Seq[(Long, Long, Long)], cols: String) =
        rows.map { case (a, b, c) => s"($a, $b, $c)" }
          .mkString("(values ", ", ", s") t($cols)")
      g.query(s"create or replace table ut as select * from ${values3(target, "k, v, n")}")
      g.query(s"create or replace view us as select * from ${values(source, "sk, sv, cur, bump")}")
      val r1 = rnd.nextInt(60)
      // UPDATE ... FROM with prefilter + residual
      g.query(s"""update ut set v = us.sv, n = ut.n + us.bump
                  from us
                  where ut.k = us.sk and us.cur = 1 and ut.n > $r1""")
      val curSrc = source.filter(_._3 == 1L).groupBy(_._1)
      val expectU = target.map { case (k, v, n) =>
        curSrc.get(k).map(_.head) match {
          case Some((_, sv, _, bump)) if n > r1 => (k, sv, n + bump)
          case _                                => (k, v, n)
        }
      }
      val gotU = g.query("select k, v, n from ut").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(gotU == expectU.sorted, s"#$scenario UPDATE\n$gotU\n${expectU.sorted}")
      // DELETE ... USING with a mixed condition (semi semantics)
      val r2 = rnd.nextInt(60)
      g.query(s"create or replace table dt as select * from ${values3(target, "k, v, n")}")
      g.query(s"""delete from dt using us
                  where dt.k = us.sk and us.bump > $r2 and dt.n < us.bump""")
      val expectD = target.filter { case (k, _, n) =>
        !source.exists(s => s._1 == k && s._4 > r2 && n < s._4)
      }
      val gotD = g.query("select k, v, n from dt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(gotD == expectD.sorted, s"#$scenario DELETE\n$gotD\n${expectD.sorted}")
    }
  }

  test("INSERT INTO with a column list fills unlisted columns with NULL (r8)") {
    val g = fresh
    g.query("create table i0 as select * from (values " +
      "(1, 'a', 10)) t(k, v, n)")
    g.query("insert into i0 (n, k) values (77, 9)")
    g.query("insert into i0 (k) select k + 4 from i0 where k = 1")
    val r = g.query("select k, v, n from i0 order by k").collect()
      .map(x => (x.getLong(0),
        if (x.isNullAt(1)) null else x.getString(1),
        if (x.isNullAt(2)) null else java.lang.Long.valueOf(x.getLong(2))))
    assert(r.toSeq == Seq(
      (1L, "a", 10L: java.lang.Long),
      (5L, null, null),
      (9L, null, 77L: java.lang.Long)), r.mkString(","))
    // walls: unknown column, arity mismatch, duplicate column
    val e1 = intercept[RuntimeException](
      g.query("insert into i0 (nope) values (1)"))
    assert(e1.getMessage.contains("not in"), e1.getMessage)
    val e2 = intercept[RuntimeException](
      g.query("insert into i0 (k, v) values (1)"))
    assert(e2.getMessage.contains("listed"), e2.getMessage)
    val e3 = intercept[RuntimeException](
      g.query("insert into i0 (k, k) values (1, 2)"))
    assert(e3.getMessage.contains("twice"), e3.getMessage)
  }

  test("EXPORT/IMPORT DATABASE roundtrip the registry (r10)") {
    val g = new Graft(spark)
    g.query("create table t1 as select * from (values " +
      "(1, 'a'), (2, 'b')) t(k, v)")
    g.query("create table t2 as select * from (values (9.5)) t(x)")
    val tmp = java.nio.file.Files.createTempDirectory("graft_exp").toString
    assert(g.query(s"export database '$tmp'")
      .collect().head.getString(0) == "exported")
    // a fresh empty registry restores both tables from the directory
    val h = new Graft(spark)
    assert(h.query(s"import database '$tmp'")
      .collect().head.getString(0) == "imported")
    assert(h.tableNames == Set("t1", "t2"))
    val rows = h.query("select k, v from t1 order by k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b")))
    assert(h.query("select x from t2").collect().head.getDouble(0) == 9.5)
    // csv export honors the option list end-to-end
    val tmpc = java.nio.file.Files.createTempDirectory("graft_expc").toString
    g.query(s"export database '$tmpc' (format csv, delimiter ';')")
    val hc = new Graft(spark)
    hc.query(s"import database '$tmpc' (format csv, delimiter ';')")
    assert(hc.query("select count(*) as n from t1")
      .collect().head.getLong(0) == 2L)
    // re-export into the SAME directory after a drop must NOT
    // resurrect the dropped table (the manifest pins the set)
    g.query("drop table t2")
    g.query(s"export database '$tmp'")
    val h2 = new Graft(spark)
    h2.query(s"import database '$tmp'")
    assert(h2.tableNames == Set("t1"))
    // walls: empty/unlistable dir, bad option
    intercept[RuntimeException](
      h.query("import database '/nonexistent_graft_dir'"))
    intercept[RuntimeException](
      g.query(s"export database '$tmp' (compression zstd)"))
  }

  test("SUMMARIZE profiles tables and queries exactly (r10)") {
    val g = fresh
    g.query("create view sz as select * from (values " +
      "(1, 'a'), (2, null), (2, 'b'), (null, 'a')) t(k, v)")
    val rows = g.query("summarize sz").collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows("k") == ("1", "2", 2L, 1L, 4L))
    assert(rows("v") == ("a", "b", 2L, 1L, 4L))
    val types = g.query("summarize sz").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(types("k") == "bigint" && types("v") == "string")
    // query form re-enters the dialect
    val q = g.query("summarize select k + 1 as k2 from sz where v = 'a'")
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(3),
        r.getLong(6)))
    assert(q.toSeq == Seq(("k2", "2", "2", 2L))) // k=1 and k=null rows
    intercept[RuntimeException](g.query("summarize no_such_table"))
    // duplicate output names profile positionally, no ambiguity error
    val dup = g.query("summarize select 1 as a, 2 as a from region")
      .collect().map(r => (r.getString(0), r.getString(2)))
    assert(dup.toSeq == Seq(("a", "1"), ("a", "2")))
  }

  test("table functions read files in FROM position (r10)") {
    val g = fresh
    val tmp = java.nio.file.Files.createTempDirectory("graft_tf").toString
    g.query(s"copy (select n_nationkey, n_name from nation) " +
      s"to '$tmp/n.parquet'")
    // bare, aliased, qualified refs, joins against registry tables
    val a = g.query(s"select * from read_parquet('$tmp/n.parquet')")
    assert(a.count() == g.query("select * from nation").count())
    val b = g.query(s"select t.n_name from read_parquet('$tmp/n.parquet') t " +
      "where t.n_nationkey < 5 order by t.n_name").collect().map(_.getString(0))
    val bRef = g.query("select n_name from nation where n_nationkey < 5 " +
      "order by n_name").collect().map(_.getString(0))
    assert(b.toSeq == bRef.toSeq && b.length == 5)
    val j = g.query(s"select count(*) as n from " +
      s"read_parquet('$tmp/n.parquet') t join region r " +
      "on t.n_nationkey = r.r_regionkey").collect().head.getLong(0)
    assert(j == 5)
    // csv + json auto variants roundtrip through COPY
    g.query(s"copy (select n_nationkey, n_name from nation) " +
      s"to '$tmp/n.csv' (format csv)")
    assert(g.query(s"select * from read_csv('$tmp/n.csv')").count() == 25)
    g.query(s"copy (select n_nationkey, n_name from nation) " +
      s"to '$tmp/n.json' (format json)")
    assert(g.query(s"select * from read_json_auto('$tmp/n.json')")
      .count() == 25)
    // read_text: one row per line with a `value` column
    val lines = g.query(s"select count(*) as n from read_csv('$tmp/n.csv')")
      .collect().head.getLong(0)
    assert(g.query(s"select value from read_text('$tmp/n.csv/*.csv')")
      .count() == lines + 1) // + header
    // wall: non-string argument
    intercept[Exception](g.query("select * from read_parquet(42)"))
    // headerless CSV: header = false keeps row 1 as data
    val raw = java.nio.file.Files.createTempDirectory("graft_rawcsv")
    java.nio.file.Files.writeString(raw.resolve("d.csv"), "1,foo\n2,bar\n")
    assert(g.query(
      s"select count(*) as n from read_csv('$raw/d.csv', header = false)")
      .collect().head.getLong(0) == 2L)
    // and the flag is csv-only
    intercept[Exception](g.query(
      s"select * from read_json('$raw/d.csv', header = false)"))
  }

  test("PREPARE/EXECUTE bind $n and ? placeholders; DEALLOCATE (r10)") {
    val g = fresh
    // $n form, a parameter used twice, strings containing '$1' inert
    g.query("prepare big as select o_orderkey, o_totalprice from orders " +
      "where o_totalprice > $1 and o_orderkey <> $1 " +
      "and o_orderpriority <> 'x$1'")
    val a = g.query("execute big(100000)").collect()
    val direct = g.query("select o_orderkey, o_totalprice from orders " +
      "where o_totalprice > 100000 and o_orderkey <> 100000 " +
      "and o_orderpriority <> 'x$1'").collect()
    assert(a.toSet == direct.toSet && a.nonEmpty)
    // expressions as arguments substitute parenthesized
    val b = g.query("execute big(50000 * 2)").collect()
    assert(b.toSet == direct.toSet)
    // ? positional form
    g.query("prepare topn as select n_name from nation " +
      "where n_regionkey = ? order by n_name limit ?")
    val c = g.query("execute topn(1, 2)").collect().map(_.getString(0))
    val d = g.query("select n_name from nation where n_regionkey = 1 " +
      "order by n_name limit 2").collect().map(_.getString(0))
    assert(c.toSeq == d.toSeq && c.length == 2)
    // prepared DML mutates the registry on EXECUTE
    g.query("create table pt (k bigint, v varchar)")
    g.query("prepare ins as insert into pt values ($1, $2)")
    g.query("execute ins(1, 'a')")
    g.query("execute ins(2, 'b')")
    assert(g.query("select count(*) as n from pt")
      .collect().head.getLong(0) == 2L)
    // walls: arity mismatch both ways, mixed markers, unknown name,
    // duplicate PREPARE; DEALLOCATE frees the name
    val e1 = intercept[RuntimeException](g.query("execute big(1, 2)"))
    assert(e1.getMessage.contains("argument"), e1.getMessage)
    val e2 = intercept[RuntimeException](g.query("execute topn(1)"))
    assert(e2.getMessage.contains("argument"), e2.getMessage)
    g.query("prepare mixed as select 1 from nation where ? = $1")
    val e3 = intercept[RuntimeException](g.query("execute mixed(1, 1)"))
    assert(e3.getMessage.contains("mixes"), e3.getMessage)
    intercept[RuntimeException](g.query("execute nope(1)"))
    val e4 = intercept[RuntimeException](
      g.query("prepare big as select 1 from nation"))
    assert(e4.getMessage.contains("already exists"), e4.getMessage)
    assert(g.query("deallocate big").collect().head.getString(0)
      == "deallocated")
    intercept[RuntimeException](g.query("execute big(100000)"))
    g.query("prepare big as select count(*) as n from orders")
    assert(g.query("execute big").collect().head.getLong(0) > 0)
    intercept[RuntimeException](g.query("deallocate prepare ghost"))
  }

  test("COPY TO writes and COPY FROM appends, parquet roundtrip (r10)") {
    val g = fresh
    val tmp = java.nio.file.Files.createTempDirectory("graft_copy").toString
    // table form, extension-derived format
    val st = g.query(s"copy region to '$tmp/r.parquet'")
    assert(st.collect().head.getString(0) == "copied")
    // query form with explicit FORMAT
    g.query(s"copy (select n_nationkey, n_name from nation " +
      s"where n_regionkey = 0) to '$tmp/n_dir' (format parquet)")
    // read back through a typed empty table: COPY FROM appends lazily
    g.query("create table rx (r_regionkey int, r_name varchar)")
    g.query(s"copy rx from '$tmp/r.parquet'")
    val back = g.query("select * from rx order by r_regionkey").collect()
    val orig = g.query("select * from region order by r_regionkey").collect()
    assert(back.toSeq == orig.toSeq)
    // appends accumulate (same file twice = twice the rows)
    g.query(s"copy rx from '$tmp/r.parquet' (format parquet)")
    assert(g.query("select count(*) as n from rx").collect().head.getLong(0)
      == 2 * orig.length)
    g.query("create table nx (k bigint, nm varchar)")
    g.query(s"copy nx from '$tmp/n_dir' (format parquet)")
    assert(g.query("select count(*) as n from nx where nm is not null")
      .collect().head.getLong(0) > 0)
  }

  test("COPY/EXPORT/EXECUTE hardening (r11 advisory fixes)") {
    val g = fresh
    val tmp = java.nio.file.Files.createTempDirectory("graft_adv").toString
    // 1) COPY TO a path whose files back a registered lazy read fails
    //    loudly (graft's COPY FROM is lazy where DuckDB's is eager)
    g.query(s"copy region to '$tmp/r.parquet'")
    g.query("create table rr (r_regionkey int, r_name varchar)")
    g.query(s"copy rr from '$tmp/r.parquet'")
    val e1 = intercept[RuntimeException](
      g.query(s"copy nation to '$tmp/r.parquet'"))
    assert(e1.getMessage.contains("registered"), e1.getMessage)
    // prefix containment is caught both directions
    val e1b = intercept[RuntimeException](
      g.query(s"copy nation to '$tmp/r.parquet/sub.parquet'"))
    assert(e1b.getMessage.contains("registered"), e1b.getMessage)
    // ...including via a scheme-qualified respelling of the same
    // path (review r11: unqualified normPath let 'file://' bypass)
    val e1c = intercept[RuntimeException](
      g.query(s"copy nation to 'file://$tmp/r.parquet'"))
    assert(e1c.getMessage.contains("registered"), e1c.getMessage)
    // unrelated paths still write fine
    g.query(s"copy nation to '$tmp/n2.parquet'")
    // the wall follows the PLANS, not name bookkeeping (review r11
    // pass 2): a RENAMED table still reads the files — still walled
    g.query("alter table rr rename to rr2")
    val e1d = intercept[RuntimeException](
      g.query(s"copy nation to '$tmp/r.parquet'"))
    assert(e1d.getMessage.contains("rr2"), e1d.getMessage)
    // a DERIVED view keeps reading the files after its base drops
    g.query("create view rrv as select * from rr2")
    g.query("drop table rr2")
    val e1e = intercept[RuntimeException](
      g.query(s"copy nation to '$tmp/r.parquet'"))
    assert(e1e.getMessage.contains("rrv"), e1e.getMessage)
    // DROPping the LAST reader releases the wall (the error message's
    // own remedy must work)
    g.query("drop view rrv")
    g.query(s"copy nation to '$tmp/r.parquet'")
    // 2) reordered-but-name-matching parquet binds BY NAME, not
    //    positionally (no silent null-fill through assignment casts)
    g.query(s"copy (select r_name, r_regionkey from region) " +
      s"to '$tmp/swapped.parquet'")
    g.query("create table rs (r_regionkey int, r_name varchar)")
    g.query(s"copy rs from '$tmp/swapped.parquet'")
    val rows = g.query("select * from rs order by r_regionkey").collect()
    assert(rows.length == 5 && rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      rows.mkString(","))
    // 3) a $n placeholder inside a -- comment neither substitutes nor
    //    counts toward the arity check
    g.query("prepare pc as select n_nationkey from nation -- hide $2\n" +
      "where n_nationkey = $1")
    assert(g.query("execute pc(3)").collect()
      .map(_.getAs[Number](0).longValue).toSeq == Seq(3L))
    // 4) self-recursive prepared statements fail loudly, not
    //    StackOverflowError
    g.query("prepare loopy as execute loopy")
    val e4 = intercept[RuntimeException](g.query("execute loopy"))
    assert(e4.getMessage.contains("recursion"), e4.getMessage)
    // ...and the depth counter unwinds: normal EXECUTE still works
    assert(g.query("execute pc(3)").collect().length == 1)
    // 5) EXPORT DATABASE refuses table names that would escape the
    //    export directory or corrupt the manifest
    val h = new Graft(spark)
    h.query("create table safe as select * from (values (1)) t(k)")
    h.registerTable("evil/../name", h.query("select k from safe"))
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_adv2").toString
    val e5 = intercept[RuntimeException](
      h.query(s"export database '$tmp2'"))
    assert(e5.getMessage.contains("cannot name"), e5.getMessage)
  }

  test("COPY csv honors HEADER/DELIMITER; walls are loud (r10)") {
    val g = fresh
    val tmp = java.nio.file.Files.createTempDirectory("graft_copyc").toString
    g.query(s"copy (select n_nationkey, n_name from nation) " +
      s"to '$tmp/n.csv' (format csv, delimiter '|')")
    g.query("create table nc (n_nationkey bigint, n_name varchar)")
    g.query(s"copy nc from '$tmp/n.csv' (format csv, delimiter '|')")
    val back = g.query("select * from nc order by n_nationkey").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1)))
    val orig = g.query("select n_nationkey, n_name from nation " +
      "order by n_nationkey").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1)))
    assert(back.toSeq == orig.toSeq)
    // loud walls: unknown option, formatless path, format-specific
    // options on non-csv, arity mismatch, unknown table
    val e1 = intercept[RuntimeException](
      g.query(s"copy region to '$tmp/x.parquet' (compression zstd)"))
    assert(e1.getMessage.contains("option not supported"), e1.getMessage)
    val e2 = intercept[RuntimeException](
      g.query(s"copy region to '$tmp/outdir'"))
    assert(e2.getMessage.contains("FORMAT"), e2.getMessage)
    val e3 = intercept[RuntimeException](
      g.query(s"copy region to '$tmp/y.parquet' (format parquet, header)"))
    assert(e3.getMessage.contains("CSV only"), e3.getMessage)
    g.query("create table one_col (x bigint)")
    g.query(s"copy (select n_nationkey, n_name from nation) " +
      s"to '$tmp/two.parquet'")
    val e4 = intercept[RuntimeException](
      g.query(s"copy one_col from '$tmp/two.parquet'"))
    assert(e4.getMessage.contains("columns"), e4.getMessage)
    intercept[RuntimeException](g.query(s"copy nope to '$tmp/z.parquet'"))
    // CSV reads with the TARGET schema under FAILFAST: a column-count
    // mismatch throws at read time (lazily), never null-fills
    g.query(s"copy one_col from '$tmp/n.csv' (format csv, delimiter '|')")
    intercept[Exception](g.query("select * from one_col").collect())
    g.query("drop table one_col")
    // JSON binds BY NAME: matching keys roundtrip through json files
    g.query(s"copy (select n_nationkey, n_name from nation) " +
      s"to '$tmp/n.json' (format json)")
    g.query("create table nj (n_nationkey bigint, n_name varchar)")
    g.query(s"copy nj from '$tmp/n.json'")
    assert(g.query("select count(*) as n from nj where n_name is not null")
      .collect().head.getLong(0) == orig.length)
    // COPY (query) must be followed by TO
    val e5 = intercept[RuntimeException](
      g.query(s"copy (select 1 as x from region) into '$tmp/z.parquet'"))
    assert(e5.getMessage.contains("TO"), e5.getMessage)
  }

  test("RETURNING yields the affected rows (r11b)") {
    val g = fresh
    g.query("create table t (id bigint, v varchar, n bigint)")
    // INSERT ... RETURNING: the assignment-cast inserted rows
    val ins = g.query(
      "insert into t values (1, 'a', 10), (2, 'b', 20) returning id, v, n * 2 as n2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(ins.toSeq == Seq((1L, "a", 20L), (2L, "b", 40L)), ins.mkString(","))
    // column-list INSERT: unlisted columns read NULL in the returned row
    val ins2 = g.query(
      "insert into t (id, n) values (3, 30) returning id, v, n")
      .collect().head
    assert(ins2.getLong(0) == 3L && ins2.isNullAt(1) && ins2.getLong(2) == 30L)
    // UPDATE ... RETURNING: POST-update values, only affected rows
    val upd = g.query(
      "update t set n = n + 1 where id <= 2 returning id, n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(upd.toSeq == Seq((1L, 11L), (2L, 21L)), upd.mkString(","))
    assert(g.query("select n from t where id = 3").collect()
      .head.getLong(0) == 30L) // untouched row really untouched
    // target-qualified and star expressions work; alias binds
    val updA = g.query(
      "update t as x set n = 0 where x.id = 3 returning x.*")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(updA.toSeq == Seq((3L, null, 0L)), updA.mkString(","))
    // DELETE ... RETURNING: the deleted (pre-delete) rows
    val del = g.query("delete from t where n = 0 returning id, v, n")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(del.toSeq == Seq((3L, 0L)))
    assert(g.query("select count(*) as c from t").collect()
      .head.getLong(0) == 2L) // the delete itself applied
    // DELETE ... USING ... RETURNING: target rows with a match
    g.query("create table s (id bigint)")
    g.query("insert into s values (1)")
    val delU = g.query(
      "delete from t using s where t.id = s.id returning t.id")
      .collect().map(_.getLong(0))
    assert(delU.toSeq == Seq(1L))
    assert(g.query("select id from t").collect().map(_.getLong(0))
      .toSeq == Seq(2L))
    // a string literal containing 'returning' must not split
    g.query("update t set v = ' returning x ' where id = 2")
    assert(g.query("select v from t where id = 2").collect()
      .head.getString(0) == " returning x ")
    // loud walls
    val e1 = intercept[RuntimeException](g.query(
      "insert into t values (9, 'z', 1) on conflict (id) do nothing returning id"))
    assert(e1.getMessage.contains("ON CONFLICT"), e1.getMessage)
    val e2 = intercept[RuntimeException](g.query(
      "update t set n = 1 from s where t.id = s.id returning t.id"))
    assert(e2.getMessage.contains("UPDATE ... FROM"), e2.getMessage)
    val e3 = intercept[RuntimeException](g.query(
      "delete from t where id = 2 returning "))
    assert(e3.getMessage.contains("RETURNING"), e3.getMessage)
  }

  test("CREATE MACRO: scalar, defaults, nesting, aggregates (r11c)") {
    val g = fresh
    g.query("create macro disc(p, d := 0.1) as p * (1 - d)")
    g.query("create macro dd(p) as disc(p, 0.2) + 1")
    g.query("create macro avg2(x) as sum(x) / count(x)")
    assert(g.macroNames == Set("disc", "dd", "avg2"))
    // default fills the omitted trailing argument
    val r = g.query(
      "select disc(100.0) as a, disc(100.0, 0.5) as b, dd(100.0) as c " +
        "from region limit 1").collect().head
    assert(r.getDouble(0) == 90.0 && r.getDouble(1) == 50.0 &&
      r.getDouble(2) == 81.0)
    // aggregate body plans as a REAL aggregate (group-by works)
    val a = g.query("select r_regionkey % 2 as k, avg2(r_regionkey) as a " +
        "from region group by 1 order by 1")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(a == Map(0L -> 2.0, 1L -> 2.0)) // (0+2+4)/3, (1+3)/2
    // macros expand inside WHERE / subqueries / macro arguments
    val n = g.query("select count(*) as n from orders " +
        // UNALIASED inner item: its generated name carries dots —
        // pins the positional-rename fix in the scalar lowering
        "where disc(o_totalprice, 0.0) > (select disc(300000.0) from region limit 1)")
      .collect().head.getLong(0)
    val direct = g.query("select count(*) as n from orders " +
        "where o_totalprice > 270000").collect().head.getLong(0)
    assert(n == direct && n > 0)
    // capture-freedom: an ARGUMENT naming another parameter is never
    // re-substituted (f(a, b) = a + b called with the real column d)
    g.query("create macro psum(a, b) as a + b")
    val cf = g.query("select psum(o_totalprice, 1) as s, o_totalprice " +
        "from orders limit 1").collect().head
    assert(cf.getDouble(0) == cf.getDouble(1) + 1)
    // OR REPLACE swaps the body; plain CREATE refuses
    val e1 = intercept[RuntimeException](
      g.query("create macro disc(x) as x"))
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    g.query("create or replace macro disc(p) as p * 2")
    assert(g.query("select disc(21.0) as x from region limit 1")
      .collect().head.getDouble(0) == 42.0)
    // DROP MACRO removes; IF EXISTS tolerates absence
    g.query("drop macro dd")
    assert(!g.macroNames.contains("dd"))
    intercept[RuntimeException](g.query("drop macro dd"))
    g.query("drop macro if exists dd")
    // walls: recursion, arity, non-trailing defaults, builtin shadow
    g.query("create macro rec(x) as rec(x) + 1")
    val e2 = intercept[RuntimeException](
      g.query("select rec(1) as x from region"))
    assert(e2.getMessage.contains("depth"), e2.getMessage)
    val e3 = intercept[RuntimeException](
      g.query("select disc(1, 2, 3) as x from region"))
    assert(e3.getMessage.contains("argument"), e3.getMessage)
    val e4 = intercept[RuntimeException](
      g.query("create macro bad(a := 1, b) as a + b"))
    assert(e4.getMessage.contains("defaults must come last"), e4.getMessage)
    val e5 = intercept[RuntimeException](
      g.query("create macro generate_series(n) as n"))
    assert(e5.getMessage.contains("shadows"), e5.getMessage)
    // builtin SCALAR functions may not be shadowed either (r12,
    // DuckDB-compatible): a macro named coalesce would silently
    // rewrite every matching-arity coalesce call in the session
    for (bad <- Seq("coalesce", "abs", "filter", "named_struct",
        "array", "transform",
        // r12 review: dialect-case names ABSENT from Spark's registry
        // must be reserved too, else the macro silently disables the
        // translator's builtin lowering session-wide
        "list_sort", "strftime", "date_diff", "list_has_all")) {
      val eb = intercept[RuntimeException](
        g.query(s"create macro $bad(a, b) as b"))
      assert(eb.getMessage.contains("shadows"), s"$bad: ${eb.getMessage}")
    }
    // a QUOTED macro name that is not a parseable identifier must not
    // crash the registry probe (functionExists rethrows ParseException
    // for such names; they can never collide — call sites parse plain
    // identifiers)
    g.query("""create macro "odd name"(x) as x * 2""")
    assert(g.macroNames.contains("odd name"))
    // a macro body hiding random() still evaluates a simple-CASE
    // comparand ONCE (r12 review: unknown function names take the
    // single-evaluation binding — expansion happens inside it)
    g.query("create macro coin2() as cast(floor(random() * 2) as int)")
    val rows = g.query(
      """select case coin2() when 0 then 'lo' when 1 then 'hi'
           else 'neither' end as v
         from orders limit 4000""").collect()
    assert(rows.forall(x => x.getString(0) == "lo" || x.getString(0) == "hi"))
    // parameter DEFAULTS are macro-expanded (r12): a default that
    // calls another macro binds its expanded body, like DuckDB
    g.query("create macro gdflt(x) as x * 2")
    g.query("create macro fdflt(a, b := gdflt(3)) as a + b")
    assert(g.query("select fdflt(1) as x from region limit 1")
      .collect().head.getAs[Number](0).longValue == 7L)
    // a parameter with NO default and no argument is loud
    g.query("create macro need2(a, b) as a + b")
    val e6 = intercept[RuntimeException](
      g.query("select need2(1) as x from region"))
    assert(e6.getMessage.contains("no default"), e6.getMessage)
    // lambda params SHADOW same-named macro params in their body:
    // the x inside the lambda is the element, not the argument
    g.query("create macro bump(x) as transform(x, x -> x + 1)")
    val lr = g.query("select bump([10, 20]) as v from region limit 1")
      .collect().head.getSeq[Any](0).map(_.toString.toLong)
    assert(lr == Seq(11L, 21L), lr.toString)
  }

  test("CREATE MACRO ... AS TABLE: table macros in FROM position (r11c)") {
    val g = fresh
    // parameters substitute anywhere an EXPRESSION goes (LIMIT/OFFSET
    // are structural integers in the AST, not expressions — a macro
    // param there is a parse error at CREATE, like a view would be)
    g.query("create macro topn(minp) as table " +
      "select o_orderkey, o_totalprice from orders " +
      "where o_totalprice > minp " +
      "order by o_totalprice desc, o_orderkey limit 5")
    val got = g.query("select t.o_orderkey from topn(100000) t")
      .collect().map(_.getLong(0)).toSet
    val want = g.query("select o_orderkey from orders " +
        "where o_totalprice > 100000 " +
        "order by o_totalprice desc, o_orderkey limit 5")
      .collect().map(_.getLong(0)).toSet
    assert(got == want && got.size == 5)
    // table macros join and take the default alias (their own name)
    g.query("create macro okeys() as table select o_orderkey as k from orders")
    val n = g.query("select count(*) as n from topn(100000) t " +
        "join okeys() on okeys.k = t.o_orderkey")
      .collect().head.getLong(0)
    assert(n == 5)
    // walls: scalar macro in FROM, table macro in scalar position,
    // unknown FROM-position name
    g.query("create macro sc(x) as x + 1")
    val e1 = intercept[RuntimeException](
      g.query("select * from sc(1) t"))
    assert(e1.getMessage.contains("TABLE macro"), e1.getMessage)
    val e2 = intercept[RuntimeException](
      g.query("select okeys() as x from region"))
    assert(e2.getMessage.contains("FROM position"), e2.getMessage)
    val e3 = intercept[RuntimeException](
      g.query("select * from no_such_fn(1) t"))
    assert(e3.getMessage.contains("unknown table function"), e3.getMessage)
  }

  test("SET / RESET session configuration statements (r12)") {
    val g = fresh
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    try {
      g.query(s"set $key = 12345678")
      assert(spark.conf.get(key) == "12345678")
      // PostgreSQL TO spelling + quoted value unwrap
      g.query(s"set $key to '23456789'")
      assert(spark.conf.get(key) == "23456789")
      g.query(s"reset $key")
      assert(spark.conf.get(key) == before ||
        spark.conf.get(key) != "23456789")
      // a mid-script SET reshapes later statements (session-global)
      val out = g.runScript(
        s"""set spark.sql.shuffle.partitions = 7;
           select count(*) as n from orders""")
      assert(out.collect().head.getLong(0) > 0)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
      // Spark rejects static keys loudly — the wall is Spark's own
      intercept[Exception](g.query("set spark.sql.warehouse.dir = '/x'"))
    } finally {
      spark.conf.set(key, before)
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("runScript: top-level ';' split, last frame returned (r11c)") {
    val g = fresh
    val out = g.runScript(
      """create macro thr() as 100000; -- macros compose in scripts
         create view sv as select o_orderkey from orders
           where o_totalprice > thr();
         -- a comment; with 'a quote and a ; semicolon
         select count(*) as n from sv;""")
    val direct = g.query("select count(*) as n from orders " +
      "where o_totalprice > 100000").collect().head.getLong(0)
    assert(out.collect().head.getLong(0) == direct && direct > 0)
    // a ';' inside a string literal never splits
    val s2 = g.runScript("select 'a;b' as v from region limit 1")
    assert(s2.collect().head.getString(0) == "a;b")
    // a ';' (or unbalanced paren) inside a DOUBLE-QUOTED identifier
    // never splits either (r12: splitTop tracks quoted identifiers,
    // mirroring stripLineComments)
    val s2b = g.runScript(
      """select r_name as "a;(b" from region limit 1;
         select r_regionkey as "x;y" from region order by 1 limit 1""")
    assert(s2b.columns.toSeq == Seq("x;y"))
    assert(s2b.collect().head.getAs[Number](0).longValue == 0L)
    // empty scripts and comment-only scripts are loud
    intercept[RuntimeException](g.runScript("  -- nothing here\n  "))
    // statements run IN ORDER: later ones see earlier registrations
    val s3 = g.runScript(
      "create table t_sc as select 1 as x from region limit 1;" +
        "insert into t_sc values (2); select count(*) as n from t_sc")
    assert(s3.collect().head.getLong(0) == 2L)
  }

  test("statement text is tokenized: comments, quoted refs, quoted parens, final ';'") {
    val g = new Graft(spark)
    def reset(): Unit = {
      g.query("create or replace view t as select * from (values " +
        "(1, 'a', 10), (2, 'b', 20)) x(id, v, n)")
      g.query("create or replace view s as select * from (values " +
        "(2, 'B', 200)) x(id, v, n)")
    }
    def rows(sql: String): Seq[String] =
      g.query(sql).collect().map(_.toSeq.mkString(",")).sorted.toSeq
    // a trailing comment neither splits the statement nor swallows the
    // text the rewrite appends after it
    for ((commented, plain, want) <- Seq(
        ("insert into t values (3,'c',30) -- returning id\n",
          "insert into t values (3,'c',30)",
          Seq("1,a,10", "2,b,20", "3,c,30")),
        ("delete from t where id = 1 -- or id = 2\n",
          "delete from t where id = 1", Seq("2,b,20")),
        ("update t set v = 'x' -- where id = 1\nwhere id = 2",
          "update t set v = 'x' where id = 2", Seq("1,a,10", "2,x,20")))) {
      reset(); g.query(plain)
      assert(rows("select * from t") == want, plain)
      reset(); g.query(commented)
      assert(rows("select * from t") == want, commented)
    }
    // quoted qualified keys read like the bare ones
    reset()
    g.query("merge into t using s on t.id = s.id " +
      "when matched then update set n = s.n")
    val bare = rows("select id, n from t")
    assert(bare == Seq("1,10", "2,200"))
    reset()
    g.query("""merge into t using s on t."id" = s."id" """ +
      "when matched then update set n = s.n")
    assert(rows("select id, n from t") == bare)
    // a paren inside a quoted identifier of a USING subquery
    reset()
    g.query("""merge into t using (select id, n as "n)" from s) x """ +
      """on t.id = x.id when matched then update set n = x."n)"""")
    assert(rows("select id, n from t") == bare)
    assert(!g.tableNames.contains("__merge_using_sub"))
    // a final ';' on a plain query
    assert(rows("select id from t;") == Seq("1", "2"))
  }

  test("statements are comment- and whitespace-invariant (seeded metamorphic)") {
    // after seeded whitespace runs between tokens (outside quotes),
    // inserts a `-- c` line or blank lines; always starts with a
    // seeded insertion and ends on a comment
    val Piece = """'[^']*'|"[^"]*"|\s+""".r
    def perturb(rnd: scala.util.Random)(sql: String): String = {
      def extra() = if (rnd.nextBoolean()) "-- c\n" else "\n\n"
      val body = Piece.replaceAllIn(sql, m => scala.util.matching.Regex
        .quoteReplacement(
          if (m.matched.head.isWhitespace && rnd.nextInt(3) == 0)
            m.matched + extra()
          else m.matched))
      (if (rnd.nextBoolean()) extra() else "") + body +
        (if (rnd.nextBoolean()) " -- c;" else " -- c\n")
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    def table(g: Graft) = rows(g.query("select * from t"))
    // each form runs its statements through `p` and reports what it
    // changed: the target table and/or the returned frame
    val forms: Seq[(String, (Graft, String => String) => Seq[String])] = Seq(
      "insert cols" -> { (g, p) =>
        g.query(p("insert into t (id, n) values (4, 40), (5, 50)")); table(g) },
      "insert on conflict" -> { (g, p) =>
        g.query(p("insert into t values (2, 'B', 200), (6, 'f', 60) " +
          "on conflict (id) do update set v = excluded.v, n = t.n + excluded.n"))
        table(g) },
      "insert returning" -> { (g, p) =>
        rows(g.query(p("insert into t values (7, 'g', 70) " +
          "returning id, n * 2 as n2"))) ++ table(g) },
      "update" -> { (g, p) =>
        g.query(p("update t set v = 'x', n = n + 1 where id >= 2")); table(g) },
      "update from" -> { (g, p) =>
        g.query(p("update t set v = s.v, n = t.n + s.n from s " +
          "where t.id = s.id and s.n > 100")); table(g) },
      "delete using subquery" -> { (g, p) =>
        g.query(p("delete from t using (select id from s where n > 100) x " +
          "where t.id = x.id")); table(g) },
      "merge with residuals" -> { (g, p) =>
        g.query(p("""merge into t using s on t.id = s.id and s.n > 100
                     when matched and s.v <> 'none' then update set n = s.n
                     when not matched then insert (id, v, n) values (s.id, s.v, s.n)
                     when not matched by source then update set n = n + 1"""))
        table(g) },
      "copy query to" -> { (g, p) =>
        val dir = java.nio.file.Files.createTempDirectory("graft_meta").toString
        g.query(p(s"copy (select id, v from t where n > 15) to '$dir/c.parquet' " +
          "(format parquet)"))
        rows(g.query(s"select * from read_parquet('$dir/c.parquet')")) },
      "prepare / execute" -> { (g, p) =>
        g.query(p("prepare p1 as select id from t where n > $1 and id <> $2"))
        g.query(p("prepare p2 as select v from t where id = ? or id = ?"))
        rows(g.query(p("execute p1(15, 3)"))) ++
          rows(g.query(p("execute p2(1, 2 + 1)"))) },
      "create macro" -> { (g, p) =>
        g.query(p("create macro m(a, b := 10) as a * b + 1"))
        rows(g.query(p("select id, m(n) as x, m(n, 2) as y from t"))) },
      "script" -> { (g, p) =>
        rows(g.runScript(p("""create view w as select id, n from t where n > 10;
          insert into t values (9, 'z', 90);
          select count(*) as c, sum(n) as s from w;"""))) },
      "merge on between" -> { (g, p) =>
        g.query(p("merge into t using s on t.id = s.id and s.n between 1 and 500 " +
          "when matched then update set n = s.n")); table(g) },
      "merge set case when" -> { (g, p) =>
        g.query(p("merge into t using s on t.id = s.id when matched then " +
          "update set n = case when s.n > 100 then s.n else t.n end")); table(g) },
      "update from set case when" -> { (g, p) =>
        g.query(p("update t set n = case when id = 2 then 0 else n end " +
          "from s where t.id = s.id")); table(g) },
      "quoted ')' column lists" -> { (g, p) =>
        g.query(p("""create table q1 ("a)b" bigint, c bigint)"""))
        g.query(p("""insert into q1 ("a)b", c) values (1, 2)"""))
        g.query(p("""merge into q1 using s on q1.c = s.id
                     when not matched then insert ("a)b", c) values (s.n, s.id)"""))
        rows(g.query("select * from q1")) },
      "insert with" -> { (g, p) =>
        g.query(p("insert into t with z as (select id + 10 as id, v, n from s) " +
          "select * from z")); table(g) })
    val rnd = new scala.util.Random(20261018)
    forms.foreach { case (name, run) =>
      def fresh(): Graft = {
        val g = new Graft(spark)
        g.query("create view t as select * from (values " +
          "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30)) x(id, v, n)")
        g.query("create view s as select * from (values " +
          "(2, 'B', 200), (3, 'C', 5), (4, 'D', 400)) x(id, v, n)")
        g
      }
      val want = run(fresh(), identity)
      for (_ <- 1 to 2) {
        val seen = Seq.newBuilder[String]
        val p = (sql: String) => { val x = perturb(rnd)(sql); seen += x; x }
        val got =
          try run(fresh(), p)
          catch { case e: Exception =>
            fail(s"$name: ${e.getMessage}\n${seen.result().mkString("\n---\n")}") }
        assert(got == want, s"$name\n${seen.result().mkString("\n---\n")}")
      }
    }
  }

  test("MERGE ON BETWEEN, CASE WHEN in SET lists, quoted ')' column lists") {
    val g = new Graft(spark)
    def reset(): Unit = {
      g.query("create or replace view t as select * from (values " +
        "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30)) x(id, v, n)")
      g.query("create or replace view s as select * from (values " +
        "(2, 'B', 200), (3, 'C', 5), (4, 'D', 900)) x(id, v, n)")
    }
    def rows(sql: String): Seq[String] =
      g.query(sql).collect().map(_.toSeq.mkString(",")).sorted.toSeq
    // BETWEEN's AND inside an ON residual is not a conjunct boundary
    reset()
    g.query("merge into t using s on t.id = s.id and s.n between 1 and 500 " +
      "when matched then update set n = s.n")
    assert(rows("select id, n from t") == Seq("1,10", "2,200", "3,5"))
    // CASE WHEN inside a MERGE SET value is not a WHEN clause
    reset()
    g.query("merge into t using s on t.id = s.id when matched then " +
      "update set n = case when s.n > 100 then s.n else t.n end")
    assert(rows("select id, n from t") == Seq("1,10", "2,200", "3,30"))
    // ... nor inside an UPDATE ... FROM SET value
    reset()
    g.query("update t set n = case when id = 2 then 0 else n end " +
      "from s where t.id = s.id")
    assert(rows("select id, n from t") == Seq("1,10", "2,0", "3,30"))
    // a quoted column name holding ')' in INSERT and MERGE column lists
    g.query("""create table q1 ("a)b" bigint, c bigint)""")
    g.query("""insert into q1 ("a)b", c) values (1, 2)""")
    g.query("""merge into q1 using s on q1.c = s.id
               when not matched then insert ("a)b", c) values (s.n, s.id)""")
    assert(rows("select * from q1") == Seq("1,2", "5,3", "900,4"))
  }

  test("INSERT ... WITH, and a source's ORDER BY / LIMIT bind to the source") {
    val g = new Graft(spark)
    g.query("create table t as select * from (values (1, 'a')) x(id, v)")
    g.query("insert into t with z as (select id + 10 as id, upper(v) as v from t) " +
      "select * from z")
    g.query("insert into t (v, id) with z as (select 'q' as v from t limit 1) " +
      "select v, 7 from z")
    // the new rows are the source query's rows: its LIMIT does not cut
    // the table's existing rows
    g.query("insert into t select id + 100, v from t order by id desc limit 1")
    assert(g.query("select * from t").collect().map(_.toSeq.mkString(","))
      .sorted.toSeq == Seq("1,a", "11,A", "111,A", "7,q"))
  }

  test("statements leave the registry as it was, plus or minus their target") {
    // user tables named like intermediate frames of the statement
    // layer must neither be shadowed for good nor dropped
    val reservedLike = Seq("__upd_src", "__upd_from_sub", "__returning_src",
      "__merge_t", "__merge_src_s", "__merge_using_sub", "__merge_keys_t",
      "__merge_keys_s", "__merge_mflag", "__merge_ins_src", "__merge_ins_tgt",
      "__del_using_sub", "__ins_conflict_src")
    val dir = java.nio.file.Files.createTempDirectory("graft_hyg").toString
    val forms: Seq[(String, String)] = Seq(
      "t" -> "insert into t values (5, 'e', 50)",
      "t" -> "insert into t (id) select id + 100 from s",
      "t" -> "insert into t values (2, 'x', 1) on conflict (id) do update set n = excluded.n",
      "t" -> "insert into t values (6, 'f', 60) returning id",
      "t" -> "update t set n = n + 1 where id = 1",
      "t" -> "update t set n = 0 where id = 2 returning id, n",
      "t" -> "update t set n = s.n from s where t.id = s.id and s.n > 0",
      "t" -> "update t set n = x.n from (select id, n from s) x where t.id = x.id",
      "t" -> "delete from t where id = 1",
      "t" -> "delete from t where id = 1 returning id",
      "t" -> "delete from t using s where t.id = s.id and s.n > 100",
      "t" -> "delete from t using (select id from s) x where t.id = x.id",
      "t" -> """merge into t using s on t.id = s.id
                when matched then update set n = s.n
                when not matched then insert *""",
      "t" -> """merge into t using s on t.id = s.id and s.n > 100
                when not matched by source then update set n = 0""",
      "t" -> """merge into t using s on t.id = s.id and s.n > 100
                when not matched then insert *""",
      "t" -> """merge into t using (select * from s) x on t.id = x.id
                when matched then delete""",
      "" -> s"copy (select * from t) to '$dir/t.parquet'",
      "v1" -> "create view v1 as select * from t",
      "t2" -> "create table t2 as select * from t",
      "t3" -> "create table t3 (a bigint)",
      "t" -> "alter table t add column w double",
      "t" -> "truncate table t")
    for ((target, stmt) <- forms) {
      val g = new Graft(spark)
      g.query("create view t as select * from (values " +
        "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30)) x(id, v, n)")
      g.query("create view s as select * from (values " +
        "(2, 'B', 200), (3, 'C', 5), (4, 'D', 400)) x(id, v, n)")
      reservedLike.foreach(n => g.query(s"create view $n as select '$n' as who from s"))
      val before = g.tableNames
      g.query(stmt)
      assert(g.tableNames -- Set(target) == before -- Set(target), stmt)
      val whos = reservedLike.map(n => s"select who from $n")
      assert(g.query(whos.mkString(" union all ")).collect().map(_.getString(0))
        .toSet == reservedLike.toSet, stmt)
    }
  }

  test("generate_series / range series generators (r11c)") {
    val g = fresh
    def longs(sql: String): Seq[Long] =
      g.query(sql).collect().map(_.getLong(0)).toSeq
    // generate_series is end-INCLUSIVE, range end-EXCLUSIVE (DuckDB)
    assert(longs("select g.generate_series from generate_series(1, 5) g " +
      "order by 1") == Seq(1L, 2L, 3L, 4L, 5L))
    assert(longs("select r.range from range(1, 5) r order by 1") ==
      Seq(1L, 2L, 3L, 4L))
    // 1-arg forms start at 0; steps, negative steps, empty direction
    assert(longs("select g.generate_series from generate_series(3) g " +
      "order by 1") == Seq(0L, 1L, 2L, 3L))
    assert(longs("select r.range from range(3) r order by 1") ==
      Seq(0L, 1L, 2L))
    assert(longs("select g.generate_series from generate_series(0, 10, 5) g " +
      "order by 1") == Seq(0L, 5L, 10L))
    assert(longs("select g.generate_series from generate_series(5, 1, -2) g " +
      "order by 1") == Seq(1L, 3L, 5L))
    assert(longs("select r.range from range(5, 1, -2) r order by 1") ==
      Seq(3L, 5L))
    assert(longs("select g.generate_series from generate_series(5, 1) g") ==
      Seq.empty)
    // walls: zero step, non-literal bounds
    val e1 = intercept[RuntimeException](
      g.query("select * from range(1, 5, 0) r"))
    assert(e1.getMessage.contains("nonzero"), e1.getMessage)
    val e2 = intercept[RuntimeException](
      g.query("select * from range(1, r_regionkey) r"))
    assert(e2.getMessage.contains("integer literals"), e2.getMessage)
  }
}
